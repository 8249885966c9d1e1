package graft.streaming

import graft.SparkSpec
import graft.queries.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class LabVecRow(vec_id: Long, embedding: Seq[Float], label: Int)

/** Incremental index maintenance (round-18): per-micro-batch appends to
  * the PERSISTED q180 index must grow it to exactly the tree the batch
  * writer would produce — same rows, same manifest counts/checksum, same
  * served top-k — and every failure mode of the append path (torn
  * append, lost file, in-flight stage) must be caught by the manifest
  * gate, not served. This closes the plan→artifact gap the round-17
  * verdict named: the twin used to serve from an in-memory model while
  * the written index stayed immutable.
  */
class StreamingAnnAppendSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val split = 30L

  // built once by the first test, inspected (and finally doctored) by the
  // failure-mode tests — ScalaTest runs a suite's tests in order
  private var indexPath: String = _

  test("streamed per-batch appends grow the persisted index to exactly " +
    "the batch writer's tree (rows, manifest count + checksum), and " +
    "serving from it equals batch q180") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = SimilarityOps.annModel(spark, sfDir)
    val full = SimilarityOps.annIndexLists(spark, sfDir)

    // day 0: a partial index published by the batch writer
    val root = graft.Staging.scratchDir("graft_annappend_")
    val (path, n0, _) = SimilarityOps.writeAnnIndex(spark,
      full.filter(col("neighbor_id") < split), root,
      SimilarityOps.annModelFp(spark, sfDir))
    indexPath = path
    assert(n0 > 0 && n0 < full.count())

    // days 1..3: the rest of the corpus arrives as a REAL stream, each
    // micro-batch appended through the foreachBatch ingest
    val arrivals = graft.Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") >= split)
      .select(col("vec_id"), col("embedding"),
        col("label").cast("int").as("label"))
      .as[LabVecRow].collect().sortBy(_.vec_id)
    assert(arrivals.nonEmpty)
    val in = MemoryStream[LabVecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingAnn.appendBatch(b, "vec_id", m, path, id); ()
      }.start()
    try {
      arrivals.grouped(math.max(1, (arrivals.length + 2) / 3)).foreach {
        b => in.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()

    // exactly-once under at-least-once delivery: re-delivering an
    // already-committed micro-batch (same batchId — foreachBatch's
    // failure-replay contract) is a NO-OP, and a stale id is too
    import spark.implicits._
    val manifest = SimilarityOps.readAnnManifest(spark, path)
    val lastId = SimilarityOps.readAnnLastBatch(spark, path)
    assert(lastId >= 0L, "the streamed appends must advance the watermark")
    val replay = arrivals.takeRight(3).toSeq.toDF()
    assert(StreamingAnn.appendBatch(replay, "vec_id", m, path,
      lastId) == manifest, "a replayed batch must be a no-op")
    assert(StreamingAnn.appendBatch(replay, "vec_id", m, path,
      0L) == manifest, "a stale batch id must be a no-op")
    assert(spark.read.schema(SimilarityOps.annIndexSchema).parquet(path)
      .count() == manifest._1,
      "replays must not add rows to the tree")

    // the grown tree holds EXACTLY the batch writer's content
    def rowSet(df: DataFrame) =
      df.collect().map(_.toSeq).toSet
    val written = spark.read.schema(SimilarityOps.annIndexSchema)
      .parquet(path)
    assert(rowSet(written) == rowSet(full),
      "appended tree must equal the batch-encoded lists row-for-row")

    // the manifest is exact — and IDENTICAL to what the batch writer
    // records for the same content (count + order-independent checksum)
    val (nV, chkV) = SimilarityOps.verifyAnnIndex(spark, path)
    val (_, nB, chkB) = SimilarityOps.annIndexFiles(spark, sfDir)
    assert((nV, chkV) == (nB, chkB),
      s"incremental manifest ($nV, $chkV) must equal the batch " +
        s"writer's ($nB, $chkB) on identical content")

    // served-top-k from the incrementally grown tree ≡ batch q180
    val queries = graft.Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    val served = StreamingAnn.serveTopK(queries, "vec_id", written, m)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val q180 = graft.SparkEntry.queries("q180_ann_index_write")(
        spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(served == q180,
      s"serving from the appended index drifted: " +
        s"${(served -- q180).take(3)} vs ${(q180 -- served).take(3)}")
  }

  test("an in-flight append stage (underscore dir) is invisible to " +
    "readers and does not disturb verification") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new Path(indexPath, "_append_stray")
    fs.mkdirs(stray)
    val out = fs.create(new Path(stray, "garbage.bin"), true)
    out.write(Array.fill[Byte](64)(0x5a)); out.close()
    try {
      // the parquet reader never sees underscore-prefixed paths, so the
      // half-written batch can't leak into a serve or fail the gate
      SimilarityOps.verifyAnnIndex(spark, indexPath)
    } finally fs.delete(stray, true)
  }

  test("a torn append — list files landed, manifest not updated — fails " +
    "verification loud, and removing the uncommitted files heals it") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = new Path(indexPath)
    val fs = idx.getFileSystem(conf)
    val cidDir = fs.listStatus(idx)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .head.getPath
    val part = fs.listStatus(cidDir)
      .filter(st => !st.getPath.getName.startsWith("_")).head.getPath
    val dup = new Path(cidDir, "part-torn-append.parquet")
    FileUtil.copy(fs, part, fs, dup, false, conf)
    val torn = intercept[IllegalStateException] {
      SimilarityOps.verifyAnnIndex(spark, indexPath)
    }
    assert(torn.getMessage.contains("fails verification"))
    fs.delete(dup, false)
    SimilarityOps.verifyAnnIndex(spark, indexPath) // healed
  }

  test("a torn append SELF-HEALS on replay: the re-delivered batch " +
    "sweeps its own uncommitted b<id>- files before appending, and the " +
    "tree verifies green after") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = new Path(indexPath)
    val fs = idx.getFileSystem(conf)
    val m = SimilarityOps.annModel(spark, sfDir)
    val nextId = SimilarityOps.readAnnLastBatch(spark, indexPath) + 1
    // simulate the crash: a prior attempt at batch `nextId` moved one
    // file into a list dir and died before the manifest commit
    val cidDir = fs.listStatus(idx)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .head.getPath
    val donor = fs.listStatus(cidDir)
      .filter(st => !st.getPath.getName.startsWith("_")).head.getPath
    val orphan = new Path(cidDir, s"b$nextId-torn.parquet")
    FileUtil.copy(fs, donor, fs, orphan, false, conf)
    intercept[IllegalStateException] {
      SimilarityOps.verifyAnnIndex(spark, indexPath) // torn: refuses
    }
    // the replay arrives (same batchId, fresh rows): it must sweep the
    // orphan, append cleanly, and leave a verifying tree
    val replayRows = (90001L to 90005L)
      .map(id => LabVecRow(id, Seq.tabulate(64)(i =>
        ((id * 13 + i * 7) % 17 - 8) / 8.0f), 1))
    val (n2, _) = StreamingAnn.appendBatch(
      replayRows.toDF(), "vec_id", m, indexPath, nextId)
    assert(!fs.exists(orphan), "the uncommitted orphan must be swept")
    val (nV2, _) = SimilarityOps.verifyAnnIndex(spark, indexPath)
    assert(nV2 == n2, "the healed tree must verify against the manifest")
    assert(SimilarityOps.readAnnLastBatch(spark, indexPath) == nextId)
  }

  test("a REAL retraction stream tombstones through foreachBatch: live " +
    "counts drop exactly, serving excludes the dead ids, and a " +
    "replayed tombstone batch is a no-op (round-19)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (n0, _) = SimilarityOps.verifyAnnIndex(spark, indexPath)
    // retract three ids the append tests provably landed (90001-90003),
    // one per micro-batch — the q136/q100 drop-list shape as a stream
    val in = MemoryStream[Long]
    val q = in.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingAnn.tombstoneBatch(b, "value", indexPath, id); ()
      }.start()
    try {
      Seq(90001L, 90002L, 90003L).foreach { id =>
        in.addData(id); q.processAllAvailable()
      }
    } finally q.stop()
    val mf = SimilarityOps.readAnnManifestFull(spark, indexPath)
    assert(mf.nRows == n0 - 3, "exactly the three live rows must leave")
    assert(mf.lastTombstoneBatch >= 0L,
      "the tombstone watermark must advance")
    SimilarityOps.verifyAnnIndex(spark, indexPath)
    // replay of the last batch (foreachBatch's at-least-once contract)
    assert(StreamingAnn.tombstoneBatch(Seq(90003L).toDF("value"), "value",
      indexPath, mf.lastTombstoneBatch) == (mf.nRows, mf.checksum),
      "a replayed tombstone batch must be a no-op")
    // the dead ids are unservable through the admitted live frame
    assert(SimilarityOps.annLiveRows(spark, indexPath)
      .filter(col("neighbor_id").isin(90001L, 90002L, 90003L))
      .count() == 0)
  }

  test("verifyStaged = false appends commit the same write-side stats " +
    "and the tree still passes the batched full-tree verify (round-20)") {
    import spark.implicits._
    val m = SimilarityOps.annModel(spark, sfDir)
    val full = SimilarityOps.annIndexLists(spark, sfDir)
    // two fresh trees from the same seed, one appended with per-batch
    // read-back verifies, one without: the manifests must be identical
    // (the write-side Observation stats ARE the commit arithmetic) and
    // the unverified tree must pass the downstream files-vs-manifest
    // gate the lifecycle replays batch the verification into
    def build(verify: Boolean): String = {
      val root = graft.Staging.scratchDir("graft_annvs_")
      val (path, _, _) = SimilarityOps.writeAnnIndex(spark,
        full.filter(col("neighbor_id") < split), root,
        SimilarityOps.annModelFp(spark, sfDir))
      val rest = graft.Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") >= split)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("int").as("label"))
      for (slice <- 0 until 2)
        StreamingAnn.appendBatch(
          rest.filter(pmod(col("vec_id"), lit(2)) === slice),
          "vec_id", m, path, batchId = slice.toLong,
          verifyStaged = verify)
      path
    }
    val verified = build(verify = true)
    val unverified = build(verify = false)
    val a = SimilarityOps.readAnnManifest(spark, verified)
    val b = SimilarityOps.readAnnManifest(spark, unverified)
    assert(a == b,
      s"write-side stats drifted between the verified ($a) and " +
        s"unverified ($b) append paths")
    // the batched gate: full-tree rows+checksum vs the manifest
    assert(SimilarityOps.verifyAnnIndex(spark, unverified) == b)
  }

  test("a lost appended list file is caught by the manifest gate") {
    import org.apache.hadoop.fs.Path
    val idx = new Path(indexPath)
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file that provably holds LIVE rows: a day-0 seed part (never
    // b-prefixed; seed ids < 30 are untouched by the tombstone leg) —
    // deleting a file of all-tombstoned rows would change nothing the
    // manifest counts, which is correct, not a gap
    val part = fs.listStatus(idx)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(f => !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("b"))
      .head.getPath
    fs.delete(part, false)
    val lost = intercept[IllegalStateException] {
      SimilarityOps.verifyAnnIndex(spark, indexPath)
    }
    assert(lost.getMessage.contains("fails verification"))
  }
}
