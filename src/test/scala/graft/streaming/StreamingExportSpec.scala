package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingExport ≡ batch q156: the per-source training-export manifest
  * stays exact under out-of-order ingest, with all THREE of q156's rules
  * retracting correctly (canonical steal, late-bench contamination,
  * keep-first removal flips).
  */
class StreamingExportSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type ManRow = (String, Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[ManRow] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  private def q156(dir: String): Set[ManRow] =
    rowsOf(graft.SparkEntry.queries("q156_training_export_manifest")(
      spark, dir))

  private def docsSorted: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def batchesBy(asc: Boolean, n: Int): Seq[DataFrame] = {
    val ids = docsSorted.select("doc_id").collect().map(_.getLong(0)).sorted
    val ordered = if (asc) ids else ids.reverse
    ordered.grouped((ids.length + n - 1) / n).toSeq.map { chunk =>
      docsSorted.filter(col("doc_id").isin(chunk.toSeq: _*))
        .select(col("doc_id"), col("source"), col("text"))
    }
  }

  private def prefixDir(ids: Set[Long], tag: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_exp_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), col("source"), col("text"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("in-order ingest: streamed manifest equals batch q156 after " +
    "EVERY prefix") {
    val st = StreamingExport.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q156(prefixDir(ingested, s"asc$i")),
        s"prefix ${i + 1} diverged from batch q156")
    }
  }

  test("adversarial descending ingest (every canonical min and " +
    "keep-first holder arrives LAST, and the bench docs arrive after " +
    "the whole corpus is exported): every prefix still equals q156") {
    val st = StreamingExport.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q156(prefixDir(ingested, s"desc$i")),
        s"prefix ${i + 1} diverged from batch q156")
    }
  }

  test("planted three-way retraction: a late canonical steal, a late " +
    "keep-first holder flip, and a late bench contamination each " +
    "retract an already-exported doc, exactly") {
    import spark.implicits._
    val st = StreamingExport.state(spark)
    val a = (1 to 15).map(i => s"a$i")
    val c = (1 to 12).map(i => s"c$i")
    def manifest = rowsOf(st.snapshot())
    def batchEq(ids: Map[Long, (String, String)], tag: String): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_expfix_$tag").toString
      ids.toSeq.map { case (id, (src, txt)) => (id, src, txt) }
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      assert(manifest == q156(dir), s"$tag diverged from batch q156")
    }
    var all = Map[Long, (String, String)]()
    def ingest(rows: (Long, String, String)*): Unit = {
      st.ingest(rows.toSeq.toDF("doc_id", "source", "text"))
      all ++= rows.map { case (id, src, txt) => id -> ((src, txt)) }
    }

    // step 1: three corpus docs — 50/60 share a token bag (60 is a
    // permutation, so same q34 fingerprint, no shared 10-grams), 70 is
    // clean; 50 is the group min, so 50 and 70 export in full
    ingest((50L, "s1", a.mkString(" ")),
      (60L, "s1", a.reverse.mkString(" ")),
      (70L, "s2", c.mkString(" ")))
    assert(manifest == Set(("s1", 1L, 15L, 15L, 1000000L),
      ("s2", 1L, 12L, 12L, 1000000L)), s"step 1: $manifest")
    batchEq(all, "step1")

    // step 2a: doc 20 (another permutation of the bag) STEALS canonical
    // from 50 — s1's export moves to source s3 under doc 20
    ingest((20L, "s3", (a.tail :+ a.head).mkString(" ")))
    assert(manifest == Set(("s3", 1L, 15L, 15L, 1000000L),
      ("s2", 1L, 12L, 12L, 1000000L)), s"step 2a: $manifest")
    assert(!st.docsFrame.filter(col("doc_id") === 50)
      .orderBy(col("seq").desc).head().getBoolean(5),
      "doc 50's latest doc-store row must be demoted (canonical=false)")
    batchEq(all, "step2a")

    // step 2b: doc 15 shares 70's FIRST 10-gram (c1..c10) at a lower
    // (doc_id, pos) — 70's kept position flips to removed, so 10 of its
    // 12 tokens retract from the manifest while 15 exports with its own
    // removal accounting (its pos-0 gram now holds, nothing removed)
    ingest((15L, "s2", (c.take(10) ++ Seq("x1", "x2")).mkString(" ")))
    assert(manifest == Set(("s3", 1L, 15L, 15L, 1000000L),
      ("s2", 2L, 24L, 14L, 14L * 1000000L / 24L)), s"step 2b: $manifest")
    batchEq(all, "step2b")

    // step 3: BENCH doc 5 arrives LAST carrying one of 70's 5-grams —
    // 70 is retroactively contaminated and leaves the manifest entirely
    // (15 keeps exporting: its grams c1..c5 .. c6..c10 don't include
    // the planted c3..c7? they DO — c3 c4 c5 c6 c7 is inside c1..c10,
    // so 15 is contaminated too; s2 drops to zero rows)
    ingest((5L, "bench", Seq("c3", "c4", "c5", "c6", "c7", "z9")
      .mkString(" ")))
    assert(manifest == Set(("s3", 1L, 15L, 15L, 1000000L)),
      s"step 3: $manifest")
    batchEq(all, "step3")
  }

  test("null-text docs: one fingerprint GROUP across batches (the nfp " +
    "null-safety fix) — a late lower-id null doc steals canonical, " +
    "exactly one null doc exports, and every prefix equals batch q156") {
    import spark.implicits._
    val st = StreamingExport.state(spark)
    def manifest = rowsOf(st.snapshot())
    var all = Map[Long, (String, String)]()
    def ingest(rows: (Long, String, String)*): Unit = {
      st.ingest(rows.toSeq.toDF("doc_id", "source", "text"))
      all ++= rows.map { case (id, src, txt) => id -> ((src, txt)) }
    }
    def batchEq(tag: String): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_expnull_$tag").toString
      all.toSeq.map { case (id, (src, txt)) => (id, src, txt) }
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      assert(manifest == q156(dir), s"$tag diverged from batch q156")
    }
    // batch 1: one null-text doc plus a normal doc — the null doc is its
    // group's only member, so it exports (0 tokens, ppm 0)
    ingest((30L, "sn", null), (40L, "st", "y1 y2"))
    assert(manifest == Set(("sn", 1L, 0L, 0L, 0L),
      ("st", 1L, 2L, 2L, 1000000L)), s"step 1: $manifest")
    batchEq("step1")
    // batch 2: TWO more null-text docs in a later batch. Before the fix,
    // the equality joins on the fps store never matched the stored NULL
    // key, so each batch re-granted canonical to its own min without
    // demoting doc 30 — exporting multiple null docs. Fixed: one group,
    // doc 25 steals canonical from 30, 35 never exports.
    ingest((25L, "sn2", null), (35L, "sn3", null))
    assert(manifest == Set(("sn2", 1L, 0L, 0L, 0L),
      ("st", 1L, 2L, 2L, 1000000L)), s"step 2: $manifest")
    assert(!st.docsFrame.filter(col("doc_id") === 30)
      .orderBy(col("seq").desc).head().getBoolean(5),
      "doc 30's latest doc-store row must be demoted (canonical=false)")
    batchEq("step2")
    // replay the null-carrying batch whole: must SKIP (the null-safe fp
    // fix — xxhash64(null) is NULL and the old equality read a null-text
    // replay as content drift), leaving the manifest unchanged
    ingest((25L, "sn2", null), (35L, "sn3", null))
    assert(manifest == Set(("sn2", 1L, 0L, 0L, 0L),
      ("st", 1L, 2L, 2L, 1000000L)), s"replay: $manifest")
  }

  test("replay handling: whole-batch re-delivery skips; partial overlap " +
    "and content drift fail loud; state untouched after refusals") {
    import spark.implicits._
    val st = StreamingExport.state(spark)
    val b1 = Seq((50L, "s1", "w1 w2 w3"), (60L, "s2", "v1 v2 v3"))
    st.ingest(b1.toDF("doc_id", "source", "text"))
    val before = rowsOf(st.snapshot())
    // idempotent whole-batch replay: skipped, state unchanged
    st.ingest(b1.toDF("doc_id", "source", "text"))
    assert(rowsOf(st.snapshot()) == before)
    def refusal(rows: (Long, String, String)*): String =
      intercept[IllegalStateException](
        st.ingest(rows.toDF("doc_id", "source", "text"))).getMessage
    // same ids, new content → doc_id reuse → refuse
    val drift = refusal((50L, "s1", "DIFFERENT"), (60L, "s2", "ALSO NEW"))
    assert(drift.contains("fingerprints differ") &&
      drift.contains("doc_id reuse"), drift)
    // partial overlap → refuse
    val partial = refusal((60L, "s2", "v1 v2 v3"), (77L, "s1", "u1 u2"))
    assert(partial.contains("partial overlap") &&
      partial.contains("doc_id reuse"), partial)
    // in-batch duplicate ids → refuse
    val dup = refusal((88L, "s1", "k1"), (88L, "s1", "k1"))
    assert(dup.contains("duplicate doc_id") && dup.contains("unique"), dup)
    assert(rowsOf(st.snapshot()) == before, "refusals must not mutate state")
  }

  test("kill-and-resume: restore from the six parquet-persisted stores " +
    "continues exactly where the killed stream stopped") {
    val batches = batchesBy(asc = false, n = 4)
    val st1 = StreamingExport.state(spark)
    batches.take(2).foreach(st1.ingest)
    val base = java.nio.file.Files
      .createTempDirectory("graft_exp_resume").toString
    st1.docsFrame.write.parquet(s"$base/docs")
    st1.fpsFrame.write.parquet(s"$base/fps")
    st1.benchFrame.write.parquet(s"$base/bench")
    st1.cg5Frame.write.parquet(s"$base/cg5")
    st1.g10Frame.write.parquet(s"$base/g10")
    st1.holdFrame.write.parquet(s"$base/hold")
    val st2 = StreamingExport.restore(spark,
      spark.read.parquet(s"$base/docs"),
      spark.read.parquet(s"$base/fps"),
      spark.read.parquet(s"$base/bench"),
      spark.read.parquet(s"$base/cg5"),
      spark.read.parquet(s"$base/g10"),
      spark.read.parquet(s"$base/hold"))
    assert(rowsOf(st2.snapshot()) == rowsOf(st1.snapshot()))
    batches.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.snapshot()) == q156(sfDir),
      "resumed stream must converge to the full-corpus batch manifest")
  }

  test("doctored stores fail loud: a fingerprint holder pointing at a " +
    "doc the doc store never saw refuses instead of silently dropping " +
    "the retraction") {
    import spark.implicits._
    val st = StreamingExport.state(spark)
    st.ingest(Seq((50L, "s1", "w1 w2 w3")).toDF("doc_id", "source", "text"))
    // doctor: fps says doc 999 holds the fingerprint of the text doc 30
    // will carry — but 999 is absent from the doc store
    val nfp = spark.sql(
      "SELECT md5(array_join(array_sort(split(trim(regexp_replace(" +
        "lower('p1 p2 p3'), '\\\\s+', ' ')), ' ')), ' ')) AS f")
      .head().getString(0)
    st.loadFrom(st.docsFrame,
      Seq((nfp, 1L, 999L)).toDF("nfp", "seq", "holder"),
      st.benchFrame, st.cg5Frame, st.g10Frame, st.holdFrame)
    val ex = intercept[IllegalStateException] {
      st.ingest(Seq((30L, "s1", "p1 p2 p3"))
        .toDF("doc_id", "source", "text"))
    }
    assert(ex.getMessage.contains("absent"))
  }

  test("foreachBatch wiring: attach() under a real StreamingQuery " +
    "converges to the batch manifest") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val st = StreamingExport.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "source", "text"))
    try {
      val rows = docsSorted.select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.snapshot()) == q156(sfDir))
    } finally q.stop()
  }
}
