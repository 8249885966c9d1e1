package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingShards ≡ batch q162's rollup over the arrival-order pack:
  * after every prefix the live-shard manifest equals an independent
  * plain-Scala replay whose eligibility comes from the BATCH survivor
  * arm (CorpusOps.exportSurvivors) on the ingested prefix — grants at
  * arrival-time kept, holes on retraction, current-kept accounting.
  */
class StreamingShardsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type ShardRow = (Long, Long, Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[ShardRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def hash32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  private def docsSorted: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def batchesBy(asc: Boolean, n: Int): Seq[Seq[Long]] = {
    val ids = docsSorted.select("doc_id").collect().map(_.getLong(0)).sorted
    val ordered = if (asc) ids.toSeq else ids.reverse.toSeq
    ordered.grouped((ids.length + n - 1) / n).toSeq
  }

  private def batchDf(ids: Seq[Long]): DataFrame =
    docsSorted.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("source"), col("text"))

  /** Batch-arm eligibility of the given prefix: doc_id -> current kept
    * (from the production survivor helper over a prefix dir — the same
    * arm q162 itself packs).
    */
  private def survivors(ids: Set[Long], tag: String): Map[Long, Long] = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_shsv_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), col("source"), col("text"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    graft.queries.CorpusOps.exportSurvivors(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
  }

  /** Independent replay of the pack discipline in plain Scala: grants in
    * batch order (doc_id asc within a batch) at grant-time kept; then the
    * live manifest from current eligibility + current kept.
    */
  private final class Replay(c: Long = 4096L) {
    private var placed = 0L
    private var nextPos = 0L
    // doc -> (pos, start, shard)
    val granted = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]

    def grant(newIds: Seq[Long], elig: Map[Long, Long]): Unit =
      for (id <- newIds.sorted if elig.contains(id) && !granted.contains(id)) {
        nextPos += 1
        granted(id) = (nextPos, placed, placed / c)
        placed += elig(id)
      }

    def manifest(elig: Map[Long, Long]): Set[ShardRow] =
      granted.toSeq.filter { case (id, _) => elig.contains(id) }
        .groupBy(_._2._3).map { case (shard, members) =>
          val byPos = members.sortBy(_._2._1)
          (shard, members.size.toLong,
            members.map(m => elig(m._1)).sum,
            byPos.head._1, byPos.last._1,
            members.map(m => hash32(s"${m._1}:${elig(m._1)}")).sum)
        }.toSet
  }

  private def runPrefixes(asc: Boolean, n: Int, tag: String): Unit = {
    val st = StreamingShards.state(spark)
    val replay = new Replay()
    var ingested = Set.empty[Long]
    batchesBy(asc, n).zipWithIndex.foreach { case (ids, i) =>
      ingested ++= ids
      st.ingest(batchDf(ids))
      val elig = survivors(ingested, s"$tag$i")
      replay.grant(ids, elig)
      assert(rowsOf(st.manifest()) == replay.manifest(elig),
        s"prefix ${i + 1} diverged from the independent replay")
    }
  }

  test("in-order ingest: the shard manifest equals the independent " +
    "batch-arm replay after EVERY prefix") {
    runPrefixes(asc = true, n = 3, "asc")
  }

  test("adversarial descending ingest (every canonical min and " +
    "keep-first holder arrives LAST; bench docs arrive after the whole " +
    "corpus is packed): every prefix still matches the replay") {
    runPrefixes(asc = false, n = 4, "desc")
  }

  test("planted retraction re-opens ONLY its shard: a canonical steal " +
    "against shard 0 leaves every other shard's row untouched, a " +
    "kept-shrink flips only its own shard's tokens/checksum, and a " +
    "fully-retracted shard leaves the manifest") {
    import spark.implicits._
    val st = new StreamingShards.ShardState(spark, shardTokens = 16L)
    def ingest(rows: (Long, String, String)*): Unit =
      st.ingest(rows.toSeq.toDF("doc_id", "source", "text"))
    def man: Map[Long, (Long, Long, Long, Long, Long)] =
      rowsOf(st.manifest()).map(r => r._1 -> ((r._2, r._3, r._4, r._5,
        r._6))).toMap
    // three 12-token docs (all unique tokens): starts 0, 12, 24 with
    // C=16 → shards 0, 0, 1
    def toks(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    ingest((20L, "s", toks("a")), (30L, "s", toks("b")))
    ingest((40L, "s", toks("c")))
    val m1 = man
    assert(m1.keySet == Set(0L, 1L))
    assert(m1(0L) == ((2L, 24L, 20L, 30L,
      hash32("20:12") + hash32("30:12"))))
    assert(m1(1L) == ((1L, 12L, 40L, 40L, hash32("40:12"))))
    // canonical steal: doc 15 is a permutation of doc 20's token bag
    // (same q34 fingerprint, no shared 10-gram) — 20 retracts (a HOLE in
    // shard 0), 15 packs at the TAIL (start 36 → shard 2)
    ingest((15L, "s", (1 to 12).reverse.map(i => s"a$i").mkString(" ")))
    val m2 = man
    assert(m2(1L) == m1(1L), "shard 1 must be untouched by shard 0's hole")
    assert(m2(0L) == ((1L, 12L, 30L, 30L, hash32("30:12"))))
    assert(m2(2L) == ((1L, 12L, 15L, 15L, hash32("15:12"))))
    // kept shrink: doc 25 shares doc 40's first 10-gram at a lower
    // (doc_id, pos) — 40's kept drops to 2 in place (shard 1 shrinks,
    // nothing else moves); 25 packs at the tail
    ingest((25L, "s", ((1 to 10).map(i => s"c$i") ++ Seq("z1", "z2"))
      .mkString(" ")))
    val m3 = man
    assert(m3(0L) == m2(0L) && m3(2L) == m2(2L),
      "shards 0 and 2 must be untouched by shard 1's shrink")
    assert(m3(1L) == ((1L, 2L, 40L, 40L, hash32("40:2"))))
    assert(m3(3L) == ((1L, 12L, 25L, 25L, hash32("25:12"))))
    // late bench doc contaminates BOTH c-gram docs (40 and 25): shard 1
    // and shard 3 fully retract and LEAVE the manifest
    ingest((5L, "bench", "c3 c4 c5 c6 c7 q9"))
    val m4 = man
    assert(m4.keySet == Set(0L, 2L))
    assert(m4(0L) == m3(0L) && m4(2L) == m3(2L))
  }

  test("replay grants nothing twice; kill-and-resume from the seven " +
    "persisted stores continues the pack exactly") {
    import spark.implicits._
    val st = new StreamingShards.ShardState(spark, shardTokens = 16L)
    def toks(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val b1 = Seq((20L, "s", toks("a")), (30L, "s", toks("b")))
      .toDF("doc_id", "source", "text")
    st.ingest(b1)
    val before = rowsOf(st.manifest())
    st.ingest(b1) // idempotent replay: no new grants, manifest unchanged
    assert(rowsOf(st.manifest()) == before)
    // persist all seven stores, restore, continue
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards_resume").toString
    val frames = Seq(
      "docs" -> st.inner.docsFrame, "fps" -> st.inner.fpsFrame,
      "bench" -> st.inner.benchFrame, "cg5" -> st.inner.cg5Frame,
      "g10" -> st.inner.g10Frame, "hold" -> st.inner.holdFrame,
      "asg" -> st.asgFrame)
    frames.foreach { case (n, f) => f.write.parquet(s"$dir/$n") }
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    val st2 = StreamingShards.restore(spark, rd("docs"), rd("fps"),
      rd("bench"), rd("cg5"), rd("g10"), rd("hold"), rd("asg"),
      shardTokens = 16L)
    assert(rowsOf(st2.manifest()) == before)
    st.ingest(Seq((40L, "s", toks("c"))).toDF("doc_id", "source", "text"))
    st2.ingest(Seq((40L, "s", toks("c"))).toDF("doc_id", "source", "text"))
    assert(rowsOf(st2.manifest()) == rowsOf(st.manifest()),
      "the restored pack must continue at the same counters")
  }

  test("foreachBatch wiring: attach() under a real StreamingQuery " +
    "reaches the same manifest as direct ingest") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val st = StreamingShards.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "source", "text"))
    try {
      val ids = docsSorted.select("doc_id").collect()
        .map(_.getLong(0)).sorted.take(60)
      val rows = docsSorted.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("source"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      input.addData(rows.take(30))
      q.processAllAvailable()
      input.addData(rows.drop(30))
      q.processAllAvailable()
      val direct = StreamingShards.state(spark)
      direct.ingest(batchDf(ids.take(30).toSeq))
      direct.ingest(batchDf(ids.drop(30).toSeq))
      assert(rowsOf(st.manifest()) == rowsOf(direct.manifest()))
    } finally q.stop()
  }
}
