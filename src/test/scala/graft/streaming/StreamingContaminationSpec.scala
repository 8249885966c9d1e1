package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingContamination ≡ batch q148: the per-source-pair shared-gram
  * matrix updates incrementally, replay-idempotently, and restores from
  * the one durable store.
  */
class StreamingContaminationSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type MatRow = (String, String, Long, Long, Long, Double, Double)

  private def rowsOf(df: DataFrame): Set[MatRow] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet

  private def q148(dir: String): Set[MatRow] =
    rowsOf(graft.SparkEntry.queries("q148_source_contamination")(spark, dir))

  private def docsSorted: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def batches(n: Int): Seq[DataFrame] = {
    val ids = docsSorted.select("doc_id").collect().map(_.getLong(0)).sorted
    ids.grouped((ids.length + n - 1) / n).toSeq.map { chunk =>
      docsSorted.filter(col("doc_id").isin(chunk.toSeq: _*))
        .select(col("doc_id"), col("source"), col("text"))
    }
  }

  test("in-order ingest: streamed matrix equals batch q148 after EVERY " +
    "prefix (incremental correctness, not just final agreement)") {
    val st = StreamingContamination.state(spark)
    val bs = batches(3)
    val maxIds = bs.map(_.agg(max("doc_id")).head().getLong(0))
    bs.zip(maxIds).zipWithIndex.foreach { case ((b, maxId), i) =>
      st.ingest(b)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_contam_prefix_$i").toString
      docsSorted.filter(col("doc_id") <= maxId)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      assert(rowsOf(st.matrix()) == q148(dir),
        s"prefix ${i + 1}/${bs.size} diverged from batch q148")
    }
  }

  test("replay idempotence BY CONSTRUCTION: re-ingesting an already-" +
    "ingested batch (foreachBatch at-least-once re-delivery) changes " +
    "nothing — the novelty anti-join absorbs it with no ledger") {
    val st = StreamingContamination.state(spark)
    val bs = batches(3)
    bs.take(2).foreach(st.ingest)
    val before = rowsOf(st.matrix())
    st.ingest(bs(1)) // whole-batch replay
    assert(rowsOf(st.matrix()) == before,
      "a replayed batch drifted the matrix")
    st.ingest(bs(1).limit(3)) // PARTIAL replay is equally harmless here —
    // unlike the mixture, every derived count keys on (source, gram), so
    // any already-seen subset contributes zero novel pairs
    assert(rowsOf(st.matrix()) == before,
      "a partially replayed batch drifted the matrix")
    bs.drop(2).foreach(st.ingest)
    assert(rowsOf(st.matrix()) == q148(sfDir))
  }

  test("kill-and-resume: restore from the persisted (source, gram) index " +
    "recomputes the driver maps with one scan and continues to batch " +
    "q148 agreement") {
    val bs = batches(4)
    val st1 = StreamingContamination.state(spark)
    bs.take(2).foreach(st1.ingest)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_contam_resume_").toString
    st1.indexFrame.write.parquet(s"$dir/index")
    val st2 = StreamingContamination.restore(spark,
      spark.read.parquet(s"$dir/index"))
    assert(rowsOf(st2.matrix()) == rowsOf(st1.matrix()),
      "restored matrix diverges from the live state's")
    bs.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.matrix()) == q148(sfDir))
  }

  test("null sources are excluded (q148 parity) and compaction churn " +
    "keeps the matrix exact") {
    import spark.implicits._
    val st = new StreamingContamination.ContamState(spark, compactAt = 1)
    st.ingest(Seq(
      ("a", "one two three four five six"),
      (null.asInstanceOf[String], "one two three four five six"))
      .toDF("source", "text"))
    st.ingest(Seq(("b", "one two three four five seven"))
      .toDF("source", "text"))
    val out = rowsOf(st.matrix())
    assert(out == Set(("a", "b", 1L, 2L, 2L, 0.5, 0.5)),
      s"planted fixture mismatch: $out")
    // compact-after-every-batch on the real corpus stays ≡ q148
    val st2 = new StreamingContamination.ContamState(spark, compactAt = 1)
    batches(4).foreach(st2.ingest)
    assert(rowsOf(st2.matrix()) == q148(sfDir))
  }

  test("foreachBatch wiring: the same ingest runs under a real " +
    "StreamingQuery and matches batch q148") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val st = StreamingContamination.state(spark)
    val q = st.attach(input.toDS().toDF("source", "text"))
    try {
      val rows = docsSorted.select("source", "text").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.matrix()) == q148(sfDir))
    } finally q.stop()
  }
}
