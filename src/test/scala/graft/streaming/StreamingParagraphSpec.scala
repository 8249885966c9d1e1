package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingParagraph ≡ batch q159: paragraph-level keep-first survival
  * stays exact under out-of-order ingest via holder STEALING (a late
  * lower-(doc_id, idx) occurrence retracts credit from the current
  * holder, token-weighted).
  */
class StreamingParagraphSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type ParaRow = (Long, Long, Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[ParaRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def q159(dir: String): Set[ParaRow] =
    rowsOf(graft.SparkEntry.queries("q159_paragraph_dedup")(spark, dir))

  private def docsSorted: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def batchesBy(asc: Boolean, n: Int): Seq[DataFrame] = {
    val ids = docsSorted.select("doc_id").collect().map(_.getLong(0)).sorted
    val ordered = if (asc) ids else ids.reverse
    ordered.grouped((ids.length + n - 1) / n).toSeq.map { chunk =>
      docsSorted.filter(col("doc_id").isin(chunk.toSeq: _*))
        .select(col("doc_id"), col("text"))
    }
  }

  private def prefixDir(ids: Set[Long], tag: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_para_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("in-order ingest: streamed paragraph accounting equals batch " +
    "q159 after EVERY prefix") {
    val st = StreamingParagraph.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q159(prefixDir(ingested, s"asc$i")),
        s"prefix ${i + 1} diverged from batch q159")
    }
  }

  test("adversarial descending ingest (every arrival out-ranks every " +
    "stored holder it collides with): every prefix still equals q159") {
    val st = StreamingParagraph.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q159(prefixDir(ingested, s"desc$i")),
        s"prefix ${i + 1} diverged from batch q159")
    }
  }

  test("planted steals: late lower-id docs retract keep-first credit " +
    "token-exactly, including within-doc repetition and the " +
    "(doc_id, idx) lexicographic order") {
    import spark.implicits._
    val st = StreamingParagraph.state(spark)
    val p = (1 to 20).map(i => s"p$i").mkString(" ")
    val q = (1 to 20).map(i => s"q$i").mkString(" ")
    val r = (1 to 20).map(i => s"r$i").mkString(" ")
    val ss = (1 to 20).map(i => s"s$i").mkString(" ")
    val u = (1 to 20).map(i => s"u$i").mkString(" ")
    val w = (1 to 20).map(i => s"w$i").mkString(" ")
    val x = (1 to 20).map(i => s"x$i").mkString(" ")
    val z = (1 to 20).map(i => s"z$i").mkString(" ")
    def snap = rowsOf(st.snapshot())

    // doc 5 holds both its paragraphs; doc 7 repeats one within itself
    // (second occurrence removed); doc 9 holds x at idx 1
    st.ingest(Seq((5L, s"$p $q"), (7L, s"$ss $ss"), (9L, s"$w $x"))
      .toDF("doc_id", "text"))
    assert(snap == Set(
      (5L, 40L, 2L, 2L, 40L, 1000000L),
      (7L, 40L, 2L, 1L, 20L, 500000L),
      (9L, 40L, 2L, 2L, 40L, 1000000L)))

    // doc 2 steals p from (5, 0); doc 3 steals s from (7, 0) — doc 7
    // drops to ZERO kept
    st.ingest(Seq((2L, s"$p $r"), (3L, s"$ss $u")).toDF("doc_id", "text"))
    assert(snap == Set(
      (2L, 40L, 2L, 2L, 40L, 1000000L),
      (3L, 40L, 2L, 2L, 40L, 1000000L),
      (5L, 40L, 2L, 1L, 20L, 500000L),
      (7L, 40L, 2L, 0L, 0L, 0L),
      (9L, 40L, 2L, 2L, 40L, 1000000L)))

    // lexicographic (doc_id, idx): doc 1 carries x at idx 1 — (1, 1) <
    // (9, 1), so it steals even though its idx ties
    st.ingest(Seq((1L, s"$z $x")).toDF("doc_id", "text"))
    assert(snap.contains((1L, 40L, 2L, 2L, 40L, 1000000L)) &&
      snap.contains((9L, 40L, 2L, 1L, 20L, 500000L)),
      s"idx-tie steal wrong: $snap")
  }

  test("replay handling: whole-batch re-delivery skips; partial overlap " +
    "and content drift fail loud; state untouched after refusals") {
    import spark.implicits._
    val st = StreamingParagraph.state(spark)
    val b1 = Seq((50L, "w1 w2 w3"), (60L, "v1 v2 v3"))
    st.ingest(b1.toDF("doc_id", "text"))
    val before = rowsOf(st.snapshot())
    st.ingest(b1.toDF("doc_id", "text")) // idempotent skip
    assert(rowsOf(st.snapshot()) == before)
    def refusal(rows: (Long, String)*): String =
      intercept[IllegalStateException](st.ingest(rows.toDF("doc_id", "text")))
        .getMessage
    val drift = refusal((50L, "CHANGED"))
    assert(drift.contains("fingerprints differ") &&
      drift.contains("doc_id reuse"), drift)
    val partial = refusal((60L, "v1 v2 v3"), (77L, "fresh"))
    assert(partial.contains("partial overlap") &&
      partial.contains("doc_id reuse"), partial)
    val dup = refusal((88L, "k1"), (88L, "k1"))
    assert(dup.contains("duplicate doc_id") && dup.contains("unique"), dup)
    assert(rowsOf(st.snapshot()) == before, "refusals must not mutate state")
  }

  test("kill-and-resume: restore from the two parquet-persisted stores " +
    "continues exactly where the killed stream stopped") {
    val batches = batchesBy(asc = false, n = 4)
    val st1 = StreamingParagraph.state(spark)
    batches.take(2).foreach(st1.ingest)
    val base = java.nio.file.Files
      .createTempDirectory("graft_para_resume").toString
    st1.holdersFrame.write.parquet(s"$base/holders")
    st1.countsFrame.write.parquet(s"$base/counts")
    val st2 = StreamingParagraph.restore(spark,
      spark.read.parquet(s"$base/holders"),
      spark.read.parquet(s"$base/counts"))
    assert(rowsOf(st2.snapshot()) == rowsOf(st1.snapshot()))
    batches.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.snapshot()) == q159(sfDir),
      "resumed stream must converge to the full-corpus batch accounting")
  }

  test("foreachBatch wiring: attach() under a real StreamingQuery " +
    "converges to the batch accounting") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val st = StreamingParagraph.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "text"))
    try {
      val rows = docsSorted.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.snapshot()) == q159(sfDir))
    } finally q.stop()
  }
}
