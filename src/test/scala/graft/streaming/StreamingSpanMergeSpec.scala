package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingSpanMerge ≡ batch q149: an arriving batch updates every
  * ingested doc's duplicated-span statistics without a corpus rescan,
  * including the RETROACTIVE case — a late arrival flips a long-ingested
  * doc's grams to duplicated and its span row must extend in place.
  */
class StreamingSpanMergeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type SpanRow = (Long, Long, Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[SpanRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def q149(dir: String): Set[SpanRow] =
    rowsOf(graft.SparkEntry.queries("q149_dup_span_merge")(spark, dir))

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
      .createTempDirectory(s"graft_span_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("in-order ingest: streamed snapshot equals batch q149 after " +
    "EVERY prefix") {
    val st = StreamingSpanMerge.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q149(prefixDir(ingested, s"asc$i")),
        s"prefix ${i + 1}/${batches.size} diverged from batch q149")
    }
  }

  test("adversarial descending ingest: every prefix still equals batch " +
    "q149 (maximal retroactive flipping)") {
    val st = StreamingSpanMerge.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q149(prefixDir(ingested, s"desc$i")),
        s"prefix ${i + 1}/${batches.size} diverged from batch q149")
    }
  }

  test("retroactive extension: a late doc flips an early doc's grams — " +
    "the early doc's span row updates in place") {
    import spark.implicits._
    val st = StreamingSpanMerge.state(spark)
    val a = (1 to 12).map(i => s"a$i")
    val clean = (1 to 15).map(i => s"c$i").mkString(" ")
    st.ingest(Seq((1L, a.mkString(" ")), (4L, clean)).toDF("doc_id", "text"))
    val before = rowsOf(st.snapshot())
    assert(before == Set((1L, 12L, 0L, 0L, 0L, 0L),
      (4L, 15L, 0L, 0L, 0L, 0L)), "early docs must start span-free")
    // doc 2 shares the 10-grams starting at doc 1's pos 0 and 1 —
    // ingesting it must retroactively give doc 1 an 11-token span
    st.ingest(Seq((2L, (a.take(11) :+ "zz").mkString(" ")))
      .toDF("doc_id", "text"))
    val after = rowsOf(st.snapshot())
    val ppm = 11000000L / 12
    assert(after == Set((1L, 12L, 1L, 11L, 11L, ppm),
      (2L, 12L, 1L, 11L, 11L, ppm), (4L, 15L, 0L, 0L, 0L, 0L)),
      s"retroactive span extension missing: $after")
  }

  test("replay handling: whole-batch re-delivery with matching " +
    "fingerprints skips; partial overlap and content drift fail loud") {
    import spark.implicits._
    val st = StreamingSpanMerge.state(spark)
    val b1 = Seq((1L, "one two three four five six seven eight nine ten x"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa y"))
      .toDF("doc_id", "text")
    st.ingest(b1)
    val snap = rowsOf(st.snapshot())
    st.ingest(b1) // idempotent skip — no throw, no drift
    assert(rowsOf(st.snapshot()) == snap)
    // partial overlap: one old id, one new
    val partial = Seq((2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa y"),
      (3L, "p q r s t u v w x y z")).toDF("doc_id", "text")
    val e1 = intercept[IllegalStateException](st.ingest(partial))
    assert(e1.getMessage.contains("doc_id reuse"))
    // full overlap, new content: an id-counter reset, not a replay
    val drifted = Seq((1L, "totally different content now one two"),
      (2L, "also different content here three four")).toDF("doc_id", "text")
    val e2 = intercept[IllegalStateException](st.ingest(drifted))
    assert(e2.getMessage.contains("fingerprints"))
    // batch-internal duplicate ids
    val dup = Seq((5L, "aa bb"), (5L, "aa bb")).toDF("doc_id", "text")
    val e3 = intercept[IllegalStateException](st.ingest(dup))
    assert(e3.getMessage.contains("unique"))
    assert(rowsOf(st.snapshot()) == snap, "a refused batch must not " +
      "leave partial state behind (all-or-nothing ingest)")
  }

  test("kill-and-resume from parquet-persisted stores: restore then " +
    "continue equals batch q149 and the uninterrupted run") {
    val batches = batchesBy(asc = true, n = 4)
    val st1 = StreamingSpanMerge.state(spark)
    batches.take(2).foreach(st1.ingest)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_span_resume_").toString
    st1.gramsFrame.write.parquet(s"$dir/grams")
    st1.dupFrame.write.parquet(s"$dir/dup")
    st1.spansFrame.write.parquet(s"$dir/spans")
    val st2 = StreamingSpanMerge.restore(spark,
      spark.read.parquet(s"$dir/grams"),
      spark.read.parquet(s"$dir/dup"),
      spark.read.parquet(s"$dir/spans"))
    batches.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.snapshot()) == q149(sfDir))
    // a restored state also still refuses a stale replay correctly
    st2.ingest(batches.head) // full replay of an old batch → skip
    assert(rowsOf(st2.snapshot()) == q149(sfDir))
  }

  test("monotonicity guard: a doctored span store (inflated coverage) " +
    "is refused the moment a recompute touches it") {
    import spark.implicits._
    val a = (1 to 12).map(i => s"a$i")
    val st1 = StreamingSpanMerge.state(spark)
    st1.ingest(Seq((1L, a.mkString(" "))).toDF("doc_id", "text"))
    // doctor doc 1's latest span row: claim absurd coverage
    val doctored = st1.spansFrame
      .withColumn("dup_tokens", lit(999999L))
      .withColumn("max_span_tokens", lit(999999L))
    val st2 = StreamingSpanMerge.restore(spark,
      st1.gramsFrame, st1.dupFrame, doctored)
    // doc 2 flips doc 1's grams → recompute yields 11 < 999999 → refuse
    val e = intercept[IllegalStateException](st2.ingest(
      Seq((2L, (a.take(11) :+ "zz").mkString(" "))).toDF("doc_id", "text")))
    assert(e.getMessage.contains("monotonicity"))
  }

  test("dirty batches: null and sub-gram texts ingest to zero-span rows " +
    "and match batch q149 on the same corpus") {
    import spark.implicits._
    val rows = Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, "one"),
      (3L, "one two three four five six seven eight nine ten eleven"),
      (4L, "one two three four five six seven eight nine ten twelve"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_span_dirty_").toString
    rows.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val st = StreamingSpanMerge.state(spark)
    rows.grouped(2).foreach(b => st.ingest(b.toDF("doc_id", "text")))
    assert(rowsOf(st.snapshot()) == q149(dir))
  }

  test("compaction fold: a tiny compactAt keeps only live span versions " +
    "and every prefix still matches batch q149") {
    val st = new StreamingSpanMerge.SpanState(spark, compactAt = 2)
    val batches = batchesBy(asc = false, n = 6)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
    }
    assert(rowsOf(st.snapshot()) == q149(sfDir))
    // the fold really dropped dead versions: at most one row per doc
    // beyond the uncompacted tail segments
    val versions = st.spansFrame.groupBy("doc_id")
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    assert(versions <= st.compactAt + 1,
      s"span versions not folding at compaction: max $versions per doc")
  }

  test("foreachBatch wiring: the same ingest runs under a real " +
    "StreamingQuery and matches batch q149") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val st = StreamingSpanMerge.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "text"))
    try {
      val rows = docsSorted.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.snapshot()) == q149(sfDir))
    } finally q.stop()
  }
}
