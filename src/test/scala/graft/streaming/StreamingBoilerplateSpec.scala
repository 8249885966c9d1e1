package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingBoilerplate ≡ batch q173: same-source chunk df crossing 3
  * retracts kept tokens from ALL stored occurrences — the whole-class
  * retraction twin. Prefix equality ascending AND descending, the planted
  * template-crossing-df fixture, refusal semantics, kill-and-resume, and
  * the holder-store bound (<= MinDf−1 live holder docs per chunk).
  */
class StreamingBoilerplateSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type BRow = (Long, String, Long, Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[BRow] =
    df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6))).toSet

  private def q173(dir: String): Set[BRow] =
    rowsOf(graft.SparkEntry.queries("q173_boilerplate_removal")(spark, dir))

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
      .createTempDirectory(s"graft_boil_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** A 25-token doc: a shared 20-token template paragraph (per source)
    * followed by 5 unique filler tokens — chunk 1 is the template
    * (sz 20), chunk 2 is the filler tail (sz 5).
    */
  private def templated(src: String, uniq: String): String =
    ((1 to 20).map(i => s"${src}tpl$i") ++
      (1 to 5).map(i => s"$uniq$i")).mkString(" ")

  test("in-order ingest: streamed accounting equals batch q173 after " +
    "EVERY prefix") {
    val st = StreamingBoilerplate.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q173(prefixDir(ingested, s"asc$i")),
        s"prefix ${i + 1} diverged from batch q173")
    }
  }

  test("adversarial descending ingest (flips land with the maximal " +
    "stored-holder population to retract): every prefix still equals " +
    "q173") {
    val st = StreamingBoilerplate.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q173(prefixDir(ingested, s"desc$i")),
        s"prefix ${i + 1} diverged from batch q173")
    }
  }

  test("planted template crossing df: the third same-source copy " +
    "retracts the template from BOTH stored holders at once; a " +
    "cross-source copy and a null-source copy never trigger") {
    import spark.implicits._
    val st = StreamingBoilerplate.state(spark)
    // docs 1, 2 share source A's template — under threshold, all kept
    st.ingest(Seq((1L, "A", templated("A", "u1")),
      (2L, "A", templated("A", "u2"))).toDF("doc_id", "source", "text"))
    assert(rowsOf(st.snapshot()) == Set(
      (1L, "A", 25L, 2L, 0L, 25L, 1000000L),
      (2L, "A", 25L, 2L, 0L, 25L, 1000000L)))
    // doc 3: source B carries A's TEMPLATE TEXT but under source B —
    // cross-source repetition is content, not boilerplate; doc 4 has a
    // null source (its chunks can never match the (source, h) key)
    st.ingest(Seq((3L, "B", templated("A", "u3")),
      (4L, null.asInstanceOf[String], templated("A", "u4")))
      .toDF("doc_id", "source", "text"))
    assert(rowsOf(st.snapshot()).forall(_._5 == 0L),
      "no chunk may flip before the third SAME-source copy")
    // doc 5: the third source-A copy — the template flips, retracting
    // 20 tokens from docs 1 AND 2, and doc 5 itself arrives boiler
    st.ingest(Seq((5L, "A", templated("A", "u5")))
      .toDF("doc_id", "source", "text"))
    assert(rowsOf(st.snapshot()) == Set(
      (1L, "A", 25L, 2L, 1L, 5L, 200000L),
      (2L, "A", 25L, 2L, 1L, 5L, 200000L),
      (3L, "B", 25L, 2L, 0L, 25L, 1000000L),
      (4L, null, 25L, 2L, 0L, 25L, 1000000L),
      (5L, "A", 25L, 2L, 1L, 5L, 200000L)),
      s"flip accounting wrong: ${rowsOf(st.snapshot())}")
    // the holder bound: no chunk key retains more than MinDf−1 live
    // holder docs (flipped chunks stop storing)
    val live = st.holdersFrame.groupBy(col("ck"))
      .agg(countDistinct(col("doc_id")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(live <= StreamingBoilerplate.MinDf - 1,
      s"holder store exceeded the MinDf-1 bound: $live")
  }

  test("a whole batch of 3+ same-source copies flips in one ingest " +
    "(batch-internal df counts distinct docs), including the doc that " +
    "carries the template twice") {
    import spark.implicits._
    val st = StreamingBoilerplate.state(spark)
    val tpl = (1 to 20).map(i => s"Ctpl$i").mkString(" ")
    // doc 8 carries the template TWICE (40 tokens, 2 paras) — df counts
    // it once, but both its occurrences drop
    st.ingest(Seq(
      (6L, "C", templated("C", "u6")),
      (7L, "C", templated("C", "u7")),
      (8L, "C", s"$tpl $tpl")).toDF("doc_id", "source", "text"))
    assert(rowsOf(st.snapshot()) == Set(
      (6L, "C", 25L, 2L, 1L, 5L, 200000L),
      (7L, "C", 25L, 2L, 1L, 5L, 200000L),
      (8L, "C", 40L, 2L, 2L, 0L, 0L)),
      s"batch-internal flip wrong: ${rowsOf(st.snapshot())}")
  }

  test("replay handling: whole-batch re-delivery skips; partial overlap " +
    "and content drift fail loud; state untouched after refusals") {
    import spark.implicits._
    val st = StreamingBoilerplate.state(spark)
    val b1 = Seq((1L, "A", templated("A", "u1")),
      (2L, "A", templated("A", "u2"))).toDF("doc_id", "source", "text")
    st.ingest(b1)
    val snap = rowsOf(st.snapshot())
    st.ingest(b1)
    assert(rowsOf(st.snapshot()) == snap,
      "idempotent replay must not advance df toward a flip")
    val partial = Seq((2L, "A", templated("A", "u2")),
      (9L, "A", templated("A", "u9"))).toDF("doc_id", "source", "text")
    assert(intercept[IllegalStateException](st.ingest(partial))
      .getMessage.contains("partial overlap"))
    val drifted = Seq((1L, "A", "changed"), (2L, "A", "changed too"))
      .toDF("doc_id", "source", "text")
    assert(intercept[IllegalStateException](st.ingest(drifted))
      .getMessage.contains("fingerprints"))
    assert(rowsOf(st.snapshot()) == snap)
  }

  test("kill-and-resume from parquet-persisted stores: restore then " +
    "continue equals batch q173 (a flip straddling the restart still " +
    "retracts the pre-crash holders)") {
    import spark.implicits._
    val st1 = StreamingBoilerplate.state(spark)
    st1.ingest(Seq((1L, "A", templated("A", "u1")),
      (2L, "A", templated("A", "u2"))).toDF("doc_id", "source", "text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boil_resume_").toString
    st1.chunksFrame.write.parquet(s"$dir/chunks")
    st1.holdersFrame.write.parquet(s"$dir/holders")
    st1.countsFrame.write.parquet(s"$dir/counts")
    val st2 = StreamingBoilerplate.restore(spark,
      spark.read.parquet(s"$dir/chunks"),
      spark.read.parquet(s"$dir/holders"),
      spark.read.parquet(s"$dir/counts"))
    // the flip lands AFTER the restart: the restored holder store must
    // carry docs 1 and 2's template occurrences into the retraction
    st2.ingest(Seq((5L, "A", templated("A", "u5")))
      .toDF("doc_id", "source", "text"))
    assert(rowsOf(st2.snapshot()) == Set(
      (1L, "A", 25L, 2L, 1L, 5L, 200000L),
      (2L, "A", 25L, 2L, 1L, 5L, 200000L),
      (5L, "A", 25L, 2L, 1L, 5L, 200000L)),
      s"post-resume flip wrong: ${rowsOf(st2.snapshot())}")
    // and the driver-corpus equivalence holds through a resume too
    val ids = st2.snapshot().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val d = java.nio.file.Files
      .createTempDirectory("graft_boil_rd_").toString
    Seq((1L, "A", templated("A", "u1")), (2L, "A", templated("A", "u2")),
      (5L, "A", templated("A", "u5")))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    assert(ids == Set(1L, 2L, 5L) && rowsOf(st2.snapshot()) == q173(d))
  }

  test("foreachBatch wiring under a real StreamingQuery reaches the " +
    "same snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st = StreamingBoilerplate.state(spark)
    val input = MemoryStream[(Long, String, String)]
    val q = st.attach(input.toDS().toDF("doc_id", "source", "text"))
    try {
      input.addData(Seq((1L, "A", templated("A", "u1")),
        (2L, "A", templated("A", "u2"))))
      q.processAllAvailable()
      input.addData(Seq((5L, "A", templated("A", "u5"))))
      q.processAllAvailable()
    } finally q.stop()
    assert(rowsOf(st.snapshot()).map(r => (r._1, r._6)) ==
      Set((1L, 5L), (2L, 5L), (5L, 5L)))
  }
}
