package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingNovelty ≡ batch q153: first-holder novelty stays exact under
  * out-of-order ingest via first-holder STEALING (a late lower-id doc
  * retracts credit from the current holder).
  */
class StreamingNoveltySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type NovRow = (Long, Long, Long, Long)

  private def rowsOf(df: DataFrame): Set[NovRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  private def q153(dir: String): Set[NovRow] =
    rowsOf(graft.SparkEntry.queries("q153_gram_novelty")(spark, dir))

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
      .createTempDirectory(s"graft_nov_$tag").toString
    docsSorted.filter(col("doc_id").isin(ids.toSeq: _*))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("in-order ingest: streamed novelty equals batch q153 after " +
    "EVERY prefix") {
    val st = StreamingNovelty.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q153(prefixDir(ingested, s"asc$i")),
        s"prefix ${i + 1} diverged from batch q153")
    }
  }

  test("adversarial descending ingest (every arrival out-ranks every " +
    "stored holder it collides with): every prefix still equals q153") {
    val st = StreamingNovelty.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    var ingested = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      ingested ++= b.select("doc_id").collect().map(_.getLong(0))
      st.ingest(b)
      assert(rowsOf(st.snapshot()) == q153(prefixDir(ingested, s"desc$i")),
        s"prefix ${i + 1} diverged from batch q153")
    }
  }

  test("planted steal: a late lower-id doc retracts first-holder credit " +
    "from the stored holder, exactly") {
    import spark.implicits._
    val st = StreamingNovelty.state(spark)
    val t = (1 to 11).map(i => s"t$i")
    // doc 5 arrives first and holds both its grams
    st.ingest(Seq((5L, t.mkString(" "))).toDF("doc_id", "text"))
    assert(rowsOf(st.snapshot()) == Set((5L, 2L, 2L, 1000000L)))
    // doc 2 (lower id) shares gram t1..t10 — it must STEAL that one
    st.ingest(Seq((2L, (t.take(10) :+ "zz").mkString(" ")))
      .toDF("doc_id", "text"))
    assert(rowsOf(st.snapshot()) == Set(
      (2L, 2L, 2L, 1000000L),            // t1..t10 stolen + its own zz gram
      (5L, 2L, 1L, 500000L)),            // keeps only t2..t11
      s"steal accounting wrong: ${rowsOf(st.snapshot())}")
  }

  test("replay handling: whole-batch re-delivery skips; partial overlap " +
    "and content drift fail loud; state untouched after refusals") {
    import spark.implicits._
    val st = StreamingNovelty.state(spark)
    val b1 = Seq((1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 12).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    st.ingest(b1)
    val snap = rowsOf(st.snapshot())
    st.ingest(b1)
    assert(rowsOf(st.snapshot()) == snap)
    val partial = Seq((2L, (1 to 12).map(i => s"b$i").mkString(" ")),
      (3L, "x y z")).toDF("doc_id", "text")
    assert(intercept[IllegalStateException](st.ingest(partial))
      .getMessage.contains("partial overlap"))
    val drifted = Seq((1L, "different one"), (2L, "different two"))
      .toDF("doc_id", "text")
    assert(intercept[IllegalStateException](st.ingest(drifted))
      .getMessage.contains("fingerprints"))
    assert(rowsOf(st.snapshot()) == snap)
  }

  test("kill-and-resume from parquet-persisted stores: restore then " +
    "continue equals batch q153") {
    val batches = batchesBy(asc = false, n = 4)
    val st1 = StreamingNovelty.state(spark)
    batches.take(2).foreach(st1.ingest)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nov_resume_").toString
    st1.holdersFrame.write.parquet(s"$dir/holders")
    st1.countsFrame.write.parquet(s"$dir/counts")
    val st2 = StreamingNovelty.restore(spark,
      spark.read.parquet(s"$dir/holders"),
      spark.read.parquet(s"$dir/counts"))
    batches.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.snapshot()) == q153(sfDir))
  }

  test("compaction fold under a tiny compactAt: dead holder/count " +
    "versions drop and the result stays exact") {
    val st = new StreamingNovelty.NoveltyState(spark, compactAt = 2)
    batchesBy(asc = false, n = 6).foreach(st.ingest)
    assert(rowsOf(st.snapshot()) == q153(sfDir))
    val maxVersions = st.countsFrame.groupBy("doc_id")
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    assert(maxVersions <= st.compactAt + 1,
      s"count versions not folding: $maxVersions")
  }

  test("dirty batches: null and sub-gram texts ingest to zero-novelty " +
    "rows and match batch q153 on the same corpus") {
    import spark.implicits._
    val rows = Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, "one"),
      (3L, (1 to 11).map(i => s"d$i").mkString(" ")),
      (4L, (1 to 11).map(i => s"d$i").mkString(" "))) // exact dup of 3
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nov_dirty_").toString
    rows.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val st = StreamingNovelty.state(spark)
    rows.grouped(2).foreach(b => st.ingest(b.toDF("doc_id", "text")))
    assert(rowsOf(st.snapshot()) == q153(dir))
    // and the dup doc really scored zero while the original kept credit
    val byId = rowsOf(st.snapshot()).map(r => r._1 -> r._4).toMap
    assert(byId(3L) == 1000000L && byId(4L) == 0L)
  }

  test("foreachBatch wiring under a real StreamingQuery matches q153") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val st = StreamingNovelty.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "text"))
    try {
      val rows = docsSorted.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(-_._1).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.snapshot()) == q153(sfDir))
    } finally q.stop()
  }
}
