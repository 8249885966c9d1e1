package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class VecRow(vec_id: Long, embedding: Seq[Float])

/** Streamed ≡ batch for the ANN ingest twin on the real corpus: vectors
  * arriving over micro-batches, PQ-encoded and routed in-row, must build
  * exactly the batch index; queries served per-micro-batch against that
  * streamed index must return exactly the registered q128 top-5 (same
  * ADC values, same tie rules). This is the dedup-arm StreamingLsh /
  * decon-arm StreamingDecon discipline applied to the ANN arm.
  */
class StreamingAnnSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed ingest + per-batch serving equals batch q128 exactly") {
    import spark.implicits._
    val m = graft.queries.SimilarityOps.annModel(spark, sfDir)
    val emb = graft.Tables(spark, sfDir, "embeddings")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ingest: corpus vectors (q128's vec_id >= 5 side) over 4 micro-batches
    val corpus = emb.filter(col("vec_id") >= 5)
      .as[VecRow].collect().sortBy(_.vec_id)
    val cIn = MemoryStream[VecRow]
    val ingestQ = StreamingAnn.ingest(
        cIn.toDF().withColumnRenamed("vec_id", "neighbor_id"),
        "neighbor_id", m)
      .writeStream.format("memory").queryName("ann_lists")
      .outputMode("append").start()
    try {
      corpus.grouped((corpus.length + 3) / 4).foreach { b =>
        cIn.addData(b.toSeq); ingestQ.processAllAvailable()
      }
    } finally ingestQ.stop()
    val lists = spark.table("ann_lists").cache()
    assert(lists.count() == corpus.length.toLong)

    // serving: the query vectors arrive as their own stream; each
    // micro-batch is answered against the streamed index (foreachBatch —
    // per-query top-k depends only on the index, so per-batch is exact)
    val queries = emb.filter(col("vec_id") < 5)
      .as[VecRow].collect().sortBy(_.vec_id)
    val servedBatches = scala.collection.concurrent.TrieMap
      .empty[Long, Seq[(Long, Int, Long, Long)]]
    val qIn = MemoryStream[VecRow]
    val serveQ = qIn.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        servedBatches(id) = StreamingAnn.serveTopK(b, "vec_id", lists, m)
          .collect().toSeq
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
    try {
      queries.grouped(2).foreach { b =>
        qIn.addData(b.toSeq); serveQ.processAllAvailable()
      }
    } finally serveQ.stop()
    val streamed = servedBatches.values.flatten.toSet

    val batch = graft.SparkEntry.queries("q128_ivfpq_ann")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    lists.unpersist()
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed-batch diff: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("malformed arriving vectors route without crashing and never rank") {
    import spark.implicits._
    val m = graft.queries.SimilarityOps.annModel(spark, sfDir)
    val dirty = Seq(
      VecRow(9001L, null),
      VecRow(9002L, Seq.empty[Float]),
      VecRow(9003L, Seq.fill(3)(0.5f)),   // wrong dimension
      VecRow(9004L, Seq.fill(64)(0.25f))) // well-formed
    val out = StreamingAnn.ingest(
      dirty.toDF("neighbor_id", "embedding"), "neighbor_id", m)
    val rows = out.collect().map(r => r.getLong(0) ->
      (0 until graft.functions.VectorModels.PqM)
        .forall(i => !r.isNullAt(r.fieldIndex(s"code_$i")))).toMap
    assert(rows.keySet == Set(9001L, 9002L, 9003L, 9004L))
    // only the well-formed vector earns codes; malformed ones carry null
    // codes, so their ADC is null and sorts behind every real candidate
    assert(rows(9004L) && !rows(9001L) && !rows(9002L) && !rows(9003L))
  }

  test("ingest routes like the coarseAssign window on the real corpus") {
    val m = graft.queries.SimilarityOps.annModel(spark, sfDir)
    val raw = graft.Tables(spark, sfDir, "embeddings")
    def cids(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = cids(graft.queries.SimilarityOps.coarseAssign(
      raw.select(col("vec_id"), StreamingAnn.toDouble(col("embedding")).as("nv")),
      raw.filter(col("vec_id") < 16).select(col("vec_id").as("cid"),
        StreamingAnn.toDouble(col("embedding")).as("cv")),
      "vec_id", "nv", keep = 1))
    inBothCodegenModes {
      val ing = StreamingAnn.ingest(
          raw.withColumn("lab", col("label").cast("int")), "vec_id", m,
          keepCols = Seq("lab"))
        .select(col("vec_id").cast("long").as("vec_id") +:
          (0 until graft.functions.VectorModels.PqM)
            .map(i => col(s"code_$i")) :+ col("lab") :+ col("cid"): _*)
      assert(want.nonEmpty && cids(ing) == want)
      // codes: (rows, Σ pmod(xxhash64(row), 1e9+7)) of the literal-tree
      // ingest the expressions replaced
      val g = ing.agg(count(lit(1)),
        sum(pmod(xxhash64(ing.columns.map(col): _*), lit(1000000007L)))).head()
      assert((g.getLong(0), g.getLong(1)) == ((500L, 260671045388L)))
    }
  }

  test("ingest plans by model fingerprint inside whole-stage codegen") {
    val m = graft.queries.SimilarityOps.annModel(spark, sfDir)
    val ing = StreamingAnn.ingest(
      graft.Tables(spark, sfDir, "embeddings"), "vec_id", m)
    val plan = ing.queryExecution.optimizedPlan.toString
    assert(plan.length < 5000, plan)
    assert(plan.contains(m.toString), plan)
    // one encode per row: the eight codes read one pqencode value
    assert("pqencode\\(".r.findAllMatchIn(plan).size == 1, plan)
    ing.collect()
    val lines = ing.queryExecution.executedPlan.toString.linesIterator.toSeq
    for (fn <- Seq("annroute(", "pqencode("))
      assert(lines.exists(l => l.contains("*(") && l.contains(fn)),
        lines.mkString("\n"))
  }
}
