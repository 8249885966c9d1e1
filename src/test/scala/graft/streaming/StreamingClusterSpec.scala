package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streamed ≡ batch for the clustering ingest twin: the full corpus
  * arriving over micro-batches, assigned in-row against the offline
  * (q141-refined) centroid model, must reproduce the registered q141
  * per-cluster membership exactly — same integer distances, same tie
  * rules. Malformed arrivals are excluded by the same well-formed rule
  * the batch lattice applies, never silently assigned.
  */
/** A [[VecRow]] whose elements may be null. */
final case class BoxedVecRow(vec_id: Long, embedding: Seq[java.lang.Float])

object BoxedVecRow {
  def apply(r: VecRow): BoxedVecRow = BoxedVecRow(r.vec_id,
    Option(r.embedding).map(_.map(Float.box)).orNull)
}

class StreamingClusterSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed occupancy over micro-batches equals batch q141 membership") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = StreamingCluster.model(spark, sfDir)
    val corpus = graft.Tables(spark, sfDir, "embeddings")
      .as[VecRow].collect().sortBy(_.vec_id)

    val in = MemoryStream[VecRow]
    val q = StreamingCluster.occupancy(in.toDF(), m)
      .writeStream.format("memory").queryName("cluster_occ")
      .outputMode("complete").start()
    try {
      corpus.grouped((corpus.length + 4) / 5).foreach { b =>
        in.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("cluster_occ")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batch = graft.SparkEntry.queries("q141_kmeans_refine")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed $streamed\nbatch    $batch")
  }

  test("streamed model-update state equals the batch aggregation exactly") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = StreamingCluster.model(spark, sfDir)
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.as[VecRow].collect().sortBy(_.vec_id)

    val in = MemoryStream[VecRow]
    val q = StreamingCluster.updateState(in.toDF(), m)
      .writeStream.format("memory").queryName("cluster_upd")
      .outputMode("complete").start()
    try {
      corpus.grouped((corpus.length + 2) / 3).foreach { b =>
        in.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))
    val streamed = spark.table("cluster_upd").collect().map(key).toSet
    // the same operator over the batch frame — micro-batch boundaries
    // must be invisible (VecSumAgg exact-long merge independence)
    val batch = StreamingCluster.updateState(emb, m).collect().map(key).toSet
    assert(streamed == batch)
    // counts agree with the registered q141 membership, and the next
    // model derives from the state alone (K rows -> K rows)
    val counts = streamed.map(t => t._1 -> t._3).toMap
    val q141 = graft.SparkEntry.queries("q141_kmeans_refine")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == q141)
    assert(StreamingCluster.nextCentroids(spark.table("cluster_upd"))
      .collect().length == counts.size)
  }

  test("round N+1 handoff: nextCentroids from streamed state equals a " +
    "corpus rescan, and the converged model is its own fixed point") {
    // the round-10 directive made explicit: the streamed update state IS
    // round N+1's input — retraining must be a state read, not a 100 TB
    // re-scan. Proven by equality, twice: (a) under the two-round q141
    // model (where the next round genuinely moves centroids — equality
    // is not vacuous), (b) under the q145 CONVERGED model, where the
    // next round must reproduce the model exactly (fixed point).
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.queries.ClusterOps
    val corpus = graft.Tables(spark, sfDir, "embeddings")
      .as[VecRow].collect().sortBy(_.vec_id)

    def streamedNext(m: Seq[(Long, Seq[Long])], name: String): Seq[(Long, Seq[Long])] = {
      val in = MemoryStream[VecRow]
      val q = StreamingCluster.updateState(in.toDF(), m)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        corpus.grouped((corpus.length + 3) / 4).foreach { b =>
          in.addData(b.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      StreamingCluster.nextCentroids(spark.table(name))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .toSeq.sortBy(_._1)
    }

    // (a) refined (two-round) model: state-read round 3 ≡ rescan round 3
    val m2 = StreamingCluster.model(spark, sfDir)
    val next2 = streamedNext(m2, "handoff_refined")
    assert(next2 == ClusterOps.nextModelFromRescan(spark, sfDir, m2))
    assert(next2 != m2, "fixture lost its bite: round 3 moved nothing")

    // (b) converged model: state-read round N+1 ≡ rescan ≡ the model
    val mC = ClusterOps.convergedModel(spark, sfDir)
    val nextC = streamedNext(mC, "handoff_converged")
    assert(nextC == ClusterOps.nextModelFromRescan(spark, sfDir, mC))
    assert(nextC == mC,
      "converged model must be a fixed point of the streamed update")
  }

  test("occupancy state survives a stop/restart from checkpoint exactly once") {
    import spark.implicits._
    val m = StreamingCluster.model(spark, sfDir)
    val corpus = graft.Tables(spark, sfDir, "embeddings")
      .as[VecRow].collect().sortBy(_.vec_id)
    val (batch1, batch2) = corpus.splitAt(corpus.length / 2)

    val inDir = Files.createTempDirectory("cluster_in").toString
    val ckpt = Files.createTempDirectory("cluster_ckpt").toString
    def write(rows: Seq[VecRow]): Unit =
      rows.toSeq.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(inDir)
    def pipeline(name: String) = {
      val schema = spark.read.parquet(inDir).schema
      StreamingCluster.occupancy(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir), m)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    }

    write(batch1.toSeq)
    val q1 = pipeline("cluster_run1")
    try q1.processAllAvailable() finally q1.stop()
    write(batch2.toSeq)
    val q2 = pipeline("cluster_run2")
    try q2.processAllAvailable() finally q2.stop()

    // lost state would count only batch2; replayed input would double
    // batch1 — either breaks equality with the batch q141 membership
    val streamed = spark.table("cluster_run2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.SparkEntry.queries("q141_kmeans_refine")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      "occupancy state lost or duplicated across the restart")
  }

  test("malformed arrivals are excluded, not misassigned; counts still match") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // model trained on a tiny clean fixture; the stream then carries the
    // clean rows PLUS null/empty/ragged/null-element arrivals
    val dim = graft.functions.VectorFns.Dims
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(dim)(i => ((seed * 31 + i * 7) % 13 - 6) / 6.0f)
    val dir = Files.createTempDirectory("graft_stream_cluster_").toString
    val clean = Seq(0L, 1L, 2L, 3L).map(i => VecRow(i, vec(i.toInt)))
    clean.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val m = StreamingCluster.model(spark, dir)

    val in = MemoryStream[BoxedVecRow]
    val q = StreamingCluster.occupancy(in.toDF(), m)
      .writeStream.format("memory").queryName("cluster_occ_dirty")
      .outputMode("complete").start()
    try {
      in.addData((clean :+ VecRow(4L, null) :+ VecRow(5L, Seq.empty[Float])
          :+ VecRow(6L, Seq.tabulate(16)(_.toFloat))).map(BoxedVecRow(_))
        // a null ELEMENT in an otherwise Dims-long vector
        :+ BoxedVecRow(7L, vec(7).map(Float.box).updated(5, null)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cluster_occ_dirty")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.values.sum == clean.length.toLong,
      s"malformed arrival counted: $streamed")
  }
}
