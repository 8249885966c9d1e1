package graft.streaming

import graft.SparkSpec
import graft.queries.SimilarityOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-20: the RDD encode kernel (AnnEncodeKernel) must be bit-identical
  * to the Catalyst ingest projection (StreamingAnn.ingest — routeIds +
  * pqEncode) — same cids, same codes, same null degrades — on the real
  * corpus AND on an adversarial fixture covering every documented edge:
  * null / empty / wrong-dimension vectors, null elements, NaN, -0.0
  * cosine ties, duplicate centroids (exact distance ties → smallest cid),
  * and the empty model. The kernel replaces the per-plan Catalyst
  * optimization+codegen of a ~16-cosine + 8x16-distance literal tree on
  * the batch append/build paths; this spec is what makes that swap an
  * optimization instead of a reimplementation.
  */
class AnnEncodeKernelSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def viaIngest(df: DataFrame, m: StreamingAnn.Model): DataFrame =
    StreamingAnn.ingest(
        df.withColumn("lab", col("label").cast("int")),
        "vec_id", m, keepCols = Seq("lab"))
      .select(col("vec_id").cast("long").as("neighbor_id") +:
        (0 until SimilarityOps.PqM)
          .map(i => col(s"code_$i")) :+
        col("lab") :+ col("cid"): _*)

  private def viaKernel(df: DataFrame, m: StreamingAnn.Model): DataFrame =
    AnnEncodeKernel.encode(
      df.select(col("vec_id").cast("long").as("neighbor_id"),
        StreamingAnn.toDouble(col("embedding")).as("nv"),
        col("label").cast("int").as("lab")), m)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("kernel ≡ ingest on the real corpus") {
    val m = StreamingAnn.model(spark, sfDir)
    val base = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        col("label").cast("int").as("label"))
    val a = rows(viaIngest(base, m))
    val b = rows(viaKernel(base, m))
    assert(a.nonEmpty && a == b,
      s"kernel drifted from ingest on the real corpus: " +
        s"${(a -- b).take(3)} vs ${(b -- a).take(3)}")
  }

  test("kernel ≡ ingest on the adversarial fixture (nulls, NaN, ties, " +
    "wrong dims, -0.0) under a tie-planted model") {
    import scala.collection.JavaConverters._
    val dims = graft.functions.VectorFns.Dims
    def vec(f: Int => Double): Seq[java.lang.Float] =
      (0 until dims).map(i => java.lang.Float.valueOf(f(i).toFloat))
    val v0 = vec(i => (i % 7 + 1).toDouble)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    val fixtures: Seq[(Long, Seq[java.lang.Float], Integer)] = Seq(
      (1L, v0, Int.box(3)),                             // clean
      (2L, null,                            null),      // null embedding
      (3L, Seq.empty[java.lang.Float], Int.box(1)),     // empty vector
      (4L, vec(_.toDouble).take(32), Int.box(2)),       // wrong dims
      (5L, v0.updated(10, null.asInstanceOf[java.lang.Float]),
        Int.box(4)),                                    // null element
      (6L, v0.updated(3, java.lang.Float.valueOf(Float.NaN)),
        Int.box(5)),                                    // NaN element
      (7L, vec(_ => 0.0), Int.box(6)),                  // zero norm
      (8L, vec(i => -v0(i).toDouble), Int.box(7)),      // exact negative
      (9L, vec(i => if (i == 0) -0.0 else 0.0), null))  // -0.0 corner
    val df = spark.createDataFrame(
      fixtures.map { case (id, e, l) =>
        Row(id, if (e == null) null else e.map(x =>
          if (x == null) null else x): Any, l)
      }.asJava, schema)

    // model with DUPLICATE centroids (cid 2 ≡ cid 5 — every vector ties
    // exactly, the smaller cid must win in both paths), a null-embedding
    // centroid, a wrong-dimension centroid, and a null-ELEMENT centroid
    // at the minimum cid (every all-null-cosine arrival must route to
    // it). The centroid rows go through annModel's row conversion, which
    // maps both null shapes to the empty vector
    val c0 = (0 until dims).map(i => (i % 5 + 1).toDouble)
    val c1 = (0 until dims).map(i => (i % 3 + 2).toDouble)
    def cvec(xs: Seq[Double]): Seq[java.lang.Double] = xs.map(Double.box)
    val centDf = spark.createDataFrame(Seq(
        Row(1L, cvec(c0).updated(10, null.asInstanceOf[java.lang.Double])),
        Row(2L, cvec(c0)), Row(5L, cvec(c0)), Row(7L, cvec(c1)),
        Row(9L, null), Row(11L, cvec(c1.take(16)))).asJava,
      StructType(Seq(StructField("cid", LongType),
        StructField("cv", ArrayType(DoubleType, containsNull = true)))))
    val model = StreamingAnn.Model(
      centroids = centDf.collect().map(r =>
        r.getLong(0) -> SimilarityOps.annCentroidVec(r, 1)).toSeq,
      cb = (0 until 8).map(mIdx => (0 until 16).map(k =>
        (0 until 8).map(j => ((mIdx + k + j) % 4).toDouble))).toIndexedSeq,
      norms = (0 until 8).map(mIdx => (0 until 16).map(k =>
        (0 until 8).map(j => ((mIdx + k + j) % 4).toDouble)
          .foldLeft(0.0)((a, x) => a + x * x))).toIndexedSeq)
    assert(model.centroids.head == (1L -> Seq.empty[Double]))

    val a = rows(viaIngest(df, model))
    val b = rows(viaKernel(df, model))
    assert(a == b,
      s"kernel drifted from ingest on the fixture: " +
        s"missing=${(a -- b).take(5)} extra=${(b -- a).take(5)}")

    // duplicate-centroid tie really is exercised: the clean vector must
    // route to the SMALLER of the two identical cids
    val cleanCid = viaKernel(df, model)
      .filter(col("neighbor_id") === 1L).select("cid").head().getLong(0)
    assert(Set(2L, 7L).contains(cleanCid))

    // kernel ≡ the batch window over the raw centroid rows: the cid the
    // index build would have assigned before the model was collected
    def cids(df: DataFrame, idCol: String): Map[Long, Long] =
      df.select(idCol, "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SimilarityOps.coarseAssign(
      df.select(col("vec_id"), StreamingAnn.toDouble(col("embedding")).as("nv")),
      centDf, "vec_id", "nv", keep = 1)
    val kernelCids = cids(viaKernel(df, model), "neighbor_id")
    assert(kernelCids == cids(batch, "vec_id"))
    // the null-element arrival scores null everywhere: minimum cid
    assert(kernelCids(5L) == 1L)

    // empty model: null cid, null codes — both paths
    val empty = StreamingAnn.Model(Nil, model.cb, model.norms)
    assert(rows(viaIngest(df, empty)) == rows(viaKernel(df, empty)))
  }
}
