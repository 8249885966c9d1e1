package graft.functions

import java.nio.file.Files

import graft.SparkSpec
import graft.queries.SimilarityOps
import graft.streaming.StreamingAnn
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The model-carrying vector expressions (AnnRoute, PqEncode, AdcDistance)
  * against the forms they replaced: cids against the batch coarseAssign
  * window, codes and ADC against golden values the Catalyst literal trees
  * produced, on an adversarial fixture covering every documented edge —
  * null / empty / wrong-dimension vectors, null elements, NaN, -0.0 cosine
  * ties, duplicate centroids (exact ties → smallest cid) and the empty
  * model — each check in both codegen modes (StreamingAnnSpec pins the
  * same ingest on the real corpus).
  */
class VectorModelsSpec extends SparkSpec {

  /** Round-trips a frame through parquet: a local relation would be
    * evaluated by the optimizer (ConvertToLocalRelation), never by the
    * generated code under test.
    */
  private def onDisk(df: DataFrame): DataFrame = {
    val path = Files.createTempDirectory("graft_vecmodel_").toString + "/t"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private def viaIngest(df: DataFrame, m: AnnModel): DataFrame =
    StreamingAnn.ingest(
        df.withColumn("lab", col("label").cast("int")),
        "vec_id", m, keepCols = Seq("lab"))
      .select(col("vec_id").cast("long").as("neighbor_id") +:
        (0 until VectorModels.PqM).map(i => col(s"code_$i")) :+
        col("lab") :+ col("cid"): _*)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def cids(df: DataFrame, idCol: String): Map[Long, Long] =
    df.select(idCol, "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val dims = VectorFns.Dims

  private def fixture: DataFrame = {
    import scala.jdk.CollectionConverters._
    def vec(f: Int => Double): Seq[java.lang.Float] =
      (0 until dims).map(i => java.lang.Float.valueOf(f(i).toFloat))
    val v0 = vec(i => (i % 7 + 1).toDouble)
    val rows: Seq[(Long, Seq[java.lang.Float], Integer)] = Seq(
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
    onDisk(spark.createDataFrame(
      rows.map { case (id, e, l) => Row(id, e, l) }.asJava,
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)),
        StructField("label", IntegerType)))))
  }

  // centroids with DUPLICATES (cid 2 ≡ cid 5 — exact ties, the smaller cid
  // must win), a null-embedding centroid, a wrong-dimension centroid, and
  // a null-ELEMENT centroid at the minimum cid (every all-null-cosine
  // arrival must route to it). annModel's row conversion maps both null
  // shapes to the empty vector.
  private def centroids: DataFrame = {
    import scala.jdk.CollectionConverters._
    val c0 = (0 until dims).map(i => (i % 5 + 1).toDouble)
    val c1 = (0 until dims).map(i => (i % 3 + 2).toDouble)
    def cvec(xs: Seq[Double]): Seq[java.lang.Double] = xs.map(Double.box)
    spark.createDataFrame(Seq(
        Row(1L, cvec(c0).updated(10, null.asInstanceOf[java.lang.Double])),
        Row(2L, cvec(c0)), Row(5L, cvec(c0)), Row(7L, cvec(c1)),
        Row(9L, null), Row(11L, cvec(c1.take(16)))).asJava,
      StructType(Seq(StructField("cid", LongType),
        StructField("cv", ArrayType(DoubleType, containsNull = true)))))
  }

  private val cb = (0 until 8).map(mIdx => (0 until 16).map(k =>
    (0 until 8).map(j => ((mIdx + k + j) % 4).toDouble))).toIndexedSeq

  // the literal-tree ingest's rows for the fixture: (neighbor_id,
  // code_0..7, lab, cid)
  private val FixtureGolden: Seq[Seq[Any]] = Seq(
    Seq(1L, 1, 1, 1, 1, 1, 1, 1, 2, 3, 7L),
    Seq(2L, null, null, null, null, null, null, null, null, null, 1L),
    Seq(3L, null, null, null, null, null, null, null, null, 1, 1L),
    Seq(4L, null, null, null, null, null, null, null, null, 2, 1L),
    Seq(5L, 1, null, 1, 1, 1, 1, 1, 2, 4, 1L),
    Seq(6L, 0, 1, 1, 1, 1, 1, 1, 2, 5, 2L),
    Seq(7L, 0, 0, 0, 0, 0, 0, 0, 0, 6, 1L),
    Seq(8L, 3, 3, 3, 3, 3, 3, 3, 0, 7, 2L),
    Seq(9L, 0, 0, 0, 0, 0, 0, 0, 0, null, 1L))

  test("adversarial fixture: golden codes, window cids, ties, empty model") {
    val df = fixture
    val centDf = centroids
    val model = AnnModel(
      centroids = centDf.collect().map(r =>
        r.getLong(0) -> SimilarityOps.annCentroidVec(r, 1)).toSeq,
      cb = cb)
    assert(model.centroids.head == (1L -> Seq.empty[Double]))
    // the batch window's full rank order per vector (coarseAssign's
    // ORDER BY cdist DESC, cid), for the top-keep route
    val ranked = df.select(col("vec_id"),
        StreamingAnn.toDouble(col("embedding")).as("nv"))
      .crossJoin(centDf)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(VectorFns.cosine(col("nv"), col("cv")).desc, col("cid"))))
      .collect().groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("r")).map(_.getAs[Long]("cid")).toSeq }
    inBothCodegenModes {
      assert(rows(viaIngest(df, model)) == FixtureGolden.toSet)
      val got = cids(viaIngest(df, model), "neighbor_id")
      // the duplicate-centroid tie really is exercised: the clean vector
      // routes to the SMALLER of the two identical cids, and so does the
      // exact negative (cid 2, never its twin 5)
      assert(Set(2L, 7L).contains(got(1L)))
      assert(got(8L) == 2L)
      assert(got == cids(SimilarityOps.coarseAssign(
        df.select(col("vec_id"), StreamingAnn.toDouble(col("embedding")).as("nv")),
        centDf, "vec_id", "nv", keep = 1), "vec_id"))
      // the null-element arrival scores null everywhere: minimum cid
      assert(got(5L) == 1L)
      // top-keep: the full route equals the window's rank order
      val routes = df.select(col("vec_id"), StreamingAnn.routeIds(
          StreamingAnn.toDouble(col("embedding")), model, 6).as("r"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(routes == ranked)
      // empty model: null cid, codes unchanged
      val empty = AnnModel(Nil, cb)
      assert(rows(viaIngest(df, empty)) ==
        FixtureGolden.map(r => r.init :+ null).toSet)
    }
  }

  // the literal-tree adcDistance's outputs (null = SQL NULL) under the
  // fixture codebook with no centroids (the empty model) and under the
  // all-dirty corpus degrade (a zero codebook)
  private val AdcGolden: Map[String, Map[Long, Any]] = Map(
    "empty model" -> Map(1L -> 715000000000L, 2L -> null, 3L -> null,
      4L -> 715000000000L, 5L -> null, 6L -> 632000000000L, 7L -> null,
      8L -> 2233000000000L, 9L -> 715000000000L),
    "zero codebook" -> Map(1L -> 1261000000000L, 2L -> null, 3L -> null,
      4L -> 1261000000000L, 5L -> null, 6L -> 1120000000000L, 7L -> null,
      8L -> 1261000000000L, 9L -> 1261000000000L))

  test("ADC adversaries equal the literal-tree outputs") {
    import scala.jdk.CollectionConverters._
    val q = (0 until dims).map(i => Double.box((i % 7 + 1).toDouble))
    val codes = Seq[Integer](0, 1, 2, 3, 4, 5, 6, 15)
    val queries: Seq[(Long, Seq[java.lang.Double], Seq[Integer])] = Seq(
      (1L, q, codes),                                      // clean
      (2L, q, codes.updated(3, null)),                     // null code
      (3L, q.take(32), codes),                             // short query
      (4L, q ++ Seq.fill(8)(Double.box(1.0)), codes),      // over-long
      (5L, q.updated(10, null), codes),                    // null element
      (6L, q.updated(3, Double.box(Double.NaN)), codes),   // NaN element
      (7L, null, codes),                                   // null query
      (8L, q.map(x => Double.box(-x)), (8 to 15).reverse.map(Int.box)),
      (9L, q :+ null, codes))                              // null past 64
    val qdf = onDisk(spark.createDataFrame(
      queries.map { case (id, v, c) => Row.fromSeq(Seq(id, v) ++ c) }.asJava,
      StructType(StructField("id", LongType) +:
        StructField("qv", ArrayType(DoubleType, containsNull = true)) +:
        (0 until 8).map(i => StructField(s"code_$i", IntegerType)))))
    val models = Map(
      "empty model" -> AnnModel(Nil, cb),
      "zero codebook" -> AnnModel(Nil,
        IndexedSeq.fill(8)(IndexedSeq.fill(16)(Seq.fill(8)(0.0)))))
    inBothCodegenModes {
      for ((name, m) <- models) {
        val got = qdf.select(col("id"), SimilarityOps.adcDistance("qv", m))
          .collect().map(r => r.getLong(0) -> r.get(1)).toMap
        assert(got == AdcGolden(name), name)
      }
    }
  }
}
