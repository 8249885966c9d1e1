package graft.queries

import graft.SparkSpec
import graft.functions.VectorFns.dot
import org.apache.spark.sql.functions._

/** Round-19 optimization pin: the Lloyd convergence loop's rounds 3+ run
  * on a plain RDD ([[LloydKernel]]) instead of re-planning a DataFrame
  * aggregate per round. The kernel must be BIT-IDENTICAL to the
  * DataFrame round ([[ClusterOps.roundStats]]) — same exact integer
  * lattice distances, the same (dist asc, cid asc) tie rule, the same
  * movement flag against the previous model, and the same exact Long
  * sums — or q145's oracle-replayed trajectory would drift.
  */
class ClusterOpsLoopSpec extends SparkSpec {

  // lattice-valued vectors engineered so that:
  //  - vec 2 is EXACTLY equidistant to both centroids (tie → smaller cid);
  //  - vec 3 moves between prev and cur models (movement flag exercised);
  //  - cids are non-contiguous (0 and 3) like post-drop Lloyd models.
  private val vecs: Seq[Seq[Long]] = Seq(
    Seq(0L, 0L, 1L, 2L),
    Seq(8L, 0L, 1L, 2L),
    Seq(4L, 0L, 0L, 0L), // tie between centroids at x=0 and x=8
    Seq(5L, 0L, 0L, 0L),
    Seq(7L, 3L, 1L, 0L),
    Seq(1L, 3L, 1L, 0L))

  private val cur = Seq(0L -> Seq(0L, 0L, 0L, 0L), 3L -> Seq(8L, 0L, 0L, 0L))
  private val prv = Seq(0L -> Seq(0L, 0L, 0L, 0L), 3L -> Seq(5L, 0L, 0L, 0L))

  private def frame = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (qv, i) => (i.toLong, qv) }
      .toDF("vec_id", "qv")
      .repartition(3) // several partitions: exercises the partial merge
      .withColumn("qvd", transform(col("qv"), x => x.cast("double")))
      .withColumn("qq", dot(col("qvd"), col("qvd")))
  }

  private def rdd = frame.select(col("qv")).rdd.map { row =>
    val qv = row.getSeq[Long](0).toArray
    val qvd = new Array[Double](qv.length)
    var qq = 0.0
    var i = 0
    while (i < qv.length) { qvd(i) = qv(i).toDouble; qq += qvd(i) * qvd(i); i += 1 }
    (qv, qvd, qq)
  }

  test("RDD kernel round equals the DataFrame round (with movement)") {
    val a = ClusterOps.roundStats(frame, cur, Some(prv))
    val b = LloydKernel.roundStats(rdd, cur, Some(prv))
    assert(a == b)
    // the fixture's tie actually fired: vec 2 (x=4) is equidistant to the
    // centroids at x=0 and x=8 and must land on cid 0 in both forms
    val tieCid = b.find(_._1 == 0L).get
    assert(tieCid._2 >= 1L)
  }

  test("RDD kernel round equals the DataFrame round (round 1: no prev, " +
    "every vector moved)") {
    val a = ClusterOps.roundStats(frame, cur, None)
    val b = LloydKernel.roundStats(rdd, cur, None)
    assert(a == b)
    assert(b.map(_._4).sum == vecs.size.toLong)
  }

  test("LatticeNearest breaks the fixture's tie to the smaller cid, " +
    "interpreted and generated") {
    // brute force over the fixture: (dist asc, cid asc)
    def nearest(qv: Seq[Long]): (Long, Long) = cur.map { case (cid, cv) =>
      (qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
    }.min
    val want = vecs.zipWithIndex.map { case (qv, i) =>
      i.toLong -> nearest(qv) }.toMap
    assert(want(2L) == (16L, 0L)) // vec 2 is equidistant: smaller cid
    inBothCodegenModes {
      val got = frame
        .select(col("vec_id"),
          ClusterOps.nearestStruct(col("qvd"), col("qq"), cur).as("n"))
        .collect().map(r => r.getLong(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
      assert(got == want)
    }
    // a null element has no lattice distance: null, never a cluster (the
    // old sort put null distances first and the RDD path unboxed 0)
    import spark.implicits._
    val m = Seq(0L -> Seq.fill(64)(1024L), 3L -> Seq.fill(64)(2048L))
    val qvd = Seq.tabulate[java.lang.Double](64)(i =>
      if (i == 5) null else Double.box(1500.0))
    val n = Seq(Tuple1(qvd)).toDF("qvd")
      .select(ClusterOps.nearestStruct(col("qvd"),
        graft.functions.VectorFns.dot(col("qvd"), col("qvd")), m))
      .head()
    assert(n.isNullAt(0))
  }
}
