package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.queries.ClusterOps

/** Streaming ingest twin for the clustering arm (batch q141/q142) — the
  * production split every k-means deployment has: the model is TRAINED
  * offline (q141's batch Lloyd refinement), and ingest-time work is pure
  * per-row assignment plus occupancy accounting. Assignment is a
  * stateless in-row argmin against the refined centroid model shipped
  * inside the plan (≤K rows — the StreamingAnn routing discipline), so
  * it is streaming-legal on an unbounded feed with no shuffle and no
  * per-row state; the only state is the occupancy
  * aggregation itself, ≤K long counters regardless of ingest volume.
  *
  * Why occupancy: during a 100 TB corpus build, per-cluster arrival
  * counts against the frozen clustering are the drift signal — a cluster
  * whose share of arrivals diverges from its training share means the
  * ingest distribution moved and the model (and every cluster-balanced
  * sample drawn from it, q142) needs retraining.
  *
  * The batch argmin is a crossJoin + window (rn=1, dist asc, cid asc). A
  * stream cannot run that window, so [[assignCol]] computes the SAME
  * argmin — including tie rules — in-row with ClusterOps.nearestStruct
  * (the model-carrying graft.functions.LatticeNearest). Distances are
  * the exact integer-lattice squared L2 of the batch side (all values
  * ≪ 2^53, every product exact in double), which is what makes streamed
  * ≡ batch PROVABLE (StreamingClusterSpec) rather than
  * approximately-equal.
  */
object StreamingCluster {

  /** The refined centroid model from the batch build — bounded, ≤K rows. */
  def model(s: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    ClusterOps.refinedModel(s, dir)

  /** Nearest refined centroid id for a raw float `embedding` column,
    * entirely in-row. Input must be pre-filtered to well-formed vectors
    * ([[VectorFns.wellFormed]]) — the batch lattice contract.
    */
  def assignCol(embCol: Column, m: Seq[(Long, Seq[Long])]): Column = {
    val qvd = ClusterOps.quant(StreamingAnn.toDouble(embCol))
      .cast("array<double>")
    val qq = VectorFns.dot(qvd, qvd)
    ClusterOps.nearestStruct(qvd, qq, m).getField("cid")
  }

  /** Per-cluster occupancy of a (streaming or batch) frame with a raw
    * float `embedding` column: assignment projection + a ≤K-row count
    * aggregation. On a stream, run with update/complete output — the
    * state is the K counters, volume-invariant.
    */
  def occupancy(vecsDf: DataFrame, m: Seq[(Long, Seq[Long])]): DataFrame =
    vecsDf
      .filter(VectorFns.wellFormed(col("embedding")))
      .select(assignCol(col("embedding"), m).as("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"))

  /** Continuous model-update leg: per-cluster exact lattice sums +
    * counts as a streaming aggregation — the partials the NEXT Lloyd
    * round needs, accumulated at ingest time so retraining is a state
    * read instead of a corpus re-scan. State is ≤K rows × one
    * dims-long array; VecSumAgg's merge-order independence (exact long
    * addition) is what makes the streamed state EQUAL the batch
    * aggregation regardless of micro-batch boundaries — a float
    * mean-update here would drift from the batch build by summation
    * order, which is the q141 design point replayed in streaming form.
    * Works identically on a batch frame (StreamingClusterSpec pins
    * streamed ≡ batch).
    */
  def updateState(vecsDf: DataFrame, m: Seq[(Long, Seq[Long])]): DataFrame = {
    val vsum = udaf(graft.functions.VecSumAgg)
    vecsDf
      .filter(VectorFns.wellFormed(col("embedding")))
      .select(assignCol(col("embedding"), m).as("cid"),
        ClusterOps.quant(StreamingAnn.toDouble(col("embedding"))).as("qv"))
      .groupBy(col("cid"))
      .agg(vsum(col("qv")).as("sv"), count(lit(1)).as("n"))
  }

  /** The round+1 centroid model from the streamed update state (floor
    * division of exact sums — the batch updateCentroids rule).
    */
  def nextCentroids(state: DataFrame): DataFrame =
    state.select(col("cid"), expr("transform(sv, x -> x div n)").as("cv"))
}
