package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental physical shard manifest — batch q162's streaming twin: as
  * document batches arrive, the per-shard manifest (live docs, exported
  * tokens, first/last doc in pack order, integer checksum) stays exactly
  * q162's rollup over the shards a continuously-running exporter would
  * have written, with NO corpus rescan.
  *
  * The pack ORDER is where the twin and the batch plan legitimately
  * differ, and the difference is the operator's point: batch q162 packs
  * in a seeded-hash permutation (an offline choice, computable only with
  * the whole corpus in hand); an online exporter has exactly one order
  * available — arrival. So the twin assigns each doc its pack position
  * ONCE, at the moment it first becomes export-eligible (grant-time kept
  * tokens fix its start offset and shard), and everything DOWNSTREAM of
  * the ordering is q162 verbatim: prefix-sum starts, shard_id = start
  * div C, and the same per-shard rollup columns with the same checksum
  * arithmetic. StreamingShardsSpec pins the equality that matters: after
  * every prefix the manifest equals an independent replay (batch
  * eligibility via q162's own survivor arm + a plain-Scala pack), under
  * ascending AND descending ingest.
  *
  * Eligibility and retraction ride [[StreamingExport]] wholesale — the
  * inner ExportState maintains the three q156 arms (canonical steal,
  * late-bench contamination, keep-first removal flips). On top of it the
  * shard layer adds ONE monotone fact: export eligibility of a stored
  * doc only ever goes DOWN (canonical is only revoked, contamination
  * only acquired), so grants are insert-once — a doc enters the pack at
  * most once, at its own arrival, and a later retraction just leaves a
  * HOLE in its shard. A retraction therefore re-opens ONLY its own
  * shard: no other shard's membership, token count, or checksum moves
  * (spec-pinned); a shard whose members all retract simply leaves the
  * manifest (its identity stays in the assignment store). Kept-token
  * shrink (a q155 holder steal against a packed doc) shrinks its shard's
  * live token count without moving any start offset — shards are
  * identities, not re-packed regions, exactly how a trainer's already-
  * written files behave.
  *
  * Fail-loud guards: an export-eligible doc with no assignment row means
  * the grant step was lost between the inner commit and the shard commit
  * (the one non-atomic seam in the local emulation) — manifest() refuses
  * rather than silently under-reporting a shard. Replay/refusal
  * semantics are the inner state's verbatim: a replayed batch grants
  * nothing (every eligible doc already holds an assignment).
  *
  * Local-emulation costs are the family's documented ones: the per-batch
  * grant probe reads the keep-latest doc view (store-sized here; a keyed
  * doc table + MERGE at a deployment), the grant window runs over a
  * batch-sized frame, and restore rebuilds counters from one aggregate
  * over the assignment store.
  *
  * Reference: the batch composition at queries/CorpusOps.scala (q162);
  * arm semantics via StreamingExport (q156 ≡ q34/q63/q155).
  */
object StreamingShards {

  import graft.functions.TextFns.hash32

  final class ShardState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32,
      val shardTokens: Long = 4096L) extends IncrementalState {

    private[streaming] val inner =
      new StreamingExport.ExportState(spark, compactAt)

    private val asgSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", LongType),
      StructField("start", LongType), StructField("kept0", LongType),
      StructField("shard_id", LongType)))

    private val asgStore =
      new StateFrames.SegmentedStore(spark, asgSchema, compactAt)

    // driver pack counters: next pack position (1-based) and the granted
    // token high-water mark — the only cross-batch pack state
    private var nextPos = 0L
    private var placed = 0L

    private[streaming] def asgFrame: DataFrame = asgStore.frame

    /** Current export-eligible docs with CURRENT kept tokens — q156's
      * snapshot filter over the inner keep-latest doc view.
      */
    private def eligibleNow: DataFrame =
      inner.latestDocs
        .filter(col("doc_id") >= 10 && col("canonical") &&
          !col("contaminated"))
        .select(col("doc_id"),
          (col("n_tokens") - col("removed")).as("kept"))

    /** Ingest one batch of (doc_id, source, text) rows: the inner export
      * state applies all three retraction arms, then every doc that is
      * export-eligible and unassigned (i.e. newly granted — stored docs
      * only ever LOSE eligibility) is appended to the pack in doc_id
      * order at grant-time kept size.
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = this.synchronized {
      inner.ingest(batch) // replay skips and refusals propagate from here
      val grants = eligibleNow
        .join(asgStore.frame.select(col("doc_id")), Seq("doc_id"),
          "left_anti")
      // batch-sized by the monotonicity argument above; the
      // single-partition window is over this batch's grants only
      val w = Window.orderBy(col("doc_id"))
      val newRows = grants
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("run", sum(col("kept")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"),
          (col("rk") + nextPos).as("pos"),
          (col("run") - col("kept") + placed).as("start"),
          col("kept").as("kept0"))
        .withColumn("shard_id", expr(s"start div ${shardTokens}L"))
      val seg = asgStore.prepare(newRows)
      try {
        val a = seg._1
          .agg(count(lit(1)), coalesce(sum(col("kept0")), lit(0L))).head()
        if (a.getLong(0) == 0L) seg._2.unpersist(blocking = false)
        else {
          asgStore.commit(seg)
          nextPos += a.getLong(0)
          placed += a.getLong(1)
        }
      } catch {
        case t: Throwable =>
          seg._2.unpersist(blocking = false); throw t
      }
    }

    /** The current per-shard manifest — q162's rollup columns over the
      * LIVE members of each shard (holes from retracted docs drop out;
      * token counts and checksums read CURRENT kept). A shard with no
      * live members leaves the manifest; its identity stays in the
      * assignment store.
      */
    def manifest(): DataFrame = this.synchronized {
      val elig = eligibleNow
      val asg = asgStore.frame
      val missing = elig
        .join(asg.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .count()
      if (missing > 0) throw new IllegalStateException(
        s"StreamingShards: $missing export-eligible docs have no shard " +
          "assignment — the grant step was lost, refusing to " +
          "under-report the manifest")
      asg.join(elig, Seq("doc_id"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_tokens"),
          min_by(col("doc_id"), col("pos")).as("first_doc"),
          max_by(col("doc_id"), col("pos")).as("last_doc"),
          sum(hash32(concat_ws(":", col("doc_id"), col("kept"))))
            .as("checksum"))
    }

    private[streaming] def loadFrom(docs: DataFrame, fps: DataFrame,
        bench: DataFrame, cg5: DataFrame, g10: DataFrame, hold: DataFrame,
        asg: DataFrame): Unit = this.synchronized {
      inner.loadFrom(docs, fps, bench, cg5, g10, hold)
      asgStore.reset(asg)
      val m = asgStore.frame
        .agg(coalesce(max(col("pos")), lit(0L)),
          coalesce(max(col("start") + col("kept0")), lit(0L))).head()
      nextPos = m.getLong(0)
      placed = m.getLong(1)
    }
  }

  def state(spark: SparkSession): ShardState = new ShardState(spark)

  /** Kill-and-resume: the six inner stores plus the assignment store;
    * the only restart-time scans are the two max reads.
    */
  def restore(spark: SparkSession, docs: DataFrame, fps: DataFrame,
      bench: DataFrame, cg5: DataFrame, g10: DataFrame, hold: DataFrame,
      asg: DataFrame, shardTokens: Long = 4096L): ShardState = {
    val st = new ShardState(spark, shardTokens = shardTokens)
    st.loadFrom(docs, fps, bench, cg5, g10, hold, asg)
    st
  }
}
