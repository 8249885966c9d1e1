package graft.streaming

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.ConnectedComponents.releaseBlocks

/** The incremental-ingest protocol shared by the driver-owned streaming
  * twins (StreamingMixture, StreamingNovelty, StreamingParagraph,
  * StreamingBoilerplate, StreamingSpanMerge, StreamingExport,
  * StreamingShards, StreamingContamination). Each twin keeps only its
  * own algorithm; the protocol pieces live here once:
  *
  *   - [[IncrementalState]]: per-batch temporaries released when the
  *     batch ends, and the one foreachBatch wiring;
  *   - [[admit]]: the fingerprinted replay guard that turns
  *     at-least-once delivery into effectively-once ingest;
  *   - [[SegmentedStore]]: an append-only or keep-latest versioned store
  *     held as materialized per-batch segments;
  *   - [[prepareAll]]: phase one of the two-phase commit across stores.
  *
  * State frames are materialized as lineage-severed leaves with RESET
  * statistics. Why not `Dataset.localCheckpoint` directly: it PRESERVES
  * the optimized plan's Catalyst stats on the checkpointed leaf
  * (`LogicalRDD.fromDataset` rewrites them on). Normally a feature; fatal
  * at stream length — each batch's new state plan joins/unions frames
  * that are themselves checkpoints, size estimates MULTIPLY through
  * joins (`SizeInBytesOnlyStatsPlanVisitor.visitJoin`), so the preserved
  * BigInt roughly SQUARES per batch: bit-length doubles, and by ~batch 12
  * the stream thread measurably sat for an hour inside
  * `BigInteger.multiplyToomCook3` computing statistics (round-13 find;
  * short specs never reach the regime). Routing through RDD[Row] +
  * `createDataFrame` resets the leaf to default stats — per-batch stats
  * work stays bounded forever. The Row round-trip is part of the
  * documented local-emulation cost (a deployment's keyed tables never
  * re-materialize the store).
  */
private[streaming] object StateFrames {

  type Segment = (DataFrame, RDD[Row])

  /** Materialize `df` as a stats-reset, lineage-severed leaf; returns the
    * frame plus the checkpointed RDD backing it so a superseded copy can
    * be unpersisted explicitly (ContextCleaner only reclaims at driver
    * GC — unbounded over a long-running stream otherwise). A throw
    * while materializing releases the half-built RDD before it
    * propagates.
    */
  def materialize(spark: SparkSession, df: DataFrame): Segment = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    try rdd.count()
    catch {
      case t: Throwable =>
        rdd.unpersist(blocking = false)
        throw t
    }
    (spark.createDataFrame(rdd, df.schema), rdd)
  }

  /** The replay guard: decides whether a batch of `newDocs` (doc_id, fp)
    * is applied, given the caller's `seen` view of already-ingested
    * (doc_id, fp) rows — pruned to the batch's ids or not. Returns the
    * batch's row count when it is to be applied and 0 when it is not
    * (callers that size a guard by the batch read the count from this
    * same job instead of paying a second one). ONE job checks
    * every form (count vs distinct-count catches batch-internal repeats;
    * the left join — a keyed lookup at a deployment — counts
    * already-ingested ids and matching fingerprints):
    *   - batch-internal duplicate rows: always a contract violation,
    *     fail loud (would double-count within one ingest).
    *   - an empty batch: 0 — an empty trigger is a no-op (it would
    *     otherwise append empty segments or rewrite whole stores).
    *   - ALL ids already ingested AND all content fingerprints match:
    *     an idempotent SKIP (0), not an error. foreachBatch is
    *     at-least-once — a crash between a successful ingest (+ store
    *     persist) and the streaming checkpoint commit re-delivers the
    *     whole micro-batch on restart, so throwing here would
    *     crash-loop the resumed stream forever; skipping the
    *     fully-applied batch is what turns at-least-once delivery into
    *     effectively-once ingest.
    *   - ALL ids already ingested but fingerprints differ: fail loud —
    *     an upstream id-counter reset shipping NEW documents under old
    *     ids; an id-only skip would silently drop them forever.
    *   - SOME ids already ingested: fail loud. A batch replay is
    *     all-or-nothing (ingest mutates no state on failure — every twin
    *     commits only after its fallible work), so partial overlap can
    *     only be doc_id reuse across distinct batches, and proceeding
    *     would silently corrupt the operator's accounting.
    * Skip-if-identical + all-or-nothing ingest = effectively-once.
    */
  def admit(op: String, newDocs: DataFrame, seen: DataFrame): Long = {
    val stats = newDocs
      .join(seen.select(col("doc_id"), lit(1).as("seen"),
          col("fp").as("seen_fp")),
        Seq("doc_id"), "left_outer")
      .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("nd"),
        sum(coalesce(col("seen"), lit(0))).as("replayed"),
        sum(when(col("seen_fp") === col("fp"), 1L).otherwise(0L))
          .as("matched"))
      .head()
    val n = stats.getLong(0)
    if (n != stats.getLong(1)) throw new IllegalStateException(
      s"$op: batch carries ${n - stats.getLong(1)} duplicate doc_id " +
        "rows — the ingest contract requires unique doc_ids within a " +
        "batch; refusing to double-count")
    if (n == 0L) return 0L
    val replayed = stats.getLong(2)
    val matched = stats.getLong(3)
    if (replayed == n && matched == n) {
      System.err.println(s"[graft] $op: all $n doc_ids of this batch are " +
        "already ingested with matching content fingerprints — skipping " +
        "as an idempotent replay (at-least-once re-delivery after a " +
        "restart)")
      0L
    } else if (replayed == n) throw new IllegalStateException(
      s"$op: all $n doc_ids in this batch are already ingested but " +
        s"${n - matched} content fingerprints differ — not a replay, this " +
        "is doc_id reuse shipping NEW documents under old ids (an id-only " +
        "skip would silently drop them); refusing")
    else if (replayed > 0L) throw new IllegalStateException(
      s"$op: $replayed of $n doc_ids in this batch were already ingested " +
        "but the rest were not — a partial overlap, not a whole-batch " +
        "replay (ingest is all-or-nothing), so this is doc_id reuse; " +
        "refusing")
    else n
  }

  /** Phase 1 of the two-phase commit across stores: materialize each
    * batch frame as a segment of its store, in order. If one throws, the
    * segments already built are released and no store is touched. The
    * caller adopts the result with [[commitAll]] inside its own
    * synchronized commit point.
    */
  def prepareAll(batches: Seq[(SegmentedStore, DataFrame)])
      : Seq[(SegmentedStore, Segment)] = {
    val done = mutable.ListBuffer.empty[(SegmentedStore, Segment)]
    try batches.foreach { case (store, df) =>
      done += store -> store.prepare(df)
    } catch {
      case t: Throwable =>
        done.foreach(_._2._2.unpersist(blocking = false))
        throw t
    }
    done.toList
  }

  /** Phase 2: adopt prepared segments (driver-side only). */
  def commitAll(prepared: Seq[(SegmentedStore, Segment)]): Unit =
    prepared.foreach { case (store, seg) => store.commit(seg) }

  /** A store held as materialized per-batch segments — the one
    * segment-lifecycle implementation (the ordering subtleties —
    * materialize-before-commit, unpersist-after-swap, re-coalesce on
    * compaction — live here ONCE).
    *
    * Representation: each appended batch is one single-partition
    * stats-reset leaf; `frame` unions them lazily (union stats ADD — no
    * compounding); past `compactAt` segments the union compacts into one
    * leaf re-coalesced to defaultParallelism (the union RDD's partition
    * count is the SUM of its segments', so an uncoalesced compaction
    * would bake ~compactAt partitions in per cycle, growing task
    * overhead forever). Append is TWO-PHASE so callers can order the
    * fallible materialization before their commit point: `prepare`
    * materializes (throwing leaves the store untouched; the caller
    * unpersists the orphan), `commit` swaps driver state only.
    *
    * A VERSIONED store names its `latestBy` key columns: its rows carry a
    * per-ingest `seq`, and a key's row with the highest seq is the live
    * one. `latest` and `latestOf` read that keep-latest view; compaction
    * and reset fold the union down to it, which never changes observable
    * contents but stops dead versions accumulating across compaction
    * cycles. An append-only store passes no keys.
    */
  final class SegmentedStore(spark: SparkSession, schema: StructType,
      compactAt: Int, latestBy: Seq[String] = Nil) {

    private var segments: Vector[Segment] = Vector.empty

    /** Every row of every segment (all versions). */
    def frame: DataFrame =
      if (segments.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      else segments.map(_._1).reduce(_ unionByName _)

    /** Keep-latest over a frame of this store's rows: one row per key,
      * the highest seq. Identity on an append-only store.
      */
    def keepLatest(df: DataFrame): DataFrame =
      if (latestBy.isEmpty) df
      else df.withColumn("rn", row_number().over(Window
          .partitionBy(latestBy.map(col): _*).orderBy(col("seq").desc)))
        .filter(col("rn") === 1).drop("rn")

    /** The live rows. */
    def latest: DataFrame = keepLatest(frame)

    /** The rows (all versions) whose columns match a row of `keys` — the
      * pruned, keyed fetch a deployment does; locally a semi-join scan.
      */
    def touching(keys: DataFrame): DataFrame =
      frame.join(keys, keys.columns.toSeq, "left_semi")

    /** The live rows for `keys`: pruned first, then keep-latest, so no
      * store-wide window runs per batch.
      */
    def latestOf(keys: DataFrame): DataFrame = keepLatest(touching(keys))

    /** The highest committed seq (0 when empty) — the restart-time read
      * that resumes a versioned store's counter.
      */
    def maxSeq: Long = {
      val m = frame.agg(max(col("seq"))).head()
      if (m.isNullAt(0)) 0L else m.getLong(0)
    }

    /** Phase 1 (fallible): materialize a batch-sized frame as one
      * single-partition segment. The store is untouched; on a later
      * failure the caller (or [[prepareAll]]) releases `segment._2`.
      */
    def prepare(batch: DataFrame): Segment =
      materialize(spark, batch.coalesce(1))

    /** Phase 2 (driver-only): adopt a prepared segment; compact past the
      * threshold. Compaction failure leaves the batch fully applied with
      * the uncompacted segments intact (the next commit re-triggers it).
      */
    def commit(seg: Segment): Unit = {
      segments :+= seg
      if (segments.size > compactAt) compact()
    }

    /** Replace the whole store from a durable frame (restore path), read
      * as this store's schema; superseded segments are released after
      * the new one materializes.
      */
    def reset(store: DataFrame): Unit = {
      val old = segments
      val seg = materialize(spark, keepLatest(store.select(
        schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)))
      segments = Vector(seg)
      old.foreach(_._2.unpersist(blocking = false))
    }

    private def compact(): Unit = {
      val old = segments
      val par = spark.sparkContext.defaultParallelism
      segments = Vector(materialize(spark, latest.coalesce(par)))
      old.foreach(_._2.unpersist(blocking = false))
    }
  }
}

/** A driver-owned incremental operator state: one all-or-nothing
  * [[ingest]] per micro-batch, wired to a stream by [[attach]].
  */
trait IncrementalState {

  /** One batch's work. `temp` localCheckpoints a batch intermediate and
    * registers it for release when the batch ends, applied or thrown —
    * this bounds executor storage to the state stores plus one in-flight
    * batch (ContextCleaner would reclaim the blocks only at driver GC).
    */
  protected def ingestWith(batch: DataFrame,
      temp: DataFrame => DataFrame): Unit

  /** Ingest one batch. */
  def ingest(batch: DataFrame): Unit = {
    val temps = mutable.ListBuffer.empty[DataFrame]
    def temp(plan: DataFrame): DataFrame = {
      val df = plan.localCheckpoint(true)
      temps += df
      df
    }
    try ingestWith(batch, temp)
    finally temps.foreach(releaseBlocks)
  }

  /** Wire a streaming frame into this state — one foreachBatch ingest per
    * micro-batch (the state update is a transactional MERGE at a
    * deployment, so foreachBatch is the honest sink shape, like
    * DimRouter's; the replay guard makes at-least-once delivery
    * effectively-once).
    */
  def attach(docs: DataFrame): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch((b: Dataset[Row], _: Long) => ingest(b.toDF()))
      .start()
}
