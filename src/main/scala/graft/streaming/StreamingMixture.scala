package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental post-dedup mixture accounting — batch q147's streaming twin
  * (round-11 VERDICT directive #5). q125 proves an arriving batch can be
  * DEDUPED against the corpus without reprocessing it; this operator goes
  * one step further: each arriving batch also UPDATES the per-source
  * surviving-docs/tokens mixture (q147's exact output — the accounting a
  * continuously ingesting curation pipeline feeds its sampler) without a
  * corpus rescan.
  *
  * Semantics are EXACTLY batch q147's: a document survives iff it is the
  * minimum doc_id of its connected component over the MinHash band-collision
  * pair graph (q57's representative rule; band assignments are the in-row
  * [[graft.functions.MinHash]] form, proven ≡ the batch bands by
  * StreamingLshSpec). That rule is retroactive: a late arrival can BRIDGE
  * two components, flipping a previously-surviving doc to duplicate — so
  * exact incremental accounting requires retraction, not just
  * first-seen-wins. The state design delivers it:
  *
  *   - `bands` index: (band, bkey, doc_id) for every ingested doc — the
  *     same bucket index the batch pipeline groups; an arriving batch
  *     joins it by (band, bkey), touching only colliding buckets.
  *   - `ledger`: (doc_id, source, tok, rep) — each doc's current component
  *     representative (min id). Only docs in TOUCHED components (their
  *     current rep appears among the new edges' endpoints' reps) are ever
  *     re-labeled: the batch's new edges plus the touched components'
  *     (rep → member) star edges preserve exactly their connectivity, so
  *     one [[graft.operators.ConnectedComponents]] run over that small
  *     subgraph yields the new min labels (standard union-find argument —
  *     untouched components cannot change).
  *   - per-source aggregates: updated by DELTAS only — new docs add, and
  *     docs whose rep flips away from themselves retract. Because labels
  *     only ever DECREASE (component minima are monotone under edge
  *     additions), survivor flips are one-directional: survivor →
  *     duplicate, never back. The ingest fails loud if a label ever
  *     increases (that would be a bug, and silently corrupted mixture
  *     weights are the worst failure mode).
  *
  * Guards (all fail-loud, because every failure mode here corrupts
  * mixture weights SILENTLY otherwise):
  *   - rep monotonicity (above) — always on.
  *   - re-used doc_id: doc_ids are unique across the stream (an ingest
  *     id); a duplicate would double-count n_docs/tokens. Checked per
  *     batch (batch-internal and vs the ledger) and thrown — EXCEPT a
  *     whole-batch replay (every id already ingested AND every content
  *     fingerprint matches the ledger's), which is SKIPPED idempotently:
  *     foreachBatch is at-least-once, a crash between a successful
  *     ingest and the streaming checkpoint commit re-delivers the
  *     micro-batch on restart, and throwing there would crash-loop the
  *     resumed stream. The fingerprint is what separates a replay from
  *     an id-counter reset shipping NEW documents under old ids (which
  *     fails loud — an id-only skip would silently drop them).
  *     Skip-if-identical + all-or-nothing ingest (see the commit point
  *     in `ingestWith`) = effectively-once — [[StateFrames.admit]].
  *   - hot-bucket pairwork (`graft.mixture.pairworkGuard` = warn default
  *     / fail / off, threshold `graft.mixture.maxPairworkPerDoc` = 64):
  *     the band-index join is deliberately UNCAPPED for exact ≡ q147, so
  *     one hot bucket (mass-duplicated or low-entropy content) makes a
  *     batch's candidate-pair join quadratic in that bucket's size. The
  *     guard estimates the batch's pairwork from cheap bucket counts
  *     BEFORE the join runs and points at the capped [[StreamingLsh]]
  *     recall trade — same discipline as q100's semdedup guard.
  *
  * Per-batch cost ∝ batch size + touched-component size — never the
  * corpus. [[MixtureState.mixture]] itself reads a ≤|sources| driver map.
  * At 100 TB the two stores are keyed tables (bands bucketed by
  * (band, bkey); ledger keyed by doc_id and partitioned by rep so the
  * touched-component fetch prunes) updated per-key via MERGE / a state
  * store; the local harness emulates them with materialized lineage-cut
  * frames (stats-reset RDD[Row] leaves for the two STORES — see
  * [[StateFrames]] for why Dataset.localCheckpoint's stats
  * preservation is fatal across many batches — and localCheckpoints for
  * within-batch temps) — an emulation cost, not an algorithmic one, and
  * BOUNDED: each ingest explicitly unpersists the superseded ledger
  * blocks and the batch's intermediate checkpoints once the new state
  * is materialized, and the band index — append-only by construction —
  * lives as materialized per-batch segments (compacted past 32), so an
  * ingest appends O(batch) band rows instead of rewriting O(corpus);
  * executor storage holds exactly one copy of each store plus one
  * in-flight batch, never the GC-deferred pile-up of every batch since
  * start. Bucket membership is UNCAPPED here because batch q147's pair
  * graph is uncapped (exact equivalence); a production ingest may cap
  * per-bucket members with exactly [[StreamingLsh]]'s documented recall
  * trade (and the hot-bucket guard above names it at the moment it
  * matters).
  *
  * Ingest contract: doc_ids are unique across the stream (an ingest id).
  * Delivery may be AT-LEAST-ONCE at batch granularity (the foreachBatch
  * restart semantics): a fully re-delivered batch (all ids present,
  * all content fingerprints matching) is skipped idempotently; doc_id
  * reuse — partial overlap, or full id overlap with differing
  * fingerprints — fails loud.
  *
  * StreamingMixtureSpec proves: streamed mixture ≡ batch q147 after every
  * prefix (in-order feed), final equality under ADVERSARIAL (descending)
  * arrival where every component's min arrives last — maximal retraction,
  * the foreachBatch wiring under a real StreamingQuery, kill-and-resume
  * from the durable stores (incl. restore from per-batch-persisted
  * parquet FILES mid-stream, and crash-with-re-delivery), idempotent
  * whole-batch replay skip, partial-overlap/internal-dup refusal,
  * hot-bucket guard behavior, and the flat-stats contract across batches.
  */
object StreamingMixture {

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class MixtureState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {
    import spark.implicits._

    private val bandsSchema = StructType(Seq(
      StructField("band", IntegerType), StructField("bkey", StringType),
      StructField("doc_id", LongType)))
    // fp = xxhash64(source, text): the content fingerprint that lets the
    // idempotent replay skip distinguish a true whole-batch re-delivery
    // (every id present AND every fingerprint matches → skip) from
    // doc_id reuse that happens to collide on every id (an upstream
    // id-counter reset shipping NEW documents under old ids → fail loud;
    // an id-only check would silently drop that batch forever)
    private val ledgerSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("tok", LongType), StructField("rep", LongType),
      StructField("fp", LongType)))

    private var ledger: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[Row](), ledgerSchema)
    // the materialized blocks behind the ledger frame, so a superseded
    // copy can be released explicitly
    private var ledgerBlocks: Option[org.apache.spark.rdd.RDD[Row]] = None

    // The band index is APPEND-ONLY by construction (a doc's band
    // assignments never change), so re-materializing the whole index per
    // batch — as the ledger legitimately must, labels move — would be
    // O(corpus) work for a store that didn't change. It lives as a
    // [[StateFrames.SegmentedStore]] (one single-partition leaf per
    // ingested batch, lazily unioned, compacted + re-coalesced past
    // compactAt — the segment lifecycle shared with
    // StreamingContamination's gram index).
    private val bandStore =
      new StateFrames.SegmentedStore(spark, bandsSchema, compactAt)

    private def bands: DataFrame = bandStore.frame

    // per-source [n_docs, n_survivors, tokens_total, tokens_surviving]:
    // bounded by |sources| — the one driver-side piece, same contract as
    // the family's ≤K centroid models
    private val agg = mutable.Map.empty[Option[String], Array[Long]]

    private def bump(src: Option[String], d: Array[Long]): Unit = {
      val a = agg.getOrElseUpdate(src, Array.fill(4)(0L))
      var i = 0; while (i < 4) { a(i) += d(i); i += 1 }
    }

    /** Exposed for the spec's doc-level monotonicity assertions. */
    private[streaming] def ledgerFrame: DataFrame = ledger

    /** Exposed so a checkpointing deployment can persist the band index
      * alongside the ledger (the two stores [[StreamingMixture.restore]]
      * rebuilds from).
      */
    private[streaming] def bandsFrame: DataFrame = bands

    private[streaming] def loadFrom(bandsStore: DataFrame,
        ledgerStore: DataFrame): Unit = {
      val oldLedger = ledgerBlocks
      val (l, lRdd) = StateFrames.materialize(spark, ledgerStore
        .select(col("doc_id"), col("source"), col("tok"), col("rep"),
          col("fp")))
      val restored = l.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum((col("rep") === col("doc_id")).cast("long")).as("s"),
          sum(col("tok")).as("t"),
          sum(when(col("rep") === col("doc_id"), col("tok"))
            .otherwise(0L)).as("ts"))
        .collect()
      this.synchronized {
        bandStore.reset(bandsStore)
        ledger = l; ledgerBlocks = Some(lRdd)
        oldLedger.foreach(_.unpersist(blocking = false))
        agg.clear()
        restored.foreach(r => bump(Option(r.getString(0)),
          Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      }
    }

    /** Pre-join estimate of the batch's candidate-pair work from cheap
      * bucket counts (q100's guardPairwork discipline, directive #4 of
      * round 12): per touched bucket a new doc pairs with every stored
      * member and every other new member, so one hot bucket makes the
      * uncapped band-index join quadratic in that bucket's size —
      * SILENTLY, as latency. warn by default (a live stream should keep
      * flowing while someone reads the log), fail under the measurement
      * harness (`graft.mixture.pairworkGuard=fail` — an errored run is
      * an artifact entry; a warning in a batch log is invisible).
      * Estimate runs in DOUBLE: a mass-dup bucket past ~3e9 members
      * would wrap n*(n-1) in Long and disarm the guard exactly where it
      * matters (guardPairwork's overflow lesson).
      */
    private def guardBucketPairwork(nNew: Long, newBands: DataFrame): Unit = {
      val mode = spark.conf.get("graft.mixture.pairworkGuard", "warn")
      if (mode != "off" && mode != "warn" && mode != "fail")
        throw new IllegalArgumentException(
          s"graft.mixture.pairworkGuard must be off|warn|fail, got '$mode'" +
            " — refusing to guess (a typo'd 'fail' silently degrading to" +
            " warn would disarm the measurement harness's fail-loud" +
            " contract)")
      if (mode == "off" || nNew == 0L) return
      val perDocCap =
        spark.conf.get("graft.mixture.maxPairworkPerDoc", "64").toLong
      val newCnt = newBands.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n_new"))
      // only buckets the batch touches matter — the same pruned access
      // pattern the candidate join itself performs (keyed fetch at a
      // deployment, map-side semi join against the batch's keys here)
      val oldCnt = bands
        .join(newCnt.select(col("band"), col("bkey")),
          Seq("band", "bkey"), "left_semi")
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n_old"))
      val row = newCnt.join(oldCnt, Seq("band", "bkey"), "left_outer")
        .agg(sum(col("n_new").cast("double")
            * coalesce(col("n_old"), lit(0L)).cast("double")
          + col("n_new").cast("double")
            * (col("n_new") - lit(1L)).cast("double") / lit(2.0))
          .as("pairwork"))
        .head()
      if (row.isNullAt(0)) return
      val pairwork = row.getDouble(0)
      if (pairwork > perDocCap.toDouble * nNew) {
        val msg = "StreamingMixture hot-bucket guard: this batch's " +
          s"band-collision join yields ~${pairwork.toLong} candidate " +
          s"pairs over $nNew new docs " +
          s"(${(pairwork / nNew).toLong} per doc > threshold $perDocCap): " +
          "a hot bucket (mass-duplicated or low-entropy content) makes " +
          "the uncapped band-index join quadratic in that bucket's " +
          "size. Exact ≡ q147 requires the uncapped join; the capped " +
          "StreamingLsh (maxBucket per-bucket state cap) is the " +
          "documented recall trade for production ingest. Set " +
          "graft.mixture.maxPairworkPerDoc / " +
          "graft.mixture.pairworkGuard=off to proceed deliberately."
        if (mode == "fail") throw new IllegalStateException(msg)
        else System.err.println(s"[graft] WARN $msg")
      }
    }

    /** Ingest one batch of (doc_id, source, text) rows: dedup it against
      * everything seen so far, re-label exactly the touched components,
      * and apply the mixture deltas. Batch-internal collisions count too
      * (two near-dup docs arriving together pair immediately).
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      // tok EXACTLY as q147 computes it (whitespace token count, null → 0);
      // fp is the replay-vs-reuse content fingerprint (see ledgerSchema)
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source"),
          coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
            .as("tok"),
          xxhash64(col("source"), col("text")).as("fp")))

      // the replay guard reads the whole ledger (a keyed lookup at a
      // deployment); nNew also feeds the hot-bucket guard
      val nNew = StateFrames.admit("StreamingMixture", newDocs, ledger)
      if (nNew == 0L) return

      val newBands = temp(StreamingLsh
        .bandAssignments(batch.select(col("doc_id"), col("text")))
        .toDF().select(col("band"), col("bkey"), col("docId").as("doc_id")))

      guardBucketPairwork(nNew, newBands)

      // candidate pairs: new docs vs (stored ∪ new) — every pair involves
      // a new doc; old-old connectivity already lives in the ledger's reps
      val edges = temp(newBands.as("a")
        .join(bands.unionByName(newBands).as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
            && col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("u"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("v"))
        .distinct())

      val (newRows, affLabeled, touchedReps) =
        if (edges.isEmpty) {
          (newDocs.withColumn("rep", col("doc_id")), None, None)
        } else {
          val endpoints = edges.select(col("u").as("doc_id"))
            .union(edges.select(col("v").as("doc_id"))).distinct()
          // components being merged = current reps of OLD endpoint docs
          val touched = temp(endpoints.join(ledger, "doc_id")
            .select(col("rep")).distinct())
          val affected = ledger.join(touched, "rep")
          // the touched components' connectivity, as (rep → member) stars
          val star = affected
            .select(col("rep").as("u"), col("doc_id").as("v"))
            .filter(col("u") =!= col("v"))
          val (ccLabels, _, ccFinal) = graft.operators.ConnectedComponents
            .runHandle(edges.unionByName(star))
          val labels = temp(ccLabels.withColumnRenamed("node", "doc_id"))
          // labels is materialized now; the CC final-round frame's blocks
          // can be released instead of lingering until driver GC (CC's
          // intermediate rounds already release in-loop)
          graft.operators.ConnectedComponents.releaseBlocks(ccFinal)
          val aff = temp(affected
            .join(labels, Seq("doc_id"), "left_outer")
            .select(col("doc_id"), col("source"), col("tok"), col("rep"),
              col("fp"), coalesce(col("label"), col("rep")).as("newRep")))
          val nr = newDocs.join(labels, Seq("doc_id"), "left_outer")
            .select(col("doc_id"), col("source"), col("tok"), col("fp"),
              coalesce(col("label"), col("doc_id")).as("rep"))
          (nr, Some(aff), Some(touched))
        }
      val newLedgerRows = temp(newRows)

      // fail LOUD if a label ever increased: component minima are monotone
      // under edge additions, so this can only be a bug — and a silently
      // wrong mixture weight is this operator's worst failure mode
      affLabeled.foreach { aff =>
        val bad = aff.filter(col("newRep") > col("rep")).count()
        if (bad > 0) throw new IllegalStateException(
          s"StreamingMixture: $bad re-labeled docs INCREASED their rep — " +
            "monotonicity violated, refusing to ship corrupted mixture " +
            "accounting")
      }

      // mixture deltas: new docs add; one-directional survivor flips
      // retract. COLLECTED here but APPLIED only at the commit point
      // below — bumping the driver aggregates before the fallible state
      // materializations would leave a half-applied batch on failure
      // (agg bumped, ledger not), and because the ledger never recorded
      // the batch, a re-delivery would pass the replay guard and
      // double-count: the silent-corruption mode every other guard here
      // refuses.
      val addDeltas = newLedgerRows.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum((col("rep") === col("doc_id")).cast("long")).as("s"),
          sum(col("tok")).as("t"),
          sum(when(col("rep") === col("doc_id"), col("tok"))
            .otherwise(0L)).as("ts"))
        .collect()
      val retractDeltas = affLabeled.toSeq.flatMap { aff =>
        aff.filter(col("rep") === col("doc_id") &&
            col("newRep") =!= col("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("tok")).as("t"))
          .collect()
      }

      // state update: untouched rows pass through; touched components get
      // their new labels; new docs append (per-key MERGE at a deployment)
      val updated = touchedReps match {
        case None => ledger.unionByName(newLedgerRows)
        case Some(touched) =>
          ledger.join(touched, Seq("rep"), "left_anti")
            .unionByName(affLabeled.get
              .select(col("doc_id"), col("source"), col("tok"),
                col("newRep").as("rep"), col("fp")))
            .unionByName(newLedgerRows)
      }
      // ALL fallible cluster work completes before any driver-side state
      // mutates: a throw anywhere above leaves ledger/bands/agg exactly
      // at the pre-batch state, so the batch can be re-delivered whole
      // (and a re-delivery after SUCCESS is refused whole by the replay
      // guard). The new ledger copy materializes EAGERLY (reading the
      // old blocks); the band index only APPENDS — the batch becomes one
      // new single-partition segment (coalesced: a segment is
      // batch-sized; without it, union scans accumulate each batch-plan's
      // partition count in task overhead).
      // the batch-sized segment materializes FIRST and the O(corpus)
      // ledger copy second, with an explicit unpersist of the segment if
      // the ledger copy throws — so a failure between the two can orphan
      // at most nothing (segment released) rather than a full duplicate
      // ledger waiting on driver GC
      val newSeg = bandStore.prepare(newBands)
      val (l, lRdd) = try StateFrames.materialize(spark, updated) catch {
        case t: Throwable =>
          newSeg._2.unpersist(blocking = false)
          throw t
      }

      // commit point: pure driver-side bookkeeping, synchronized so a
      // concurrent mixture() poll never reads a half-applied batch
      // (foreachBatch ingests from the stream thread; the monitor is
      // read from the driver)
      this.synchronized {
        addDeltas.foreach(r => bump(Option(r.getString(0)),
          Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        retractDeltas.foreach(r => bump(Option(r.getString(0)),
          Array(0L, -r.getLong(1), 0L, -r.getLong(2))))
        val oldLedger = ledgerBlocks
        ledger = l; ledgerBlocks = Some(lRdd)
        oldLedger.foreach(_.unpersist(blocking = false))
        // store.commit's compaction sits inside the batch's commit
        // deliberately: it only swaps an equivalent representation, so a
        // failure inside it leaves the batch fully applied with the
        // uncompacted segments intact (the next commit re-triggers it)
        bandStore.commit(newSeg)
      }
    }

    private val mixtureSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("n_docs", LongType, nullable = false),
      StructField("n_survivors", LongType, nullable = false),
      StructField("tokens_total", LongType, nullable = false),
      StructField("tokens_surviving", LongType, nullable = false),
      StructField("mix_ppm", LongType)))

    /** The current post-dedup mixture — q147's exact schema and values
      * over everything ingested so far. Reads the ≤|sources| driver
      * aggregates only (no corpus scan, no state-frame scan); ppm shares
      * q147's zero-guard (NULL on a zero-surviving-token corpus) and its
      * truncating division (values nonnegative, BigInt / ≡ Spark div ≡
      * DuckDB //).
      */
    def mixture(): DataFrame = this.synchronized {
      // synchronized against ingest's commit point: a live-stream poll
      // must never read weights between a batch's additions and its
      // retractions (and the per-source arrays mutate in place)
      val total = agg.valuesIterator.map(_(3)).sum
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      agg.toSeq.sortBy(_._1).foreach { case (src, a) =>
        val ppm: Any =
          if (total == 0L) null
          else java.lang.Long.valueOf(
            (BigInt(a(3)) * 1000000 / BigInt(total)).toLong)
        rows.add(Row(src.orNull, a(0), a(1), a(2), a(3), ppm))
      }
      spark.createDataFrame(rows, mixtureSchema)
    }
  }

  def state(spark: SparkSession): MixtureState = new MixtureState(spark)

  /** Kill-and-resume: rebuild a state from the two DURABLE stores (at a
    * deployment they are tables; the per-source aggregates are
    * recomputed with ONE pass over the ledger — the only full-state scan
    * this operator ever does, paid at RESTART, never per batch).
    * StreamingMixtureSpec proves resume-then-continue ≡ uninterrupted.
    */
  def restore(spark: SparkSession, bandsStore: DataFrame,
      ledgerStore: DataFrame): MixtureState = {
    val st = new MixtureState(spark)
    st.loadFrom(bandsStore, ledgerStore)
    st
  }
}
