package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental duplicated-span maintenance — batch q149's streaming twin:
  * as document batches arrive, every ingested doc's maximal
  * duplicated-span statistics (the removal geometry of exact-substring
  * dedup, Lee et al. 2022) stay equal to batch q149 over everything
  * ingested so far, with NO corpus rescan.
  *
  * The interesting semantics is RETROACTIVE: a gram is duplicated once it
  * occurs twice ANYWHERE in the corpus, so an arriving doc can flip a
  * gram held by a long-ingested doc from unique to duplicated — that
  * doc's spans must extend (or merge) after the fact. The state design
  * makes the retroactive update local AND amortized-bounded:
  *
  *   - `grams` index: (doc_id, pos, ng) for every ingested doc —
  *     append-only by construction (a doc's positional grams never
  *     change); the keyed fetch source for touched docs' recomputes.
  *   - `dup` set: gram hashes known duplicated — append-only MONOTONE
  *     (once duplicated, always duplicated; occurrence counts never
  *     decrease).
  *   - `spans` store: per-doc (seq-versioned) span statistics plus the
  *     doc's token count and content fingerprint; reads keep the latest
  *     version per doc, compaction folds dead versions away.
  *
  * Per batch: count the batch's grams; a gram FLIPS iff it is not yet in
  * `dup` and (it occurs ≥2 times in the batch, or ≥1 time in the batch
  * and ≥1 time in the store). Only flip-touched stored docs plus the
  * batch's own docs recompute their spans — through the SAME
  * [[graft.operators.DupSpans]] island core the batch query runs.
  *
  * THE AMORTIZED BOUND (why there is no hot-key guard here, unlike
  * StreamingMixture's band join): a stored gram with ≥2 occurrences is
  * already in `dup`, so a flip's stored side has EXACTLY ONE holder —
  * each flipped gram touches at most one stored doc, and a gram flips at
  * most once over the stream's lifetime. Total retroactive work over the
  * whole stream is therefore ≤ one span recompute per (gram, holder)
  * pair that ever flips — linear in corpus grams, never quadratic,
  * whatever the skew. The per-batch worst case is the touched docs'
  * combined gram count (each bounded by its doc length).
  *
  * Guards (fail-loud; silently wrong span statistics ship corrupted
  * dedup decisions):
  *   - dup_tokens/max_span monotonicity per touched doc — span coverage
  *     is a union over a monotone duplicated-position set, so a decrease
  *     can only be a bug; the ingest refuses to commit it.
  *   - doc_id uniqueness with the fingerprinted whole-batch replay skip
  *     ([[StateFrames.admit]]: foreachBatch is at-least-once; a full
  *     re-delivery with matching content fingerprints skips
  *     idempotently, id reuse under new content or partial overlap
  *     fails loud).
  *
  * Local-emulation costs are the family's documented ones: the three
  * stores are materialized lineage-cut, stats-reset frames
  * ([[StateFrames.materialize]]); at a deployment they are keyed tables
  * (`grams` bucketed by ng AND indexed by doc_id, `dup` keyed by ng,
  * `spans` keyed by doc_id, MERGE-on-version) and every semi-join here
  * is a keyed fetch. Restore rebuilds from the three durable frames with
  * one restart-time scan (max seq), never a per-batch one.
  *
  * StreamingSpanMergeSpec proves: streamed snapshot ≡ batch q149 after
  * EVERY prefix; the retroactive-extension leg (a late doc flips an
  * early doc's grams — its span row updates in place); idempotent
  * whole-batch replay skip; partial-overlap and fingerprint-mismatch
  * refusal; kill-and-resume from parquet-persisted stores ≡
  * uninterrupted; the monotonicity guard's refusal on a doctored store;
  * null-text docs; and foreachBatch wiring under a real StreamingQuery.
  */
object StreamingSpanMerge {

  import graft.operators.DupSpans

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class SpanState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val gramsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", IntegerType),
      StructField("ng", LongType)))
    private val dupSchema = StructType(Seq(StructField("ng", LongType)))
    private val spansSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("seq", LongType),
      StructField("fp", LongType), StructField("n_tokens", LongType),
      StructField("n_spans", LongType), StructField("dup_tokens", LongType),
      StructField("max_span_tokens", LongType)))

    private val gramStore =
      new StateFrames.SegmentedStore(spark, gramsSchema, compactAt)
    private val dupStore =
      new StateFrames.SegmentedStore(spark, dupSchema, compactAt)
    // versioned per doc (seq is a per-ingest monotone counter)
    private val spanStore = new StateFrames.SegmentedStore(spark,
      spansSchema, compactAt, latestBy = Seq("doc_id"))

    private var seq = 0L

    /** The three durable stores a deployment persists per batch and
      * [[StreamingSpanMerge.restore]] rebuilds from.
      */
    private[streaming] def gramsFrame: DataFrame = gramStore.frame
    private[streaming] def dupFrame: DataFrame = dupStore.frame
    private[streaming] def spansFrame: DataFrame = spanStore.frame

    private[streaming] def loadFrom(grams: DataFrame, dup: DataFrame,
        spans: DataFrame): Unit = this.synchronized {
      gramStore.reset(grams)
      dupStore.reset(dup)
      spanStore.reset(spans)
      // one restart-time scan: resume the version counter past anything
      // ever committed
      seq = spanStore.maxSeq
    }

    /** Ingest one batch of (doc_id, text) rows (extra columns ignored).
      * All fallible cluster work runs before the commit point; a throw
      * leaves every store at the pre-batch state, so a batch is applied
      * all-or-nothing (and a post-success re-delivery is skipped whole
      * by the fingerprint guard).
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      import graft.functions.TextFns.tokens
      // every read of the span store below is PRUNED to the doc_ids at
      // hand before the keep-latest window runs (`latestOf`: a keyed
      // lookup at a deployment; locally the semi-join scans the store —
      // the family's documented emulation cost — but no corpus-wide
      // window or materialization happens per batch)
      // n_tokens EXACTLY as batch q149 computes it (whitespace token
      // count, null → 0); fp is the replay-vs-reuse content fingerprint
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"),
          coalesce(size(tokens(col("text"))), lit(0)).cast("long")
            .as("n_tokens"),
          xxhash64(col("text")).as("fp"),
          col("text")))

      if (StateFrames.admit("StreamingSpanMerge", newDocs,
          spanStore.latestOf(newDocs.select(col("doc_id")))) == 0L) return

      val newGrams = temp(DupSpans
        .positionalGrams(newDocs.select(col("doc_id"), col("text"))))

      // flip detection: batch-side occurrence counts, plus a PRUNED fetch
      // of stored occurrences matching the batch's grams (keyed fetch at
      // a deployment). A stored gram with ≥2 occurrences is already in
      // `dup`, so n_s here is 0 or 1 for every candidate — the amortized
      // bound in the class doc.
      val batchCnt = newGrams.groupBy(col("ng"))
        .agg(count(lit(1)).as("n_b"))
      val storedTouched =
        temp(gramStore.touching(newGrams.select(col("ng")).distinct()))
      val storedCnt = storedTouched.groupBy(col("ng"))
        .agg(count(lit(1)).as("n_s"))
      val flipped = temp(batchCnt
        .join(storedCnt, Seq("ng"), "left_outer")
        .filter(col("n_b") >= 2 || coalesce(col("n_s"), lit(0L)) >= 1)
        .join(dupStore.frame, Seq("ng"), "left_anti")
        .select(col("ng")))

      // stored docs whose spans the flips touch (≤ one per flipped gram)
      val touchedOld = temp(storedTouched
        .join(flipped, Seq("ng"), "left_semi")
        .select(col("doc_id")).distinct())

      // recompute spans for exactly (new docs ∪ touched stored docs):
      // their positional rows, filtered to the as-of-this-batch dup set
      val dupAll = dupStore.frame.unionByName(flipped)
      val theirGrams = gramStore.touching(touchedOld).unionByName(newGrams)
      val stats = DupSpans.perDocStats(
        theirGrams.join(dupAll, Seq("ng"), "left_semi"))

      // static per-doc fields: from the batch for new docs, carried over
      // from the latest span row for touched stored docs
      val latestTouched = temp(spanStore.latestOf(touchedOld))
      val info = newDocs.select(col("doc_id"), col("n_tokens"), col("fp"))
        .unionByName(latestTouched
          .select(col("doc_id"), col("n_tokens"), col("fp")))
      val spanRows = temp(info
        .join(stats, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens")))

      // fail LOUD if coverage ever shrank: duplicated positions are
      // monotone, so span coverage (and the max span) can only grow —
      // a decrease is a bug, and silently wrong span statistics are this
      // operator's worst failure mode. (n_spans may legitimately drop:
      // two spans merge when the gap between them fills in.)
      val bad = spanRows.as("new")
        .join(latestTouched.as("old"), "doc_id")
        .filter(col("new.dup_tokens") < col("old.dup_tokens")
          || col("new.max_span_tokens") < col("old.max_span_tokens"))
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"StreamingSpanMerge: $bad re-computed docs DECREASED their span " +
          "coverage — monotonicity violated, refusing to ship corrupted " +
          "span statistics")

      // all fallible work done; materialize the segments (a batch that
      // flips no gram appends no dup segment), then commit driver-side
      val dupRows = if (flipped.isEmpty) Nil else Seq(dupStore -> flipped)
      val prepared = StateFrames.prepareAll(
        Seq(gramStore -> newGrams) ++ dupRows ++ Seq(spanStore -> spanRows))
      this.synchronized {
        seq += 1
        StateFrames.commitAll(prepared)
      }
    }

    /** The current per-doc span statistics — batch q149's exact schema
      * and values over everything ingested so far. Reads the latest span
      * version per doc; no gram-store scan.
      */
    def snapshot(): DataFrame =
      this.synchronized(spanStore.latest)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("dup_tokens"), col("max_span_tokens"))
        .withColumn("dup_ppm",
          expr("dup_tokens * 1000000L div greatest(n_tokens, 1L)"))
  }

  def state(spark: SparkSession): SpanState = new SpanState(spark)

  /** Kill-and-resume: rebuild from the three durable stores; the only
    * restart-time scan is the max-seq read.
    */
  def restore(spark: SparkSession, grams: DataFrame, dup: DataFrame,
      spans: DataFrame): SpanState = {
    val st = new SpanState(spark)
    st.loadFrom(grams, dup, spans)
    st
  }
}
