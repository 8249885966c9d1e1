package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental gram-novelty scoring — batch q153's streaming twin: as
  * document batches arrive, every ingested doc's first-holder novelty
  * (the share of its distinct 10-grams whose corpus-wide MIN-doc_id
  * holder it is) stays equal to batch q153 over everything ingested,
  * with NO corpus rescan.
  *
  * Batch q153 credits the MIN doc_id, not the first ARRIVAL — so exact
  * equivalence under out-of-order ingest needs retraction: when a
  * lower-id doc arrives late, it STEALS first-holder credit from
  * whichever doc currently holds the gram. The update is local and
  * amortized-bounded, one notch tighter than even StreamingSpanMerge's:
  *
  *   - `holders` store: (ng, holder) — the gram's current min-id holder.
  *     Holders only ever DECREASE (minima are monotone under arrivals),
  *     and each flip touches EXACTLY ONE stored doc (the previous
  *     holder), so per-batch retroactive work is ≤ one counter delta per
  *     flipped gram and a gram's holder changes at most once per
  *     arriving lower id.
  *   - `counts` store: per-doc (seq-versioned) n_grams / n_first rows
  *     plus the content fingerprint; reads keep the latest version,
  *     compaction folds dead versions away (a versioned
  *     [[StateFrames.SegmentedStore]]).
  *
  * Per batch: collapse to distinct (doc_id, gram-hash), take the
  * batch-internal min per gram, fetch the touched holders (keyed
  * lookup at a deployment), and emit gains (new or stolen grams) and
  * losses (stolen-from docs) as counter deltas. Driver state is nothing
  * but the seq counter — both stores are cluster-side frames.
  *
  * Guards (fail-loud): duplicate holder rows for one gram (a corrupt
  * holder store would mis-route retractions silently), non-negative
  * n_first after retraction (holder increases are impossible BY
  * CONSTRUCTION — the flip filter only ever lowers a holder), and
  * the fingerprinted replay guard [[StateFrames.admit]] (whole-batch
  * re-delivery with matching fingerprints skips; id reuse under new
  * content or partial overlap fails loud).
  *
  * StreamingNoveltySpec proves: streamed snapshot ≡ batch q153 after
  * EVERY prefix, ascending AND descending (descending is the maximal-
  * retraction adversary: every arriving doc out-ranks every stored
  * holder it collides with); the planted steal fixture; replay/refusal
  * semantics; kill-and-resume from parquet-persisted stores; and
  * foreachBatch wiring under a real StreamingQuery.
  */
object StreamingNovelty {

  import graft.functions.TextFns.{tokens, wordNgrams}

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class NoveltyState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val holdersSchema = StructType(Seq(
      StructField("ng", LongType), StructField("seq", LongType),
      StructField("holder", LongType)))
    private val countsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("seq", LongType),
      StructField("fp", LongType), StructField("n_grams", LongType),
      StructField("n_first", LongType)))

    private val holderStore = new StateFrames.SegmentedStore(spark,
      holdersSchema, compactAt, latestBy = Seq("ng"))
    private val countStore = new StateFrames.SegmentedStore(spark,
      countsSchema, compactAt, latestBy = Seq("doc_id"))

    private var seq = 0L

    private[streaming] def holdersFrame: DataFrame = holderStore.frame
    private[streaming] def countsFrame: DataFrame = countStore.frame

    private[streaming] def loadFrom(holders: DataFrame,
        counts: DataFrame): Unit = this.synchronized {
      holderStore.reset(holders)
      countStore.reset(counts)
      seq = countStore.maxSeq
    }

    /** Ingest one batch of (doc_id, text) rows (extra columns ignored);
      * all-or-nothing like the family's other ingests.
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      // distinct grams per doc, EXACTLY q153's gram space (whitespace
      // tokens, 10-gram, in-row distinct, xxhash64)
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"),
          array_distinct(wordNgrams(tokens(col("text")), 10)).as("gs"),
          xxhash64(col("text")).as("fp"))
        .select(col("doc_id"), col("fp"),
          coalesce(size(col("gs")), lit(0)).cast("long").as("n_grams"),
          col("gs")))

      if (StateFrames.admit("StreamingNovelty", newDocs,
          countStore.latestOf(newDocs.select(col("doc_id")))) == 0L) return

      // per gram, the batch's min-id claimant
      val batchMin = temp(newDocs
        .select(col("doc_id"), explode(col("gs")).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("ng"))
        .groupBy(col("ng")).agg(min(col("doc_id")).as("claimant")))

      // pruned fetch of the touched holders (keyed lookup at deployment)
      val pruned = temp(holderStore.touching(batchMin.select(col("ng"))))

      // sanity: minima are monotone — a claimant above the holder never
      // flips by the filter below; what CAN silently corrupt is a
      // doctored store carrying duplicate (ng, seq) rows, where
      // keep-latest picks an ARBITRARY holder and mis-routes the
      // retraction — so check the PRE-keep-latest frame, where such
      // duplicates are still visible (post-collapse the guard would be
      // unreachable: keep-latest leaves exactly one row per ng)
      val dupHolders = pruned.groupBy(col("ng"), col("seq"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      if (dupHolders > 0) throw new IllegalStateException(
        s"StreamingNovelty: $dupHolders (gram, seq) pairs carry duplicate " +
          "holder rows — the holder store is corrupt, refusing")

      val held = temp(holderStore.keepLatest(pruned)
        .select(col("ng"), col("holder")))

      // a gram flips to the claimant iff unheld, or held by a LARGER id
      val flips = temp(batchMin
        .join(held, Seq("ng"), "left_outer")
        .filter(col("holder").isNull || col("claimant") < col("holder"))
        .select(col("ng"), col("claimant"), col("holder")))

      val gains = flips.groupBy(col("claimant").as("doc_id"))
        .agg(count(lit(1)).as("gain"))
      val losses = flips.filter(col("holder").isNotNull)
        .groupBy(col("holder").as("doc_id"))
        .agg(count(lit(1)).as("loss"))

      // new docs' count rows (gains joined in); touched stored docs'
      // rows re-emitted with n_first reduced
      val newRows = newDocs.select(col("doc_id"), col("fp"), col("n_grams"))
        .join(gains, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("n_grams"),
          coalesce(col("gain"), lit(0L)).as("n_first"))
      val touched = temp(countStore.latestOf(losses.select(col("doc_id")))
        .join(losses, Seq("doc_id"))
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("n_grams"), (col("n_first") - col("loss")).as("n_first")))
      val bad = touched.filter(col("n_first") < 0).count()
      if (bad > 0) throw new IllegalStateException(
        s"StreamingNovelty: $bad docs would go NEGATIVE n_first after " +
          "retraction — accounting corrupt, refusing")
      val countRows = temp(newRows.unionByName(touched))
      val holderRows = temp(flips
        .select(col("ng"), lit(seq + 1).as("seq"),
          col("claimant").as("holder")))

      // all fallible work done; segments materialize, then driver commit
      val prepared = StateFrames.prepareAll(
        Seq(holderStore -> holderRows, countStore -> countRows))
      this.synchronized {
        seq += 1
        StateFrames.commitAll(prepared)
      }
    }

    /** The current per-doc novelty — batch q153's exact schema and
      * values over everything ingested so far.
      */
    def snapshot(): DataFrame =
      this.synchronized(countStore.latest)
        .select(col("doc_id"), col("n_grams"), col("n_first"))
        .withColumn("novelty_ppm",
          expr("n_first * 1000000L div greatest(n_grams, 1L)"))
  }

  def state(spark: SparkSession): NoveltyState = new NoveltyState(spark)

  /** Kill-and-resume from the two durable stores. */
  def restore(spark: SparkSession, holders: DataFrame,
      counts: DataFrame): NoveltyState = {
    val st = new NoveltyState(spark)
    st.loadFrom(holders, counts)
    st
  }
}
