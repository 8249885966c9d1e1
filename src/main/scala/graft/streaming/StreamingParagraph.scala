package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental paragraph-level keep-first dedup — batch q159's streaming
  * twin, landing the SAME round as its batch op: as document batches
  * arrive, every ingested doc's surviving-paragraph accounting (CCNet-
  * style keep-first over fixed 20-token paragraphs) stays equal to
  * batch q159 over everything ingested, with NO corpus rescan.
  *
  * Batch q159 keeps the MIN (doc_id, para_idx) occurrence of each
  * distinct paragraph — so exact equivalence under out-of-order ingest
  * needs retraction: a late lower-(doc_id, idx) arrival STEALS
  * keep-first credit from whichever occurrence currently holds the
  * paragraph. This is StreamingNovelty's holder discipline ordered by
  * (doc_id, para_idx) instead of doc_id alone, with TOKEN-WEIGHTED
  * counters (a flip moves the paragraph's token count, not just 1):
  *
  *   - `holders` store: (h, hdoc, hidx) — the paragraph's current
  *     min-occurrence holder. Holders only ever DECREASE
  *     lexicographically, and each flip touches EXACTLY ONE stored doc
  *     (the previous holder), so per-batch retroactive work is one
  *     counter delta per flipped paragraph and a paragraph's holder
  *     changes at most once per arriving lower occurrence.
  *   - `counts` store: per-doc (seq-versioned) n_paras / n_kept /
  *     tokens_kept rows plus the content fingerprint; reads keep the
  *     latest version, compaction folds dead versions away.
  *
  * The flip delta needs the DISPLACED paragraph's token count — which
  * equals the claimant's (same md5 → same text → same token count), so
  * no positional paragraph index is stored at all: two stores, like
  * StreamingNovelty, and the per-batch work is batch-sized plus one
  * row per flip.
  *
  * Guards (fail-loud): duplicate (h, seq) rows in the pruned holder
  * fetch (a corrupt store would mis-route retractions silently — the
  * check runs on the PRE-keep-latest frame where duplicates are still
  * visible), non-negative kept counters after retraction, and the
  * fingerprinted replay guard [[StateFrames.admit]].
  *
  * StreamingParagraphSpec proves: streamed snapshot ≡ batch q159 after
  * EVERY prefix, ascending AND descending (descending is the maximal-
  * steal adversary); the planted steal fixture with exact token
  * arithmetic; replay/refusal semantics; kill-and-resume from
  * parquet-persisted stores; and foreachBatch wiring under a real
  * StreamingQuery.
  */
object StreamingParagraph {

  import graft.functions.TextFns.tokens

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class ParagraphState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val holdersSchema = StructType(Seq(
      StructField("h", StringType), StructField("seq", LongType),
      StructField("hdoc", LongType), StructField("hidx", IntegerType)))
    private val countsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("seq", LongType),
      StructField("fp", LongType), StructField("n_tokens", LongType),
      StructField("n_paras", LongType), StructField("n_kept", LongType),
      StructField("tokens_kept", LongType)))

    private val holderStore = new StateFrames.SegmentedStore(spark,
      holdersSchema, compactAt, latestBy = Seq("h"))
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
      // paragraphs EXACTLY as batch q159 derives them (20-token chunks,
      // md5 hash, chunk token count); null text → null array → no rows
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          coalesce(size(tokens(col("text"))), lit(0)).cast("long")
            .as("n_tokens"),
          xxhash64(col("text")).as("fp")))
      val paras = temp(newDocs
        .filter(col("text").isNotNull)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, (size(t) + 19) div 20 - 1), " +
              "i -> struct(array_join(slice(t, i*20+1, 20), ' ') AS c, " +
              "size(slice(t, i*20+1, 20)) AS sz))"))
          .as(Seq("idx", "p")))
        .select(col("doc_id"), col("idx").cast("int").as("idx"),
          md5(col("p.c")).as("h"), col("p.sz").cast("long").as("sz")))

      if (StateFrames.admit("StreamingParagraph", newDocs,
          countStore.latestOf(newDocs.select(col("doc_id")))) == 0L) return

      // per paragraph hash, the batch's min-(doc_id, idx) claimant; its
      // sz rides along (equal-hash occurrences share the token count)
      val batchMin = temp(paras
        .groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("idx"), col("sz"))).as("m"))
        .select(col("h"), col("m.doc_id").as("mdoc"),
          col("m.idx").as("midx"), col("m.sz").as("msz")))

      // pruned fetch of the touched holders (keyed lookup at deployment)
      val pruned = temp(holderStore.touching(batchMin.select(col("h"))))
      // corrupt-store check BEFORE keep-latest collapses duplicates away
      val dupHolders = pruned.groupBy(col("h"), col("seq"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      if (dupHolders > 0) throw new IllegalStateException(
        s"StreamingParagraph: $dupHolders (paragraph, seq) pairs carry " +
          "duplicate holder rows — the holder store is corrupt, refusing")
      val held = temp(holderStore.keepLatest(pruned)
        .select(col("h"), col("hdoc"), col("hidx")))

      // a paragraph flips to the claimant iff unheld, or held by a
      // LARGER (doc_id, idx) occurrence
      val flips = temp(batchMin
        .join(held, Seq("h"), "left_outer")
        .filter(col("hdoc").isNull ||
          struct(col("mdoc"), col("midx")) <
            struct(col("hdoc"), col("hidx")))
        .select(col("h"), col("mdoc"), col("midx"), col("msz"),
          col("hdoc")))

      // token-weighted deltas: gains to claimants, losses to displaced
      // stored holders (the displaced paragraph's size == msz, same md5)
      val gains = flips.groupBy(col("mdoc").as("doc_id"))
        .agg(count(lit(1)).as("gain_n"), sum(col("msz")).as("gain_sz"))
      val losses = flips.filter(col("hdoc").isNotNull)
        .groupBy(col("hdoc").as("doc_id"))
        .agg(count(lit(1)).as("loss_n"), sum(col("msz")).as("loss_sz"))

      val paraTotals = paras.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"))
      val newRows = newDocs
        .select(col("doc_id"), col("fp"), col("n_tokens"))
        .join(paraTotals, Seq("doc_id"), "left_outer")
        .join(gains, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("n_tokens"),
          coalesce(col("n_paras"), lit(0L)).as("n_paras"),
          coalesce(col("gain_n"), lit(0L)).as("n_kept"),
          coalesce(col("gain_sz"), lit(0L)).as("tokens_kept"))
      val touched = temp(countStore.latestOf(losses.select(col("doc_id")))
        .join(losses, Seq("doc_id"))
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("n_tokens"), col("n_paras"),
          (col("n_kept") - col("loss_n")).as("n_kept"),
          (col("tokens_kept") - col("loss_sz")).as("tokens_kept")))
      val bad = touched
        .filter(col("n_kept") < 0 || col("tokens_kept") < 0).count()
      if (bad > 0) throw new IllegalStateException(
        s"StreamingParagraph: $bad docs would go NEGATIVE kept counts " +
          "after retraction — accounting corrupt, refusing")
      // every displaced holder must exist in the counts store — a holder
      // row referencing an unknown doc would drop its retraction
      // SILENTLY otherwise (the StreamingExport guard, same rationale)
      val missing = losses
        .join(touched.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .count()
      if (missing > 0) throw new IllegalStateException(
        s"StreamingParagraph: $missing displaced holders are absent " +
          "from the counts store — holder store is corrupt, refusing")
      val countRows = temp(newRows.unionByName(touched))
      val holderRows = temp(flips
        .select(col("h"), lit(seq + 1).as("seq"),
          col("mdoc").as("hdoc"), col("midx").as("hidx")))

      // all fallible work done; segments materialize, then driver commit
      val prepared = StateFrames.prepareAll(
        Seq(holderStore -> holderRows, countStore -> countRows))
      this.synchronized {
        seq += 1
        StateFrames.commitAll(prepared)
      }
    }

    /** The current per-doc paragraph accounting — batch q159's exact
      * schema and values over everything ingested so far.
      */
    def snapshot(): DataFrame =
      this.synchronized(countStore.latest)
        .select(col("doc_id"), col("n_tokens"), col("n_paras"),
          col("n_kept").as("n_paras_kept"), col("tokens_kept"))
        .withColumn("kept_ppm",
          expr("tokens_kept * 1000000L div greatest(n_tokens, 1L)"))
  }

  def state(spark: SparkSession): ParagraphState = new ParagraphState(spark)

  /** Kill-and-resume: rebuild from the two durable stores; the only
    * restart-time scan is the max-seq read.
    */
  def restore(spark: SparkSession, holders: DataFrame,
      counts: DataFrame): ParagraphState = {
    val st = new ParagraphState(spark)
    st.loadFrom(holders, counts)
    st
  }
}
