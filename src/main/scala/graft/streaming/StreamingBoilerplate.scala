package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental boilerplate removal — batch q173's streaming twin: as
  * document batches arrive, every ingested doc's cleaning accounting
  * (paragraphs, boilerplate paragraphs, tokens kept after dropping ALL
  * occurrences of same-source chunks with df >= MinDf) stays equal to
  * batch q173 over everything ingested, with NO corpus rescan.
  *
  * The retraction class is NEW in the twin family: q159/q153 retract
  * credit from ONE holder (the previous minimum); here a chunk's
  * same-source df crossing MinDf must retract kept tokens from ALL its
  * stored occurrences at once. The amortized shape that keeps this
  * bounded:
  *
  *   - df is MONOTONE UP under arrivals (doc_ids never replay — the
  *     family's refusal discipline — so every arrival holding a chunk is
  *     a new distinct doc), hence a chunk FLIPS to boilerplate at most
  *     once, ever;
  *   - holders are remembered ONLY while a chunk is under threshold, so
  *     the holder store carries at most MinDf−1 (= 2) docs per distinct
  *     chunk — the flip retracts exactly those, and every later arrival
  *     of a boilerplate chunk is accounted at insert time, storing
  *     nothing. Total retroactive work over any ingest history is
  *     <= (MinDf−1) × distinct chunks — each chunk pays once.
  *
  * Stores (the SegmentedStore conventions of StreamingNovelty):
  *   - `chunks`: (ck = source␟md5(chunk), seq, df) — keep-latest df per
  *     same-source chunk. boilerplate ⇔ df >= MinDf (no separate flag:
  *     df is monotone, the predicate never reverts).
  *   - `holders`: (ck, doc_id, seq, n_occ, sz_sum) — the under-threshold
  *     occurrences a future flip must retract. Rows for flipped chunks
  *     are dead weight bounded by the same MinDf−1 per chunk (kept, not
  *     tombstoned: correctness never re-reads them — a flip happens
  *     once — and the bound is the one the live rows already have).
  *   - `counts`: per-doc seq-versioned accounting rows + the replay
  *     fingerprint; reads keep the latest version.
  *
  * Null semantics replicate batch q173 EXACTLY: a null-source doc's
  * chunks can never match the (source, h) boilerplate key (SQL equality
  * join), so they are counted in n_paras but never tracked, never flip,
  * and keep all their tokens; null-text docs have zero paras and zero
  * tokens.
  *
  * Guards (fail-loud): the fingerprinted replay guard
  * [[StateFrames.admit]] (whole-batch re-delivery skips, id reuse refuses),
  * duplicate holder versions for one (ck, doc) (a corrupt store would
  * double-retract silently), and non-negative tokens_kept after
  * retraction.
  *
  * StreamingBoilerplateSpec proves: streamed snapshot ≡ batch q173 after
  * EVERY prefix, ascending AND descending (descending maximizes the
  * stored-holder population every flip must retract); the planted
  * template-crossing-df fixture (a doc's tokens_kept visibly drops when
  * the third same-source copy arrives; a cross-source copy never
  * triggers); replay/refusal semantics; and kill-and-resume from
  * parquet-persisted stores.
  */
object StreamingBoilerplate {

  import graft.functions.TextFns.tokens

  private[streaming] val MinDf = 3L

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class BoilerplateState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val chunksSchema = StructType(Seq(
      StructField("ck", StringType), StructField("seq", LongType),
      StructField("df", LongType)))
    private val holdersSchema = StructType(Seq(
      StructField("ck", StringType), StructField("doc_id", LongType),
      StructField("seq", LongType), StructField("n_occ", LongType),
      StructField("sz_sum", LongType)))
    private val countsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("seq", LongType),
      StructField("fp", LongType), StructField("source", StringType),
      StructField("n_tokens", LongType), StructField("n_paras", LongType),
      StructField("n_boiler_paras", LongType),
      StructField("tokens_kept", LongType)))

    private val chunkStore = new StateFrames.SegmentedStore(spark,
      chunksSchema, compactAt, latestBy = Seq("ck"))
    private val holderStore = new StateFrames.SegmentedStore(spark,
      holdersSchema, compactAt, latestBy = Seq("ck", "doc_id"))
    private val countStore = new StateFrames.SegmentedStore(spark,
      countsSchema, compactAt, latestBy = Seq("doc_id"))

    private var seq = 0L

    private[streaming] def chunksFrame: DataFrame = chunkStore.frame
    private[streaming] def holdersFrame: DataFrame = holderStore.frame
    private[streaming] def countsFrame: DataFrame = countStore.frame

    private[streaming] def loadFrom(chunks: DataFrame, holders: DataFrame,
        counts: DataFrame): Unit = this.synchronized {
      chunkStore.reset(chunks)
      holderStore.reset(holders)
      countStore.reset(counts)
      seq = countStore.maxSeq
    }

    /** Ingest one batch of (doc_id, source, text) rows (extra columns
      * ignored); all-or-nothing like the family's other ingests.
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      // null-safe replay fingerprint (the StreamingExport rule: null
      // source/text fingerprint deterministically, never to SQL null)
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          col("text").cast("string").as("text"))
        .withColumn("fp", xxhash64(concat_ws("\u0001",
          coalesce(col("source"), lit("<null-source>")),
          coalesce(col("text"), lit("<null-text>")))))
        .withColumn("n_tokens",
          coalesce(size(tokens(col("text"))), lit(0)).cast("long")))

      if (StateFrames.admit("StreamingBoilerplate", newDocs,
          countStore.latestOf(newDocs.select(col("doc_id")))) == 0L) return

      // EXACTLY q173's chunk space: 20-token paragraphs of the
      // whitespace tokenization, h = md5(chunk), sz = tokens in chunk.
      // Chunks of null-source docs are counted in n_paras but NEVER
      // tracked (batch's equality join can't match them).
      val chunks = temp(newDocs
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("source"), posexplode(expr(
            "transform(sequence(0, (size(t) + 19) div 20 - 1), " +
              "i -> struct(md5(array_join(slice(t, i * 20 + 1, 20), ' ')) " +
              "AS h, least(20, size(t) - i * 20) AS sz))"))
          .as(Seq("para_idx", "c")))
        .select(col("doc_id"), col("source"), col("c.h").as("h"),
          col("c.sz").cast("long").as("sz")))

      val perDocParas = chunks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"))

      // tracked chunk occurrences: same-source key ck, per (ck, doc)
      val occ = temp(chunks
        .filter(col("source").isNotNull)
        .select(concat_ws("", col("source"), col("h")).as("ck"),
          col("doc_id"), col("sz"))
        .groupBy(col("ck"), col("doc_id"))
        .agg(count(lit(1)).as("n_occ"), sum(col("sz")).as("sz_sum")))

      // per-chunk df delta and the stored df (pruned keyed fetch)
      val batchDf = occ.groupBy(col("ck"))
        .agg(count(lit(1)).as("batch_df"))
      val storedPruned = temp(chunkStore.touching(batchDf.select(col("ck"))))
      val dupChunks = storedPruned.groupBy(col("ck"), col("seq"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      if (dupChunks > 0) throw new IllegalStateException(
        s"StreamingBoilerplate: $dupChunks (ck, seq) pairs carry " +
          "duplicate chunk rows — the chunk store is corrupt, refusing")
      val merged = temp(batchDf
        .join(chunkStore.keepLatest(storedPruned).select(col("ck"),
          col("df").as("old_df")), Seq("ck"), "left_outer")
        .select(col("ck"), col("batch_df"),
          coalesce(col("old_df"), lit(0L)).as("old_df"))
        .withColumn("new_df", col("old_df") + col("batch_df")))

      // flips: under threshold before, at-or-over after — retract ALL
      // stored holders of exactly these chunks
      val flipped = merged
        .filter(col("old_df") < MinDf && col("new_df") >= MinDf)
        .select(col("ck"))
      val heldPruned = temp(holderStore.touching(flipped))
      val dupHolders = heldPruned.groupBy(col("ck"), col("doc_id"),
          col("seq"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      if (dupHolders > 0) throw new IllegalStateException(
        s"StreamingBoilerplate: $dupHolders (ck, doc, seq) triples carry " +
          "duplicate holder rows — the holder store is corrupt, refusing " +
          "to double-retract")
      val losses = holderStore.keepLatest(heldPruned)
        .groupBy(col("doc_id"))
        .agg(sum(col("n_occ")).as("d_boiler"),
          sum(col("sz_sum")).as("d_kept"))

      // batch docs' own accounting: occurrences of chunks that are
      // boilerplate AFTER this batch (old boiler or flipped now) count
      // at insert time
      val boilerNow = merged.filter(col("new_df") >= MinDf)
        .select(col("ck"))
      val perDocBoiler = occ
        .join(boilerNow, Seq("ck"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_occ")).as("b_occ"), sum(col("sz_sum")).as("b_sz"))
      val newRows = newDocs
        .select(col("doc_id"), col("fp"), col("source"), col("n_tokens"))
        .join(perDocParas, Seq("doc_id"), "left_outer")
        .join(perDocBoiler, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("source"), col("n_tokens"),
          coalesce(col("n_paras"), lit(0L)).as("n_paras"),
          coalesce(col("b_occ"), lit(0L)).as("n_boiler_paras"),
          (col("n_tokens") - coalesce(col("b_sz"), lit(0L)))
            .as("tokens_kept"))

      // touched stored docs: re-emit with the flipped chunks' tokens
      // retracted
      val touched = temp(countStore.latestOf(losses.select(col("doc_id")))
        .join(losses, Seq("doc_id"))
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("source"), col("n_tokens"), col("n_paras"),
          (col("n_boiler_paras") + col("d_boiler")).as("n_boiler_paras"),
          (col("tokens_kept") - col("d_kept")).as("tokens_kept")))
      val bad = touched.filter(col("tokens_kept") < 0).count()
      if (bad > 0) throw new IllegalStateException(
        s"StreamingBoilerplate: $bad docs would go NEGATIVE tokens_kept " +
          "after retraction — accounting corrupt, refusing")

      val countRows = temp(newRows.unionByName(touched))
      val chunkRows = temp(merged
        .select(col("ck"), lit(seq + 1).as("seq"),
          col("new_df").as("df")))
      // holders: only under-threshold chunks remember their occurrences
      val holderRows = temp(occ
        .join(merged.filter(col("new_df") < MinDf).select(col("ck")),
          Seq("ck"), "left_semi")
        .select(col("ck"), col("doc_id"), lit(seq + 1).as("seq"),
          col("n_occ"), col("sz_sum")))

      // all fallible work done; segments materialize, then driver commit
      val prepared = StateFrames.prepareAll(Seq(chunkStore -> chunkRows,
        holderStore -> holderRows, countStore -> countRows))
      this.synchronized {
        seq += 1
        StateFrames.commitAll(prepared)
      }
    }

    /** The current per-doc accounting — batch q173's exact schema and
      * values over everything ingested so far.
      */
    def snapshot(): DataFrame =
      this.synchronized(countStore.latest)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("n_paras"), col("n_boiler_paras"), col("tokens_kept"),
          expr("tokens_kept * 1000000L div greatest(n_tokens, 1L)")
            .as("kept_ppm"))
  }

  def state(spark: SparkSession): BoilerplateState =
    new BoilerplateState(spark)

  /** Kill-and-resume from the three durable stores. */
  def restore(spark: SparkSession, chunks: DataFrame, holders: DataFrame,
      counts: DataFrame): BoilerplateState = {
    val st = new BoilerplateState(spark)
    st.loadFrom(chunks, holders, counts)
    st
  }
}
