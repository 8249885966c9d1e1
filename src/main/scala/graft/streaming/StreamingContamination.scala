package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental cross-source contamination matrix — the streaming twin of
  * batch q148 (CorpusOps): as document batches arrive, the per-source-pair
  * shared-5-gram counts and directional containments update with NO
  * corpus rescan.
  *
  * Cite: this extends the reference's streaming-ETL discipline (e.g.
  * `RT/app/dwd/log/BaseLogApp.java`'s incremental DWD maintenance) to the
  * LLM-curation surface; the batch semantics are q148's exactly.
  *
  * Core invariant — the matrix is MONOTONE and the update is local:
  * shared(a,b) counts distinct grams present in both sources, so the
  * count increments exactly when the SECOND source acquires a gram, and
  * never decrements (no retraction machinery needed, unlike
  * [[StreamingMixture]]). Per batch:
  *
  *   1. The batch collapses to distinct (source, gram-hash) pairs —
  *      batch-sized.
  *   2. An anti-join against the stored index keeps the NOVEL pairs
  *      (first time this source shows this gram). Everything downstream
  *      sees only novel pairs, which makes ingest REPLAY-IDEMPOTENT BY
  *      CONSTRUCTION: a re-delivered batch (foreachBatch is
  *      at-least-once) contributes zero novel pairs and therefore zero
  *      count drift — no ledger, fingerprint, or skip logic required.
  *   3. Pair increments: novel × stored-holders of the same gram
  *      (cross), plus novel × novel among distinct sources in this batch
  *      (both-arrive-together). Per-gram fanout is bounded by |sources|²
  *      — a (source, gram) pair exists at most once per side — so there
  *      is no hot key, whatever the corpus skew.
  *   4. The novel pairs append to the index (APPEND-ONLY by construction,
  *      like StreamingMixture's band index: a source never un-acquires a
  *      gram) as a materialized per-batch segment, compacted past
  *      `compactAt` and re-coalesced to defaultParallelism.
  *
  * Driver state is the pair-count map and the per-source gram counts —
  * bounded by |sources|² and |sources|, the same bounded-catalog contract
  * as the family's ≤K centroid models (sources are a catalog dimension:
  * tens to hundreds, never corpus-sized). The gram index is the one
  * corpus-sized store; at a deployment it is a keyed table
  * ((source, gram) primary key, MERGE-on-novel), and restore recomputes
  * the driver maps from it (a groupBy plus the q148-core self-join over
  * the index — restart-time cost, never per batch).
  *
  * Ingest contract — GROW-ONLY text: the matrix covers the UNION of all
  * text ever ingested per source. The operator never reads doc_id, so a
  * document RE-SHIPPED with corrected text contributes BOTH versions'
  * grams (monotone index, no retraction) — if upstream mutates documents
  * in place, recompute batch q148 over the corrected corpus instead (or
  * front the stream with [[StreamingMixture]]'s ledger discipline, which
  * fails loud on exactly that fingerprint mismatch). Appending new
  * documents — the training-data ingest shape — is exact.
  *
  * StreamingContaminationSpec proves: streamed matrix ≡ batch q148 after
  * EVERY prefix; replay idempotence; kill-and-resume from the persisted
  * index (restore ≡ uninterrupted); null-source exclusion; foreachBatch
  * wiring under a real StreamingQuery.
  */
object StreamingContamination {

  import graft.functions.TextFns.{tokens, wordNgrams}

  /** Mutable per-stream state; one instance per logical monitor. */
  final class ContamState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val indexSchema = StructType(Seq(
      StructField("source", StringType), StructField("ng", LongType)))

    // append-only (source, gram-hash) index — the shared segment
    // lifecycle (stats-reset leaves, two-phase append, re-coalescing
    // compaction) lives ONCE in StateFrames.SegmentedStore
    private val store =
      new StateFrames.SegmentedStore(spark, indexSchema, compactAt)

    private def index: DataFrame = store.frame

    // driver-side aggregates: bounded by the source catalog, not the
    // corpus — |sources| gram counts and ≤|sources|² pair counts
    private val nGrams = mutable.Map.empty[String, Long]
    private val shared = mutable.Map.empty[(String, String), Long]

    /** Exposed for the spec's restore leg and a deployment's per-batch
      * persist (the single durable store).
      */
    private[streaming] def indexFrame: DataFrame = index

    private[streaming] def loadFrom(indexStore: DataFrame): Unit =
      this.synchronized {
        store.reset(indexStore)
        nGrams.clear(); shared.clear()
        // restart-time recompute of both driver maps from the index: a
        // groupBy plus the q148-core self-join — restart-time cost,
        // never per batch (the self-join is the expensive member; its
        // per-gram fanout is still bounded by |sources|²)
        index.groupBy(col("source")).agg(count(lit(1)).as("n"))
          .collect().foreach(r => nGrams(r.getString(0)) = r.getLong(1))
        index.as("a")
          .join(index.as("b"), col("a.ng") === col("b.ng")
            && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
          .agg(count(lit(1)).as("c"))
          .collect().foreach(r =>
            shared((r.getString(0), r.getString(1))) = r.getLong(2))
      }

    /** Ingest one batch of (source, text) rows (extra columns ignored;
      * null sources excluded, exactly as batch q148 excludes them).
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      // batch → distinct (source, gram-hash): q148's gram space exactly
      // (whitespace tokens, 5-gram, xxhash64)
      val sg = batch
        .filter(col("source").isNotNull)
        .select(col("source"),
          explode(array_distinct(wordNgrams(tokens(col("text")), 5)))
            .as("gram"))
        .select(col("source"), xxhash64(col("gram")).as("ng"))
        .distinct()
      // novelty filter: the replay-idempotence point — a (source, gram)
      // already indexed contributes nothing downstream
      val novel = temp(sg.join(index, Seq("source", "ng"), "left_anti"))
      if (novel.isEmpty) return

      // cross pairs: a novel (s, g) meets every OTHER source already
      // holding g (left_semi prune to touched grams = the keyed fetch a
      // deployment does); novel-novel pairs cover both-arrive-together.
      // Collected rows are ≤|sources|² — driver-bounded by contract.
      val stored = store.touching(novel.select(col("ng")).distinct())
      val crossRows = novel.as("a")
        .join(stored.as("b"), col("a.ng") === col("b.ng")
          && col("a.source") =!= col("b.source"))
        .select(least(col("a.source"), col("b.source")).as("sa"),
          greatest(col("a.source"), col("b.source")).as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("c"))
        .collect()
      val togetherRows = novel.as("a")
        .join(novel.as("b"), col("a.ng") === col("b.ng")
          && col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("c"))
        .collect()
      val novelN = novel.groupBy(col("source"))
        .agg(count(lit(1)).as("n")).collect()

      // all fallible cluster work is done (the three collects above and
      // the segment materialization below run BEFORE any driver map
      // mutates — same all-or-nothing commit discipline as
      // StreamingMixture.ingest)
      val seg = store.prepare(novel.select(col("source"), col("ng")))

      // commit point: pure driver-side bookkeeping, synchronized so a
      // concurrent matrix() poll never reads between the gram-count
      // and pair-count updates
      this.synchronized {
        novelN.foreach(r => nGrams(r.getString(0)) =
          nGrams.getOrElse(r.getString(0), 0L) + r.getLong(1))
        (crossRows ++ togetherRows).foreach { r =>
          val k = (r.getString(0), r.getString(1))
          shared(k) = shared.getOrElse(k, 0L) + r.getLong(2)
        }
        store.commit(seg)
      }
    }

    private val matrixSchema = StructType(Seq(
      StructField("source_a", StringType), StructField("source_b", StringType),
      StructField("shared_grams", LongType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false),
      StructField("containment_a", DoubleType, nullable = false),
      StructField("containment_b", DoubleType, nullable = false)))

    /** The current matrix — q148's exact schema and values over
      * everything ingested so far. Reads the driver maps only (no index
      * scan); pairs sharing zero grams are omitted, as in q148.
      */
    def matrix(): DataFrame = this.synchronized {
      // synchronized against ingest's commit point: a live-stream poll
      // must never pair updated gram counts with stale pair counts
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      shared.toSeq.sortBy(_._1).foreach { case ((a, b), c) =>
        val na = nGrams(a); val nb = nGrams(b)
        rows.add(Row(a, b, c, na, nb,
          c.toDouble / na, c.toDouble / nb))
      }
      spark.createDataFrame(rows, matrixSchema)
    }
  }

  def state(spark: SparkSession): ContamState = new ContamState(spark)

  /** Kill-and-resume: rebuild from the ONE durable store (the
    * (source, gram) index); the driver maps are recomputed with one
    * restart-time scan.
    */
  def restore(spark: SparkSession, indexStore: DataFrame): ContamState = {
    val st = new ContamState(spark)
    st.loadFrom(indexStore)
    st
  }
}
