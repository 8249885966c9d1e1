package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental training-export manifest — batch q156's streaming twin:
  * as document batches arrive, the per-source export manifest (docs
  * exported, raw tokens, tokens after keep-first removal, kept ppm)
  * stays equal to batch q156 over everything ingested, with NO corpus
  * rescan. The manifest is THE artifact a trainer consumes continuously;
  * this operator keeps it continuously true.
  *
  * q156 composes three rules, and EVERY one is retroactive under
  * out-of-order ingest — the twin maintains all three with bounded
  * per-batch work:
  *
  *   - CANONICAL (q34 rule): a doc is exported only if it is the MIN
  *     doc_id of its normalized-fingerprint group. A late lower-id
  *     arrival STEALS canonical status from the stored holder — the
  *     `fps` store keeps one (fingerprint → min doc_id) holder row per
  *     group (StreamingNovelty's holder discipline: minima are monotone,
  *     each flip demotes EXACTLY ONE stored doc).
  *   - DECONTAMINATION (q63 rule): a corpus doc (doc_id ≥ 10) is
  *     excluded once it shares a 5-gram with any bench doc (doc_id <
  *     10). Bench docs can arrive LAST (the descending adversary!), so
  *     the twin keeps both directions indexed: `bench` (the bench gram
  *     set, append-only monotone) flags new corpus arrivals, and `cg5`
  *     (corpus gram → doc_id) lets a late bench arrival retract
  *     already-exported docs. Contamination is MONOTONE — a flip is
  *     one boolean per touched doc, never recomputed.
  *   - REMOVAL (q155 rule): exported tokens are counted after keep-first
  *     substring removal — position (d, p) survives iff it is the
  *     corpus-wide MIN (doc_id, pos) occurrence of its 10-gram. The
  *     `hold` store keeps that min per gram; a late arrival that
  *     out-ranks a stored holder flips the stored doc's kept position
  *     to removed, and ONLY that doc's span stats recompute (through
  *     the same [[graft.operators.DupSpans]] island core as the batch
  *     query). Holders only ever decrease; each flip touches at most
  *     one stored doc.
  *
  * Per-doc results live in the `docs` store (seq-versioned rows:
  * fingerprint, source, token count, canonical / contaminated flags,
  * removed-token count); [[ExportState.snapshot]] is a |sources|-sized
  * aggregate over its keep-latest view — exactly q156's output schema.
  *
  * Guards (fail-loud; a silently wrong manifest ships a wrong data
  * recipe): canonical flips only true→false on stored docs,
  * contamination only false→true, removed tokens only nondecreasing —
  * all three checked per batch before the commit point; plus the
  * fingerprinted replay guard [[StateFrames.admit]] (whole-batch
  * re-delivery with matching fingerprints skips; id reuse under new
  * content or partial overlap fails loud).
  *
  * Local-emulation costs are the family's documented ones: stores are
  * materialized lineage-cut, stats-reset frames ([[StateFrames]]); at a
  * deployment they are keyed tables (`fps` by fingerprint, `bench`/`cg5`
  * by gram, `g10` bucketed by gram and indexed by doc, `hold` by gram,
  * `docs` by doc_id, MERGE-on-version) and every semi-join here is a
  * keyed fetch. Restore rebuilds from the six durable frames with one
  * restart-time scan (max seq), never a per-batch one.
  *
  * StreamingExportSpec proves: streamed manifest ≡ batch q156 after
  * EVERY prefix, ascending AND descending (descending is the maximal
  * adversary for ALL THREE arms at once: every canonical min and every
  * keep-first holder arrives last, and the bench docs arrive after the
  * whole corpus is exported); the planted three-way retraction fixture;
  * replay/refusal semantics; kill-and-resume from parquet-persisted
  * stores; and foreachBatch wiring under a real StreamingQuery.
  *
  * Reference: the batch composition at queries/CorpusOps.scala (q156);
  * arm semantics q34/q63/q155 (DedupOps.scala, CorpusOps.scala).
  */
object StreamingExport {

  import graft.functions.TextFns.{normText, tokens, wordNgrams}
  import graft.operators.DupSpans

  /** Mutable per-stream state; one instance per logical ingest pipeline. */
  final class ExportState(spark: SparkSession,
      private[streaming] val compactAt: Int = 32) extends IncrementalState {

    private val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("seq", LongType),
      StructField("fp", LongType), StructField("source", StringType),
      StructField("n_tokens", LongType),
      StructField("canonical", BooleanType),
      StructField("contaminated", BooleanType),
      StructField("removed", LongType)))
    private val fpsSchema = StructType(Seq(
      StructField("nfp", StringType), StructField("seq", LongType),
      StructField("holder", LongType)))
    private val benchSchema = StructType(Seq(StructField("ng", LongType)))
    private val cg5Schema = StructType(Seq(
      StructField("ng", LongType), StructField("doc_id", LongType)))
    private val g10Schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", IntegerType),
      StructField("ng", LongType)))
    private val holdSchema = StructType(Seq(
      StructField("ng", LongType), StructField("seq", LongType),
      StructField("hdoc", LongType), StructField("hpos", IntegerType)))

    private val docStore = new StateFrames.SegmentedStore(spark,
      docsSchema, compactAt, latestBy = Seq("doc_id"))
    private val fpStore = new StateFrames.SegmentedStore(spark,
      fpsSchema, compactAt, latestBy = Seq("nfp"))
    private val benchStore =
      new StateFrames.SegmentedStore(spark, benchSchema, compactAt)
    private val cg5Store =
      new StateFrames.SegmentedStore(spark, cg5Schema, compactAt)
    private val g10Store =
      new StateFrames.SegmentedStore(spark, g10Schema, compactAt)
    private val holdStore = new StateFrames.SegmentedStore(spark,
      holdSchema, compactAt, latestBy = Seq("ng"))

    private var seq = 0L

    /** The six durable stores a deployment persists per batch and
      * [[StreamingExport.restore]] rebuilds from.
      */
    private[streaming] def docsFrame: DataFrame = docStore.frame
    private[streaming] def latestDocs: DataFrame = docStore.latest
    private[streaming] def fpsFrame: DataFrame = fpStore.frame
    private[streaming] def benchFrame: DataFrame = benchStore.frame
    private[streaming] def cg5Frame: DataFrame = cg5Store.frame
    private[streaming] def g10Frame: DataFrame = g10Store.frame
    private[streaming] def holdFrame: DataFrame = holdStore.frame

    private[streaming] def loadFrom(docs: DataFrame, fps: DataFrame,
        bench: DataFrame, cg5: DataFrame, g10: DataFrame,
        hold: DataFrame): Unit = this.synchronized {
      docStore.reset(docs)
      fpStore.reset(fps.withColumn("nfp",
        coalesce(col("nfp"), lit("<null-text>"))))
      benchStore.reset(bench)
      cg5Store.reset(cg5)
      g10Store.reset(g10)
      holdStore.reset(hold)
      seq = docStore.maxSeq
    }

    /** Ingest one batch of (doc_id, source, text) rows (extra columns
      * ignored); all-or-nothing like the family's other ingests.
      */
    protected def ingestWith(batch: DataFrame,
        temp: DataFrame => DataFrame): Unit = {
      // token count and fingerprints EXACTLY as batch q156 computes them
      val newDocs = temp(batch
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          col("text"),
          coalesce(size(tokens(col("text"))), lit(0)).cast("long")
            .as("n_tokens"),
          // null-safe replay fingerprint: xxhash64(null) is NULL and the
          // replay check's equality would read a re-delivered null-text
          // doc as "fingerprint differs" — refusing a legitimate replay
          coalesce(xxhash64(col("text")), lit(0L)).as("fp"),
          // null-safe: batch q156's Window.partitionBy groups NULL
          // fingerprints into ONE group, but equality joins on the fps
          // store would never match NULL — coalesce to a sentinel that
          // no 32-hex md5 can collide with, so null-text docs form one
          // canonical group here exactly as they do in the batch plan
          coalesce(
            md5(array_join(array_sort(tokens(normText(col("text")))), " ")),
            lit("<null-text>")).as("nfp"),
          // null text → null array; the explode below emits no rows
          array_distinct(wordNgrams(tokens(col("text")), 5)).as("gs5")))

      if (StateFrames.admit("StreamingExport", newDocs,
          docStore.latestOf(newDocs.select(col("doc_id")))) == 0L) return

      // ----------------------------------------- canonical arm (q34)
      val batchFp = temp(newDocs
        .groupBy(col("nfp")).agg(min(col("doc_id")).as("claimant")))
      val heldFp = temp(fpStore.latestOf(batchFp.select(col("nfp")))
        .select(col("nfp"), col("holder")))
      val fpJoined = temp(batchFp.join(heldFp, Seq("nfp"), "left_outer"))
      // a group's holder flips iff unheld or claimed by a LOWER id; the
      // displaced stored holder is demoted (exactly one doc per flip)
      val fpFlips = temp(fpJoined
        .filter(col("holder").isNull || col("claimant") < col("holder"))
        .select(col("nfp"), col("claimant"), col("holder")))
      val demotedFp = fpFlips.filter(col("holder").isNotNull)
        .select(col("holder").as("doc_id"))
      // effective min per batch group: new docs' canonical flag source
      val effHolder = fpJoined.select(col("nfp"),
        least(col("claimant"), coalesce(col("holder"), col("claimant")))
          .as("eff"))

      // ------------------------------------ contamination arm (q63)
      val g5new = temp(newDocs
        .select(col("doc_id"), explode(col("gs5")).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("ng")))
      val benchNewG = temp(g5new.filter(col("doc_id") < 10)
        .select(col("ng")).distinct()
        .join(benchStore.frame, Seq("ng"), "left_anti"))
      val corpusG5New = temp(g5new.filter(col("doc_id") >= 10))
      // new corpus docs against the full bench set (stored + this batch)
      val contamNew = temp(corpusG5New
        .join(benchStore.frame.unionByName(benchNewG), Seq("ng"),
          "left_semi")
        .select(col("doc_id")).distinct())
      // late bench arrival retracts stored corpus docs — only docs not
      // already contaminated are touched (the flip is monotone)
      val contamStoredAll = temp(cg5Store.touching(benchNewG)
        .select(col("doc_id")).distinct())
      val contamStored = temp(docStore.latestOf(contamStoredAll)
        .filter(!col("contaminated"))
        .select(col("doc_id")))

      // ------------------------------------------ removal arm (q155)
      val g10new = temp(DupSpans
        .positionalGrams(newDocs.select(col("doc_id"), col("text"))))
      val batchMin10 = temp(g10new
        .groupBy(col("ng"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("m"))
        .select(col("ng"), col("m.doc_id").as("mdoc"),
          col("m.pos").as("mpos")))
      val held10 = temp(holdStore.latestOf(batchMin10.select(col("ng")))
        .select(col("ng"), col("hdoc"), col("hpos")))
      val j10 = temp(batchMin10.join(held10, Seq("ng"), "left_outer"))
      // a gram's keep-first holder flips iff unheld or the batch's min
      // occurrence out-ranks it lexicographically on (doc_id, pos)
      val flips10 = temp(j10
        .filter(col("hdoc").isNull ||
          struct(col("mdoc"), col("mpos")) <
            struct(col("hdoc"), col("hpos")))
        .select(col("ng"), col("mdoc"), col("mpos"), col("hdoc")))
      // stored docs whose kept position just flipped to removed
      val demoted10 = temp(flips10.filter(col("hdoc").isNotNull)
        .select(col("hdoc").as("doc_id")).distinct())

      // recompute removal stats for exactly (batch docs ∪ flip-touched
      // stored docs): their positions against the POST-update holders
      val posAll = temp(g10new.unionByName(g10Store.touching(demoted10)))
      val holdersOld = holdStore.latestOf(posAll.select(col("ng")).distinct())
        .select(col("ng"), col("hdoc"), col("hpos"))
      val holdersUpd = temp(flips10
        .select(col("ng"), col("mdoc").as("hdoc"), col("mpos").as("hpos"))
        .unionByName(holdersOld.join(flips10.select(col("ng")), Seq("ng"),
          "left_anti")))
      val removedPos = posAll
        .join(holdersUpd, Seq("ng"))
        .filter(!(col("doc_id") === col("hdoc") &&
          col("pos") === col("hpos")))
        .select(col("doc_id"), col("pos"))
      val stats = temp(DupSpans.perDocStats(removedPos)
        .select(col("doc_id"), col("dup_tokens").as("new_removed")))

      // ------------------------------------------ doc-store updates
      val newRows = temp(newDocs
        .join(effHolder, Seq("nfp"))
        .join(contamNew.withColumn("bad", lit(true)), Seq("doc_id"),
          "left_outer")
        .join(stats, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("source"), col("n_tokens"),
          (col("doc_id") === col("eff")).as("canonical"),
          coalesce(col("bad"), lit(false)).as("contaminated"),
          coalesce(col("new_removed"), lit(0L)).as("removed")))

      val touchedIds = temp(demotedFp
        .unionByName(contamStored)
        .unionByName(demoted10)
        .distinct())
      val latestTouched = temp(docStore.latestOf(touchedIds))
      // every flip must land on a doc the doc store knows — a holder or
      // gram store referencing an unknown doc_id would otherwise drop
      // its retraction SILENTLY (the worst failure mode of a manifest)
      val missing = touchedIds
        .join(latestTouched.select(col("doc_id")), Seq("doc_id"),
          "left_anti")
        .count()
      if (missing > 0) throw new IllegalStateException(
        s"StreamingExport: $missing flip-touched doc_ids are absent " +
          "from the doc store — holder/gram stores are corrupt, refusing")
      val touchedRows = temp(latestTouched
        .join(demotedFp.withColumn("demote", lit(true)).distinct(),
          Seq("doc_id"), "left_outer")
        .join(contamStored.withColumn("flip_bad", lit(true)),
          Seq("doc_id"), "left_outer")
        .join(stats.withColumnRenamed("new_removed", "upd_removed"),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"), lit(seq + 1).as("seq"), col("fp"),
          col("source"), col("n_tokens"),
          (col("canonical") && col("demote").isNull).as("canonical"),
          (col("contaminated") || col("flip_bad").isNotNull)
            .as("contaminated"),
          coalesce(col("upd_removed"), col("removed")).as("removed")))

      // fail LOUD on any non-monotone transition: canonical may only be
      // revoked, contamination may only be acquired, removed tokens may
      // only grow — a violation means the holder stores are corrupt and
      // the manifest would ship silently wrong
      val bad = touchedRows.as("new")
        .join(latestTouched.as("old"), "doc_id")
        .filter((col("new.canonical") && !col("old.canonical")) ||
          (!col("new.contaminated") && col("old.contaminated")) ||
          col("new.removed") < col("old.removed"))
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"StreamingExport: $bad touched docs would take a non-monotone " +
          "transition (canonical re-granted, contamination cleared, or " +
          "removed tokens shrinking) — stores corrupt, refusing")

      val docRows = temp(newRows.unionByName(touchedRows))
      val fpRows = temp(fpFlips
        .select(col("nfp"), lit(seq + 1).as("seq"),
          col("claimant").as("holder")))
      val holdRows = temp(flips10
        .select(col("ng"), lit(seq + 1).as("seq"),
          col("mdoc").as("hdoc"), col("mpos").as("hpos")))
      val cg5Rows = temp(corpusG5New.select(col("ng"), col("doc_id")))

      // all fallible work done; the non-empty segments materialize,
      // then driver commit only
      val prepared = StateFrames.prepareAll(Seq(docStore -> docRows,
          fpStore -> fpRows, benchStore -> benchNewG, cg5Store -> cg5Rows,
          g10Store -> g10new, holdStore -> holdRows)
        .filter { case (_, rows) => !rows.isEmpty })
      this.synchronized {
        seq += 1
        StateFrames.commitAll(prepared)
      }
    }

    /** The current per-source export manifest — batch q156's exact
      * schema and values over everything ingested so far. Reads the
      * latest doc row per doc; no gram-store scan.
      */
    def snapshot(): DataFrame =
      this.synchronized(docStore.latest)
        .filter(col("doc_id") >= 10 && col("canonical") &&
          !col("contaminated"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_exported"),
          sum(col("n_tokens")).as("tokens_raw"),
          sum(col("n_tokens") - col("removed")).as("tokens_exported"))
        .withColumn("kept_ppm",
          expr("tokens_exported * 1000000L div greatest(tokens_raw, 1L)"))
  }

  def state(spark: SparkSession): ExportState = new ExportState(spark)

  /** Kill-and-resume: rebuild from the six durable stores; the only
    * restart-time scan is the max-seq read.
    */
  def restore(spark: SparkSession, docs: DataFrame, fps: DataFrame,
      bench: DataFrame, cg5: DataFrame, g10: DataFrame,
      hold: DataFrame): ExportState = {
    val st = new ExportState(spark)
    st.loadFrom(docs, fps, bench, cg5, g10, hold)
    st
  }
}
