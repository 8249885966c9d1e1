package graft

/** Scaling measurement for the shingle/dedup family: times each named query
  * on a sequence of corpus directories (e.g. a 1x and a 10x synthetic
  * `documents` corpus from tools/gen_scale_corpus.py) inside ONE JIT-warm
  * session, reporting per (query, dir) both the COLD run — first touch of
  * that dir, so it pays the staged gram-frame build — and the steady-state
  * min. The scaling exponent log10(t10/t1) is what PERF.md documents: the
  * "df-cap bounds pairwork" claim predicts ~1.0 on a Heaps-law corpus.
  *
  * The FIRST dir is warmup-only (JIT + codegen) and is not reported:
  * Staging keys on (session, dir), so a reported dir's first-touch run
  * pays the staging build with the JVM already warm. Pass a duplicate of
  * the baseline corpus (gen_scale_corpus.py writes x1warm) as dir1.
  * NOTE on "cold": within one dir, queries run in the given order, so a
  * query SHARING a staged frame with an earlier query (q36 after q35 →
  * grams3; q119/q125 after q96 → grams10) measures the marginal cost on
  * top of the already-staged frame — deliberate (the marginal is what a
  * pipeline pays), but only the FIRST stager's cold includes the build.
  *
  * Usage: runMain graft.ScalingBench <warmupDir> <dir1> <dir2> [dirs...]
  *        [-q=q35_ngram_jaccard,q63_...]  (default: the dedup family)
  */
object ScalingBench {
  private val DefaultQueries = Seq(
    // gram/dedup family (round-6 set)
    "q34_exact_dedup", "q35_ngram_jaccard", "q36_minhash_band_dedup",
    "q63_decontamination", "q96_repeated_ngram_dedup",
    "q119_containment_dedup",
    "q121_dsir_importance", "q122_unigram_surprisal",
    // round-13 addition: the cross-source contamination matrix (rides the
    // staged grams5 frame; the measured member is the distinct
    // (source, gram) reduction + bounded-fanout self-join)
    "q148_source_contamination",
    // round-14 additions: positional-gram span merge (the heaviest new
    // path — two shuffles over (id, pos, hash) triples) and the
    // window-cumsum budget selection
    "q149_dup_span_merge", "q150_token_budget_select",
    "q153_gram_novelty", "q155_dedup_removal_plan",
    // round-15 additions: the export-manifest capstone (rides three
    // already-swept arms plus doc_id semi/anti joins), the matryoshka
    // recall audit (its brute-force truth arm is the quadratic risk —
    // measured, not guessed), and paragraph-level keep-first dedup
    "q154_matryoshka_recall", "q156_training_export_manifest",
    "q159_paragraph_dedup", "q160_quality_threshold_sweep",
    "q161_vocab_coverage_plan",
    // round-16 additions: the physical shard plan (rides the survivor
    // arms + two RangeOps passes), perceptual image near-dup (real PGM
    // pixel decode + banded pair join), BPE merge training (12 rounds
    // over the staged vocab — corpus scanned once), and the bigram
    // surprisal score (in-row bigrams + broadcast bucket model)
    "q162_export_shard_plan", "q163_image_perceptual_neardup",
    "q164_bpe_merge_train", "q165_bigram_surprisal",
    // round-16 second wave: BPE encoding (vocab-sized merge chain + one
    // corpus tokenize + vocab join), the context-length sweep (one scan
    // to a bucket rollup), the cascade audit (labeled-corpus aggregation
    // over staged arms), and the dup-cap accounting (one fp window)
    "q166_bpe_encode", "q167_context_length_plan",
    "q168_dedup_cascade_audit", "q169_dup_cap_curation",
    // round-16 third wave: the IVF serving-knob sweep (query-bounded
    // candidate work — one assignment + one scoring pass at the widest
    // knob) and the per-language fertility rollup over q166's frame
    "q170_ivf_nprobe_sweep", "q171_tokenizer_fertility",
    "q172_epoch_repeat_plan", "q173_boilerplate_removal",
    "q174_quality_rule_battery", "q175_contamination_sweep",
    // round-17 additions: the physical shard WRITER (q162's assignment +
    // a partitioned write + the read-back rollup — the write is a
    // once-per-session staging line, steady state is the read-back),
    // audio perceptual near-dup (real PCM decode + the shared banding),
    // filtered ANN (one assignment + one scoring pass, arms as filters;
    // scale corpora carry no label column, so the arms run against an
    // empty predicate — the measured cost is the honest index-side
    // work), and the unigram-LM trainer (vocab-bound like q164)
    "q176_export_shard_write", "q177_audio_perceptual_neardup",
    "q178_filtered_ann", "q179_unigram_lm_vocab",
    // second wave: the ANN index artifact (one-time encode+write via the
    // ann_index staging line; steady state = the list-pruned read-back
    // serve) and the two-stage re-rank sweep (ADC shortlist + exact
    // re-rank on <= 20 rows/query — query-bounded past the ADC pass)
    "q180_ann_index_write", "q181_ann_rerank_sweep",
    // round-18 additions: video frame-payload near-dup (real sample-table
    // decode + the shared banding — the q177 recipe on the frame axis)
    // and the index-lifecycle capstone (seed + 4 appends + compaction as
    // the ann_index_compacted staging line; steady state = the serve at
    // one file-open per probed list)
    "q182_video_perceptual_neardup", "q183_ann_index_compact",
    // round-19 addition: the deletion lifecycle (seed + appends +
    // tombstone + compaction as the ann_index_tombstoned staging line;
    // steady state = the anti-join-free post-compaction serve)
    "q184_ann_index_tombstone",
    "q125_incremental_dedup", "q126_simhash_neardup",
    "q130_bloom_decontamination",
    // vector family (round-10: full dedup/ANN coverage — x10sat's skewed
    // embeddings are the cluster-skew adversary for the SemDeDup members)
    "q45_embedding_neardup", "q100_semantic_dedup", "q128_ivfpq_ann",
    "q131_semantic_dedup_scaledk", "q133_semantic_dedup_star",
    "q136_embedding_dedup_labels", "q137_semantic_decontamination",
    "q141_kmeans_refine", "q142_cluster_balanced_sample",
    // q143 is NOT here: the scale corpora carry documents/embeddings/
    // events only — no lineitem/orders — and the measured loop (unlike
    // warmup) does not swallow a missing-table crash
    "q144_dynamic_partition_pruning",
    // CC-consumer graph family (round-10: the star-contraction path)
    "q57_neardup_cluster", "q95_pagerank_neardup",
    // sketch family (round-10: quantile + cross-set members)
    "q138_logq_sketch", "q139_kmv_overlap",
    // event-time family (round-10: restored in round 9 with no scaling
    // evidence; x10sat pins the user population so per-key depth grows 10x)
    "q75_event_gap_stats", "q88_event_debounce", "q89_scd2_history",
    "q92_funnel_conversion", "q103_last_touch_attribution",
    "q104_transition_matrix", "q111_snapshot_diff", "q113_lateness_audit",
    "q140_windowed_distinct_sketch",
    // round-11 additions: the epoch-shuffle pack (two global sorts per
    // epoch — the one n log n member) and the post-dedup mixture (rides
    // the staged CC labels). q145 is NOT here: its convergence round
    // count grows with the corpus and the pinned MaxRounds ceiling is
    // sized for the driver corpora — on a 50k+ scale corpus it fails
    // loud BY DESIGN (raise the pin to measure it).
    "q146_epoch_shuffle_pack", "q147_post_dedup_mixture")

  def main(args: Array[String]): Unit = {
    val (flagArgs, dirs) = args.partition(_.startsWith("-q"))
    val names = flagArgs.headOption
      .map(_.stripPrefix("-q").stripPrefix("=").split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(DefaultQueries)
    // warmup + at least one reported dir (a single-dir run is how a killed
    // sweep resumes — rows stream out per (query, dir), so partial logs
    // from separate invocations concatenate into one exponent table)
    if (dirs.length < 2) {
      System.err.println(
        "usage: runMain graft.ScalingBench <warmupDir> <dir1> [dirs...] [-q=a,b,c]")
      sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"no such quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", "))
      sys.exit(2)
    }
    val spark = GraftSession.harness()
    def run(name: String, dir: String): Double = Bench.seconds(spark, name, dir)

    // JIT/codegen warmup on the sacrificial first dir; its staged frames
    // are never reused because Staging keys on the dir string.
    names.foreach(n => try run(n, dirs.head) catch { case _: Throwable => () })

    // rows print as they complete, so a mid-run failure (or ctrl-C) keeps
    // every timing already measured
    println("query,dir,cold_sec,steady_sec")
    for (dir <- dirs.tail; name <- names) {
      val cold = run(name, dir) // JVM warm; this dir's staging cold
      val steady = (1 to 3).map(_ => run(name, dir)).min
      println(f"$name,$dir,$cold%.3f,$steady%.3f")
    }
    spark.stop()
  }
}
