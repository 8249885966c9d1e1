package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Robustness of the embeddings-table operators on a DIRTY index — null
  * vectors, empty vectors, and a wrong-dimension vector. The contract:
  * malformed vectors never crash a query and never outrank a well-formed
  * match — their similarities go null (vec_dot's null-on-length-mismatch)
  * and sort behind every real score.
  *
  * q38's shape: vec_id < 5 are queries, >= 5 are index candidates.
  */
class DirtyEmbeddingsSpec extends SparkSpec {

  private val dim = 64
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(i => ((seed * 31 + i * 7) % 13 - 6) / 6.0f)

  private lazy val dirtyDir: String = {
    val dir = Files.createTempDirectory("graft_dirty_emb_").toString
    import spark.implicits._
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, vec(1)), (1L, vec(2)), (2L, vec(3)),               // queries
      (3L, null.asInstanceOf[Array[Float]]),                  // null query
      (4L, Array.empty[Float]),                               // empty query
      (5L, vec(2)),                                           // dup of q1
      (6L, Array.tabulate(16)(_.toFloat)),                    // wrong dim
      (7L, Array.empty[Float]),                               // empty cand
      (8L, vec(8)), (9L, vec(9)),                             // well-formed
      (10L, Array.tabulate(72)(_.toFloat)))                   // OVER-long
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("kNN: malformed candidates sort behind every well-formed match") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q38_knn_bruteforce")(spark, dirtyDir)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .as[(Long, Int, Long, Option[Double])].collect()
    // the planted duplicate is query 1's top hit with cosine ~1
    val q1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(q1.head._3 == 5L, q1.mkString("\n"))
    assert(q1.head._4.exists(s => math.abs(s - 1.0) < 1e-9))
    // wrong-dim candidate 6 ranks behind all well-formed candidates for
    // every well-formed query (null sim sorts last under desc)
    for (q <- Seq(0L, 1L, 2L)) {
      val perQ = rows.filter(_._1 == q).sortBy(_._2)
      val firstNull = perQ.indexWhere(_._4.isEmpty)
      val lastReal = perQ.lastIndexWhere(_._4.isDefined)
      assert(firstNull == -1 || firstNull > lastReal,
        s"malformed vector outranked a real score for query $q:\n" +
          perQ.mkString("\n"))
    }
    // the null-vector query emits only null sims — visible, not invented
    assert(rows.filter(_._1 == 3L).forall(_._4.isEmpty))
  }

  test("int8 quantization profiles malformed vectors without crashing") {
    val out = graft.SparkEntry.queries("q77_int8_quantize")(spark, dirtyDir)
      .collect()
    assert(out.map(_.getLong(0)).toSet.intersect(Set(0L, 1L, 2L, 8L, 9L)).size == 5)
  }

  test("IVF-PQ trains on well-formed vectors only, finds the planted dup " +
    "at ADC 0, and never crashes on the dirty index") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q128_ivfpq_ann")(spark, dirtyDir)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      .as[(Long, Int, Long, Option[Long])].collect()
    // vector 5 duplicates query 1 AND is in the (valid-only) codebook, so
    // its codes reproduce query 1's slices exactly: ADC = 0, rank 1
    val q1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(q1.nonEmpty && q1.head._3 == 5L, q1.mkString("\n"))
    assert(q1.head._4.contains(0L), q1.mkString("\n"))
    // malformed candidates may appear (their ADC goes null) but never
    // ahead of a well-formed scored candidate
    for (q <- Seq(0L, 1L, 2L)) {
      val perQ = rows.filter(_._1 == q).sortBy(_._2)
      val firstNull = perQ.indexWhere(_._4.isEmpty)
      val lastReal = perQ.lastIndexWhere(_._4.isDefined)
      assert(firstNull == -1 || firstNull > lastReal,
        s"malformed vector outranked a scored one for query $q:\n" +
          perQ.mkString("\n"))
    }
  }

  test("q154 matryoshka audit runs on the dirty index: malformed vectors " +
    "never crash the truncated rankings and the audit shape holds") {
    val rows = graft.SparkEntry.queries("q154_matryoshka_recall")(
      spark, dirtyDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == Set(8, 16, 32))
    for ((d, (nTruth, nHit)) <- rows) {
      assert(nTruth > 0L, s"dims $d: empty truth set")
      assert(nHit >= 0L && nHit <= nTruth, s"dims $d: hits out of range")
    }
  }

  test("semantic dedup family (fixed-K, two-level scaled-K, star) runs on " +
    "the dirty index without crashing") {
    for (q <- Seq("q100_semantic_dedup", "q131_semantic_dedup_scaledk",
      "q133_semantic_dedup_star")) {
      val out = graft.SparkEntry.queries(q)(spark, dirtyDir).collect()
      assert(out.nonEmpty, q)
      // every doc lands in exactly one cluster — nothing lost or doubled
      assert(out.map(_.getLong(1)).sum == 11L, q)
    }
  }

  test("q141/q142 cluster well-formed vectors ONLY: malformed rows " +
    "never dilute a centroid or appear in the sample") {
    // well-formed rows are 0,1,2,5,8,9 — the six cluster themselves
    // (every survivor is its own seed); the planted dup 5 ties to the
    // SMALLER cid 1, so cluster 5 empties out and drops after the update
    val stats = graft.SparkEntry.queries("q141_kmeans_refine")(spark, dirtyDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.values.sum == 6L, s"malformed vector clustered: $stats")
    assert(stats.keySet == Set(0L, 1L, 2L, 8L, 9L), stats.toString)
    assert(stats(1L) == 2L, s"dup 5 not in its twin's cluster: $stats")
    val sampled = graft.SparkEntry
      .queries("q142_cluster_balanced_sample")(spark, dirtyDir)
      .collect().map(_.getLong(1)).toSet
    assert(sampled == Set(0L, 1L, 2L, 5L, 8L, 9L),
      s"sample disagrees with the well-formed set: $sampled")
  }

  test("q137 semantic decon flags the planted eval dup, sentinels the " +
    "malformed rows, never crashes") {
    // corpus vector 5 is an exact copy of eval vector 1 → contaminated;
    // malformed corpus vectors (null/empty/wrong-dim) carry the -2e6
    // sentinel similarity (outside the representable cosine-ppm range, so
    // a real antipodal -1e6 match stays distinguishable) and flag 0 —
    // visible, never invented, no crash
    val rows = graft.SparkEntry.queries("q137_semantic_decontamination")(
        spark, dirtyDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2)))).toMap
    assert(rows.keySet == Set(5L, 6L, 7L, 8L, 9L, 10L))
    assert(rows(5L)._2 == 1 && rows(5L)._1 >= 999999L,
      s"planted eval dup not flagged: ${rows(5L)}")
    for (malformed <- Seq(6L, 7L, 10L))
      assert(rows(malformed) == ((-2000000L, 0)),
        s"malformed vector $malformed: ${rows(malformed)}")
    for (clean <- Seq(8L, 9L))
      assert(rows(clean)._2 == 0, s"unrelated vector flagged: $clean")
  }

  test("q137: wrong-dim corpus rows sentinel even against an ALL-CLEAN " +
    "eval set, and an empty eval set reports every row clean") {
    // The two cases the dirty fixture masks: (a) a wrong-dim corpus
    // vector scored only against well-formed evals must still sentinel
    // (VecDot null-propagation through the coalesce — previously the
    // den-guard missed it and emitted NULL); (b) no eval rows at all must
    // keep every corpus row in the output with flag 0, never silently
    // emit an empty frame ("nothing contaminated" ≠ "nothing checked").
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q137_edge_").toString
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, vec(1)), (1L, vec(2)),              // clean evals only
      (5L, vec(2)),                            // dup of eval 1
      (6L, Array.tabulate(16)(_.toFloat)),     // wrong dim
      (7L, vec(7)))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = graft.SparkEntry.queries("q137_semantic_decontamination")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(6L) == ((-2000000L, 0)),
      s"wrong-dim vs clean evals must sentinel, got ${got(6L)}")
    assert(got(5L)._2 == 1 && got(7L)._2 == 0)

    val dir2 = java.nio.file.Files.createTempDirectory("q137_noev_").toString
    Seq((5L, vec(2)), (6L, vec(3)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir2/embeddings.parquet")
    val noEv = graft.SparkEntry.queries("q137_semantic_decontamination")(spark, dir2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(noEv == Map(5L -> ((-2000000L, 0)), 6L -> ((-2000000L, 0))),
      s"empty eval set must report every row clean, got $noEv")
  }

  test("q136 labels refuse a drifted index loudly (the LSH raise contract)") {
    // The bucketing family's documented posture: a wrong-dimension vector
    // RAISES instead of silently landing in a wrong-but-plausible bucket
    // (PipelineOpsSpec pins the expression-level behavior; this pins it
    // end-to-end through the registered label query). Mis-bucketed dedup
    // labels would silently merge or split clusters — a crash is the
    // correct outcome on this index.
    val e = intercept[Exception] {
      graft.SparkEntry.queries("q136_embedding_dedup_labels")(spark, dirtyDir)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("expected 64-dim vector")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
    // and on the same index FILTERED to well-formed vectors, every vector
    // gets exactly one label and the planted dup pair (1, 5) shares one
    import spark.implicits._
    val cleanDir = java.nio.file.Files.createTempDirectory("q136_clean_").toString
    spark.read.parquet(s"$dirtyDir/embeddings.parquet")
      .filter(size(col("embedding")) === dim)
      .coalesce(1).write.parquet(s"$cleanDir/embeddings.parquet")
    val labels = graft.SparkEntry.queries("q136_embedding_dedup_labels")(spark, cleanDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 6) // ids 0,1,2,5,8,9 are the 64-dim vectors
    assert(labels(1L) == labels(5L), s"planted dup pair split: $labels")
  }

  test("StreamingAnn model + in-row ingest survive the dirty index " +
    "(non-null malformed centroids KEPT for batch-faithful routing, " +
    "malformed arrivals carry null codes)") {
    import graft.streaming.StreamingAnn
    // the model build must not NPE on null/short/over-long vectors in
    // the centroid window (vec_id < 16 here includes all the dirt);
    // EVERY candidate stays IN the model — the batch window scores all
    // of them (a wrong-dim corpus vector wins cosine 1 against its
    // wrong-dim twin), so dropping any made streamed routing diverge
    // from batch (the q183 dirty-lifecycle find); the null embedding
    // (vec 3) is carried as the EMPTY vector so it stays in the
    // tie-break set while scoring null in-row, exactly like batch
    val m = SimilarityOps.annModel(spark, dirtyDir)
    assert(m.centroids.map(_._1) == (0L to 10L),
      s"model must keep every centroid candidate: ${m.centroids.map(_._1)}")
    assert(m.centroids.find(_._1 == 3L).exists(_._2.isEmpty),
      "the null embedding must be carried as the empty vector")
    val out = StreamingAnn.ingest(
      spark.read.parquet(s"$dirtyDir/embeddings.parquet"), "vec_id", m)
      .collect().map(r => r.getLong(0) ->
        ((0 until graft.functions.VectorModels.PqM)
          .forall(i => !r.isNullAt(r.fieldIndex(s"code_$i"))),
          !r.isNullAt(r.fieldIndex("cid")))).toMap
    assert(out.size == 11)
    // malformed vectors (3,4,6,7,10) never earn codes; well-formed do
    val malformed = Set(3L, 4L, 6L, 7L, 10L)
    out.foreach { case (id, (coded, routed)) =>
      assert(coded == !malformed(id), s"vec $id coded=$coded")
      assert(routed, s"vec $id must still route deterministically")
    }
  }

  test("IVF-PQ recall audit runs on the dirty index and reports a ppm " +
    "in range") {
    val r = graft.SparkEntry.queries("q129_ivfpq_recall")(spark, dirtyDir)
      .head()
    assert(r.getLong(0) > 0) // truth rows exist
    val ppm = r.getLong(2)
    assert(ppm >= 0L && ppm <= 1000000L, s"recall_ppm out of range: $ppm")
  }

  test("q170 nprobe sweep runs on the dirty index (malformed centroids, " +
    "null/empty queries): four rows, bounded recall, monotone cost") {
    val rows = graft.SparkEntry.queries("q170_ivf_nprobe_sweep")(
        spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq(1L, 2L, 4L, 8L))
    for ((np, rec, cand) <- rows) {
      assert(rec >= 0L && rec <= 1000000L, s"nprobe $np recall $rec")
      assert(cand >= 0L)
    }
    for (Seq(a, b) <- rows.sliding(2))
      assert(a._3 <= b._3, "candidate cost must be monotone in nprobe")
  }

  test("q178 filtered ANN runs on the dirty index (no label column, " +
    "malformed vectors): three arms, empty truth → zero recall, " +
    "pre-filter never scans more than post") {
    val rows = graft.SparkEntry.queries("q178_filtered_ann")(spark, dirtyDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(rows.keySet == Set("pre_filter", "post_filter", "from_index"))
    // no label column → the predicate matches nothing: both arms return
    // nothing and recall is exactly 0 (greatest(n_truth, 1) guards the div)
    for ((arm, (c, ret, rec)) <- rows) {
      assert(ret == 0L && rec == 0L, s"$arm must starve without metadata")
      assert(c >= 0L)
    }
    assert(rows("pre_filter")._1 <= rows("post_filter")._1)
  }

  test("q180 ANN index writer runs on the dirty index: malformed " +
    "vectors persist with null codes (never misencoded), the manifest " +
    "verifies, and served results equal the in-memory build") {
    // in-memory drift reference (q128 itself serves from the artifact
    // since round 18 — see Round17OpsSpec's q180 pin)
    val q128 = SimilarityOps.ivfpqInMemoryTop5(spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val q180 = graft.SparkEntry.queries("q180_ann_index_write")(
        spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(q180 == q128,
      s"dirty-index serving drifted: $q180 vs $q128")
    val (path, nRows, chk) = SimilarityOps.annIndexFiles(spark, dirtyDir)
    val written = spark.read.schema(SimilarityOps.annIndexSchema)
      .parquet(path)
    assert(written.count() == nRows)
    assert(SimilarityOps.annIndexChecksum(written) == chk)
    // the malformed members (wrong-dim / empty / over-long corpus
    // vectors) are IN the tree with null codes — dropped silently would
    // hide ingest bugs; null-coded they sort behind every real score
    assert(written.filter(col("code_0").isNull).count() >= 3,
      "malformed vectors must persist with null codes")
  }

  test("q183 lifecycle (seed + append + compact + serve) runs on the " +
    "dirty index and serves exactly what q180 serves") {
    val q183 = graft.SparkEntry.queries("q183_ann_index_compact")(
        spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val q180 = graft.SparkEntry.queries("q180_ann_index_write")(
        spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(q183 == q180,
      s"dirty lifecycle serving drifted: $q183 vs $q180")
  }

  test("q181 re-rank sweep runs on the dirty index: three rows, bounded " +
    "recall, monotone cost, malformed candidates never crash the exact " +
    "stage") {
    val rows = graft.SparkEntry.queries("q181_ann_rerank_sweep")(
        spark, dirtyDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(5L, 10L, 20L))
    assert(rows.forall(r => r._2 >= 0L && r._2 <= 1000000L))
    for (w <- rows.sliding(2); Array(a, b) = w)
      assert(a._3 <= b._3, "cost must be monotone in the shortlist")
  }
}
