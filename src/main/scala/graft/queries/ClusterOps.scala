package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed k-means over the `embeddings` table — the operator every
  * centroid-consuming query in the family (q46 IVF, q100/q131/q133
  * SemDeDup, q128 IVF-PQ) stubs with "a real build would k-means":
  * q141 IS that build step, as two unrolled Lloyd rounds from the same
  * deterministic seeds the family already uses, plus q142, the
  * cluster-balanced (diversity) sampler that consumes the refined
  * clustering — the DCLM/SemDeDup-style selection step a curation
  * pipeline runs after clustering.
  *
  * Exactness strategy: Lloyd on FLOATS is run-to-run nondeterministic on
  * a cluster (centroid means sum in partition order), so the refinement
  * runs on an integer lattice — embeddings quantized to
  * `round(x*1024)+1024` (unit-norm input ⇒ components in [-1,1] ⇒
  * lattice values in [0,2048], nonnegative so truncating and floor
  * division agree). Distances are exact: squared L2 via the dot-product identity
  * `|q-c|² = q·q − 2q·c + c·c` over integer-valued doubles (the 2q·c term
  * dominates at ~5.4e8 = 2·Dims·2048² with Dims=64, ≪ 2^53, so
  * [[graft.functions.VecDot]] — codegen'd — is exact),
  * and centroid updates are exact long sums ([[graft.functions.VecSumAgg]])
  * followed by floor division. Result: bit-identical across engines,
  * partition counts, and merge orders — the property that makes the
  * clustering REPLAYABLE, which is what a 100 TB curation run needs when
  * the cluster assignment must be reproduced months later.
  *
  * Scale shape: the centroid model is K rows — shipped to every
  * executor inside the plan; the corpus is scanned once per Lloyd round
  * (the algorithm's intrinsic cost) with NO corpus shuffle in assignment
  * (an in-row [[graft.functions.LatticeNearest]] argmin); the update
  * shuffles exactly K partial sum-arrays per partition
  * (VecSumAgg's map-side fold), not corpus×dims rows. The round-2
  * assignment is session-staged (`kmeans_assign`) and shared by
  * q141/q142 — the q36/q57 staging discipline.
  *
  * K here is 16 — the family's coarse-centroid count (q46/q128 route
  * into 16 IVF lists; this build refines exactly those seeds). At
  * production K (thousands), the flat O(K) per-vector argmin is the
  * measured exponent-1.26 problem the family already solved for
  * ASSIGNMENT: q131's two-level routing (16 supers → ~K/16 children,
  * per-vector work 16 + K/16) applies verbatim to each Lloyd round —
  * the update step is K-independent either way (one partial array per
  * cluster per partition). The lattice arithmetic is what this operator
  * pins; the routing topology is orthogonal and composes.
  */
object ClusterOps {

  private val K = 16
  private val Quota = 8

  import graft.functions.VectorFns.dot

  /** Quantize a double vector onto the nonnegative integer lattice:
    * round-half-up at scale 1024, shifted +1024. `floor(x*1024 + 0.5)` is
    * the exact form the DuckDB oracle replays (both engines evaluate it
    * in IEEE double, correctly rounded — no rint/banker's-rounding
    * divergence).
    */
  private[graft] def quant(c: Column): Column =
    transform(c, x => floor(x * 1024 + lit(0.5)).cast("long") + lit(1024L))

  /** (vec_id, qv long-lattice vector, qvd double view, qq self-dot):
    * the per-vector invariants both Lloyd rounds reuse. Well-formed
    * vectors ONLY ([[graft.functions.VectorFns.wellFormed]]: exactly
    * [[graft.functions.VectorFns.Dims]] components, no null element) —
    * the q128 "train on well-formed vectors only" contract. A malformed
    * vector has no lattice distance, and letting it in would hand it to
    * some cluster and dilute that centroid's denominator — exactly the
    * corruption the dirty-index specs exist to forbid.
    */
  private def lattice(s: SparkSession, dir: String): DataFrame =
    // parallelism-floored scan: every lattice consumer is a staged build
    // or the Lloyd loop's persisted base — per-round cost is 2K
    // dot products per vector, which must use all cores even when the
    // embeddings file is a single row group (Tables.parallel passthrough
    // on production layouts)
    SimilarityOps.vecsParallel(s, dir)
      .filter(graft.functions.VectorFns.wellFormed(col("v")))
      .select(col("vec_id"), quant(col("v")).as("qv"))
      .withColumn("qvd", col("qv").cast("array<double>"))
      .withColumn("qq", dot(col("qvd"), col("qvd")))

  /** The lattice's (qv, qvd, qq) as a plain RDD: the input of
    * [[LloydKernel.roundStats]].
    */
  private def latticeRdd(s: SparkSession, dir: String)
      : org.apache.spark.rdd.RDD[(Array[Long], Array[Double], Double)] =
    lattice(s, dir).select(col("qv")).rdd.map { r =>
      val qv = r.getSeq[Long](0).toArray
      val qvd = qv.map(_.toDouble)
      (qv, qvd, graft.functions.VectorModels.dot(qvd, 0, qvd, 0, qvd.length))
    }

  // ------------------------------------------------------------------
  // Iterate-to-convergence Lloyd (q145, round-10 VERDICT directive #2).
  //
  // The two-round q141 stays as the family's pinned refinement; q145
  // generalizes it with a movement-based stop. Loop shape, chosen for
  // 100 TB: the model is ALWAYS an in-memory K-row model, so each
  // round is ONE corpus-scan job — an in-row argmin (the StreamingCluster
  // mechanism, same exact integer distances and tie rules as the window
  // form) feeding a K-group aggregate that returns counts, exact
  // inertia, movement vs the previous model, and VecSumAgg lattice sums in one pass. No
  // round-over-round lineage growth (nothing iterates inside the plan),
  // so no checkpoint dance; per-round cluster cost is a corpus scan +
  // 2K codegen'd dot products per vector for the assignment PLUS the
  // same again for the movement check against the previous model (4K
  // total on rounds ≥ 2 — the honest contract; movement detection is
  // what buys the early stop) + K partial arrays per partition — the
  // textbook distributed Lloyd profile at twice the single-assignment
  // constant.
  //
  // Replayability contract (what the oracle can follow): rounds run to
  // a PINNED MaxRounds ceiling with an early stop at n_moved = 0, and
  // convergence is a FIXED POINT of the deterministic lattice update
  // (unchanged assignment ⇒ identical exact sums ⇒ identical centroids
  // ⇒ identical next assignment), so "stop early at R" and "replay
  // exactly MaxRounds rounds" produce the same assignment, inertia, and
  // model — the DuckDB oracle unrolls MaxRounds rounds and recovers R
  // as the first round whose movement count is zero. Non-convergence by
  // MaxRounds fails LOUD (the ConnectedComponents discipline): a
  // half-converged clustering silently shipped downstream is the
  // corruption mode, not a slow answer.
  // ------------------------------------------------------------------

  /** Pinned round ceiling shared by the Spark loop and the unrolled
    * oracle. Measured convergence-to-zero-movement on the driver corpora:
    * R=10 (sf0.001, 500 vecs), 15 (sf0.01), 20 (sf0.1, 2000 vecs) — the
    * round count grows roughly with log n, so the pin must scale with the
    * corpus; 32 covers the driver corpora with headroom (R shifts with
    * data VALUES too — the two 500-vector corpora converge at 10 and 15 —
    * so a testdata regeneration must not land near the pin) while keeping
    * the oracle's unrolled CTE chain (cost linear in the pin, DuckDB
    * expression depth ~7 CTEs/round) bounded. A bigger corpus that blows
    * the ceiling fails LOUD by design — raise MaxRounds (the oracle
    * unroll follows automatically) rather than shipping a half-converged
    * clustering.
    */
  private[graft] val MaxRounds = 32

  /** In-row nearest-centroid (d, cid) struct
    * ([[graft.functions.LatticeNearest]]) — identical integer distances
    * and (dist asc, cid asc) tie rule to the oracle's window form, with
    * zero shuffle. The batch rounds ([[roundStats]], [[refined]]) and the
    * streaming in-row assignment
    * ([[graft.streaming.StreamingCluster.assignCol]]) all call it.
    */
  private[graft] def nearestStruct(qvd: Column, qq: Column,
      m: Seq[(Long, Seq[Long])]): Column = {
    require(m.nonEmpty, "ClusterOps: empty centroid model")
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(graft.functions.LatticeNearest(expression(qvd), expression(qq),
      graft.functions.LatticeModel(m)))
  }

  /** [[nearestStruct]] over the lattice frame's (qvd, qq) columns. */
  private def argminStruct(m: Seq[(Long, Seq[Long])]): Column =
    nearestStruct(col("qvd"), col("qq"), m)

  /** One Lloyd round under model `m`: per-cluster (n, inertia, moved,
    * exact lattice sums) from a single corpus-scan job. `prev` supplies
    * the previous model for the movement count (round 1 counts every
    * vector as moved).
    */
  private[graft] def roundStats(base: DataFrame, m: Seq[(Long, Seq[Long])],
      prev: Option[Seq[(Long, Seq[Long])]])
      : Seq[(Long, Long, Long, Long, Seq[Long])] = {
    val vsum = udaf(graft.functions.VecSumAgg)
    val cur = argminStruct(m)
    val movedFlag = prev
      .map(p => (cur.getField("cid") =!= argminStruct(p).getField("cid"))
        .cast("long"))
      .getOrElse(lit(1L))
    base
      .select(cur.getField("cid").as("cid"), cur.getField("d").as("dist"),
        movedFlag.as("mv"), col("qv"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"),
        sum(col("mv")).as("moved"), vsum(col("qv")).as("sv"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4).toSeq))
      .toSeq.sortBy(_._1)
  }

  /** Driver-side centroid update from a round's collected stats: exact
    * long sums, floor division (values nonnegative, so Long `/` ≡ Spark
    * `div` ≡ DuckDB `//`); empty clusters drop out.
    */
  private def updateLocal(
      rows: Seq[(Long, Long, Long, Long, Seq[Long])]): Seq[(Long, Seq[Long])] =
    rows.map { case (cid, n, _, _, sv) => cid -> sv.map(_ / n) }

  private val convergedMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      (Seq[(Long, Long, Long)], Int, Seq[(Long, Seq[Long])])]

  /** Lloyd to convergence from the family's seeds: per-cluster
    * (cid, n_members, inertia), the confirming round count R (first
    * round whose assignment equals the previous round's), and the
    * converged model. Fails loud past [[MaxRounds]].
    */
  private[graft] def convergedStats(s: SparkSession, dir: String,
      maxRounds: Int = MaxRounds)
      : (Seq[(Long, Long, Long)], Int, Seq[(Long, Seq[Long])]) = {
    // a non-default ceiling bypasses the memo AND the staging cache —
    // otherwise a memoized full-ceiling result would silently ignore the
    // requested maxRounds (review-pass finding; the fail-loud spec only
    // worked on fresh dirs)
    if (maxRounds != MaxRounds) runLloydLoop(s, dir, maxRounds)
    else {
      // the loop rides Staging.stage with a marker frame (the
      // bucketed_facts/partitioned_events pattern) so its one-time cost is
      // an attributed `kmeans_converged` staging line in the bench artifact
      // instead of hiding in whichever q145 sample runs first; the memo
      // holds the actual result (bounded: K rows + a round count)
      graft.Staging.stage(s, dir, "kmeans_converged") {
        convergedMemo((s, dir)) = runLloydLoop(s, dir, maxRounds)
        s.range(1).toDF("kmeans_converged_ready")
      }
      convergedMemo((s, dir))
    }
  }

  private def notConverged(maxRounds: Int, dir: String): Nothing =
    throw new IllegalStateException(
      s"q145_kmeans_converged: Lloyd did not converge within " +
        s"$maxRounds rounds on $dir — refusing to ship a " +
        "half-converged clustering (raise ClusterOps.MaxRounds " +
        "and the oracle's unroll together, or inspect the corpus)")

  /** WARM START (round-11 directive #2): rounds 1–2 of the trajectory are
    * exactly q141's staged two-round refinement, whose frame now carries
    * `qv`. Two small aggregates over that frame recover (a) the round-2
    * per-cluster stats and movement (cid vs cid0 — a2 vs a1 by
    * construction), (b) the round-1 model m1 (floor-mean of qv by cid0),
    * and (c) the round-2 model m2 (floor-mean by cid) — so the
    * convergence loop pays ZERO corpus argmin scans for its first two
    * rounds and enters at round 3. When q141/q142 already ran in the
    * session the staged frame is free and the `kmeans_converged` staging
    * line shrinks by two rounds' scans; cold, the rounds-1–2 work is
    * attributed to the `kmeans_assign` line it genuinely belongs to
    * (Staging's marginal accounting). The lattice update is
    * deterministic, so stats, the confirming round count R, and the
    * converged model are bit-identical to the from-seeds unroll the
    * DuckDB oracle replays — the fixed-point contract is unchanged.
    */
  private def runLloydLoop(s: SparkSession, dir: String, maxRounds: Int)
      : (Seq[(Long, Long, Long)], Int, Seq[(Long, Seq[Long])]) = {
    val vsum = udaf(graft.functions.VecSumAgg)
    val staged = refined(s, dir)
    val rows2 = staged.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"),
        sum((col("cid") =!= col("cid0")).cast("long")).as("moved"),
        vsum(col("qv")).as("sv"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4).toSeq))
      .toSeq.sortBy(_._1)
    // an all-dirty corpus (no well-formed seed vectors) clusters nothing:
    // the staged refinement is empty exactly when the seed set is (an
    // empty centroid model assigns no rows), so empty round-2 stats mean
    // empty result — matching the oracle's empty set, before the ceiling
    // check (the cold loop returned before any round too)
    if (rows2.isEmpty) return (Seq.empty, 0, Seq.empty)
    if (2 > maxRounds) notConverged(maxRounds, dir)
    val m1 = staged.groupBy(col("cid0"))
      .agg(count(lit(1)).as("n"), vsum(col("qv")).as("sv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).map(_ / r.getLong(1)).toSeq)
      .toSeq.sortBy(_._1)
    val moved2 = rows2.map(_._4).sum
    if (moved2 == 0L)
      return (rows2.map(t => (t._1, t._2, t._3)), 2, m1)
    // rounds 3+ run on the persisted lattice RDD: one job per round and
    // no per-round planning ([[LloydKernel.roundStats]])
    val baseRdd = latticeRdd(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var prev = m1
      var m = updateLocal(rows2)
      var result: Option[(Seq[(Long, Long, Long)], Int, Seq[(Long, Seq[Long])])] = None
      var r = 2
      while (result.isEmpty) {
        r += 1
        if (r > maxRounds) notConverged(maxRounds, dir)
        val rows = LloydKernel.roundStats(baseRdd, m, Some(prev))
        val moved = rows.map(_._4).sum
        if (moved == 0L)
          result = Some((rows.map(t => (t._1, t._2, t._3)), r, m))
        else { prev = m; m = updateLocal(rows) }
      }
      result.get
    } finally baseRdd.unpersist()
  }

  /** The converged model — what a production deployment freezes and
    * ships to ingest ([[graft.streaming.StreamingCluster]]).
    */
  private[graft] def convergedModel(
      s: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    convergedStats(s, dir)._3

  /** Round N+1 centroids from a full corpus RESCAN under model `m` —
    * the batch twin of `StreamingCluster.nextCentroids(updateState(...))`:
    * the handoff spec asserts state-read ≡ corpus-rescan equality, which
    * is what lets a streaming deployment run the next Lloyd round from
    * accumulated state instead of re-scanning 100 TB.
    */
  private[graft] def nextModelFromRescan(s: SparkSession, dir: String,
      m: Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] =
    updateLocal(roundStats(lattice(s, dir), m, None))

  /** Oracle twin of [[convergedStats]]: `n` unrolled Lloyd rounds
    * (assignment aN, per-round movement counts), convergence round =
    * first r with zero movement. Post-convergence rounds are fixed-point
    * no-ops, so round-n stats equal the Spark loop's early-stopped
    * round-R stats.
    */
  private def convergedSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qn AS MATERIALIZED (SELECT vec_id,
                      list_transform(v, x ->
                        CAST(FLOOR(x * 1024 + 0.5) AS BIGINT) + 1024) AS qv
               FROM e
               WHERE len(v) = ${graft.functions.VectorFns.Dims}
                 AND len(list_filter(v, x -> x IS NULL)) = 0),
        c1 AS (SELECT vec_id AS cid, qv AS cv FROM qn WHERE vec_id < $K)"""
    for (r <- 1 to n) {
      sb ++= s""",
        d$r AS (SELECT qn.vec_id, qn.qv, c$r.cid,
                      CAST(list_dot_product(qn.qv, qn.qv)
                           - 2 * list_dot_product(qn.qv, c$r.cv)
                           + list_dot_product(c$r.cv, c$r.cv) AS BIGINT) AS dist
               FROM qn, c$r),
        r$r AS (SELECT vec_id, qv, cid, dist,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cid) AS rn
               FROM d$r),
        a$r AS MATERIALIZED (SELECT vec_id, qv, cid, dist FROM r$r WHERE rn = 1)"""
      if (r < n) sb ++= s""",
        cnt$r AS (SELECT cid, COUNT(*) AS nn FROM a$r GROUP BY cid),
        ux$r AS (SELECT cid, t.j, CAST(SUM(qv[t.j]) AS BIGINT) AS sx
               FROM a$r, UNNEST(generate_series(1, len(qv))) AS t(j)
               GROUP BY cid, t.j),
        c${r + 1} AS (SELECT ux$r.cid,
                      list(ux$r.sx // cnt$r.nn ORDER BY ux$r.j) AS cv
               FROM ux$r JOIN cnt$r USING (cid) GROUP BY ux$r.cid)"""
    }
    for (r <- 2 to n) sb ++= s""",
        mv$r AS (SELECT $r AS r, COUNT(*) AS mv
                 FROM a$r JOIN a${r - 1} USING (vec_id)
                 WHERE a$r.cid <> a${r - 1}.cid)"""
    sb ++= s""",
        moved AS (${(2 to n).map(r => s"SELECT r, mv FROM mv$r").mkString(" UNION ALL ")}),
        conv AS (SELECT CAST(MIN(r) AS BIGINT) AS n_rounds
                 FROM moved WHERE mv = 0)
        SELECT a.cid, COUNT(*) AS n_members,
               CAST(SUM(a.dist) AS BIGINT) AS inertia,
               ANY_VALUE(conv.n_rounds) AS n_rounds
        FROM a$n a, conv
        GROUP BY a.cid"""
    sb.toString
  }

  /** The family's deterministic first-K seed model as driver rows —
    * bounded (≤K) like [[refinedModel]]; memoized per (session, dir).
    */
  private val seedMemo =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), Seq[(Long, Seq[Long])]]

  private def seedModel(s: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    seedMemo.getOrElseUpdate((s, dir),
      lattice(s, dir).filter(col("vec_id") < K)
        .select(col("vec_id"), col("qv")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .toSeq.sortBy(_._1))

  /** Centroid update: exact long sums (VecSumAgg — one array per
    * (partition, cid) partial) then floor division; empty clusters drop
    * out in both engines identically.
    */
  private def updateCentroids(a1: DataFrame): DataFrame = {
    val vsum = udaf(graft.functions.VecSumAgg)
    a1.groupBy(col("cid"))
      .agg(vsum(col("qv")).as("sv"), count(lit(1)).as("n"))
      .select(col("cid"), expr("transform(sv, x -> x div n)").as("cv"))
  }

  /** Refined (post-update) centroid model as driver-side rows — bounded
    * (≤K) by construction and memoized per (session, dir) like
    * SimilarityOps' model builds: the offline-trained model a streaming
    * ingest path ships inside its plan
    * ([[graft.streaming.StreamingCluster]]) without re-running the
    * corpus scans on every call. Built from ONE
    * [[LloydKernel.roundStats]] round over the lattice RDD (exact sums +
    * floor division ≡ [[updateCentroids]]).
    */
  private val modelMemo =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), Seq[(Long, Seq[Long])]]

  private[graft] def refinedModel(
      s: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    modelMemo.getOrElseUpdate((s, dir), {
      val m0 = seedModel(s, dir)
      if (m0.isEmpty) Seq.empty
      else updateLocal(LloydKernel.roundStats(latticeRdd(s, dir), m0, None))
    })

  /** Session-staged two-round Lloyd refinement:
    * `(vec_id, cid, cid0, dist, qv)` — final assignment, round-1
    * assignment (for convergence accounting), exact squared distance to
    * the refined centroid, and the lattice vector. Seeds are the family's
    * deterministic first-K vectors, so q141's round 1 reproduces exactly
    * the assignment q46/q100 ship. `qv` rides along so the q145
    * convergence loop can WARM-START from this frame: one aggregate over
    * (cid0, qv) recovers the round-1 model and one over (cid, qv) the
    * round-2 stats and model — no corpus argmin rescan for rounds 1–2
    * (round-11 directive #2). At a written-table deployment qv roughly
    * doubles the assignment table's footprint; that is the documented
    * trade for the downstream convergence run skipping two corpus scans.
    * Both rounds' argmins ([[nearestStruct]] under the seeds for cid0 and
    * under the refined model for cid/dist) run in one zero-shuffle
    * projection of the lattice.
    */
  private def refined(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, dir, "kmeans_assign") {
      val base = lattice(s, dir)
      val m0 = seedModel(s, dir)
      if (m0.isEmpty)
        // an all-dirty corpus has no well-formed seeds: the old
        // crossJoin-with-empty-model form assigned no rows — keep the
        // empty frame (same schema)
        base.filter(lit(false))
          .select(col("vec_id"), lit(0L).as("cid"), lit(0L).as("cid0"),
            lit(0L).as("dist"), col("qv"))
      else {
        val a1 = argminStruct(m0)
        val a2 = argminStruct(refinedModel(s, dir))
        base.select(col("vec_id"), a2.getField("cid").as("cid"),
          a1.getField("cid").as("cid0"), a2.getField("d").as("dist"),
          col("qv"))
      }
    }

  /** Oracle CTE chain ending in `asg(vec_id, cid, cid0, dist)` — the SQL
    * twin of [[refined]], shared by the q141 and q142 oracles.
    */
  private val refinedCte = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qn AS (SELECT vec_id,
                      list_transform(v, x ->
                        CAST(FLOOR(x * 1024 + 0.5) AS BIGINT) + 1024) AS qv
               FROM e
               WHERE len(v) = ${graft.functions.VectorFns.Dims}
                 AND len(list_filter(v, x -> x IS NULL)) = 0),
        c0 AS (SELECT vec_id AS cid, qv AS cv FROM qn WHERE vec_id < $K),
        d1 AS (SELECT qn.vec_id, qn.qv, c0.cid,
                      CAST(list_dot_product(qn.qv, qn.qv)
                           - 2 * list_dot_product(qn.qv, c0.cv)
                           + list_dot_product(c0.cv, c0.cv) AS BIGINT) AS dist
               FROM qn, c0),
        r1 AS (SELECT vec_id, qv, cid,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cid) AS rn
               FROM d1),
        a1 AS (SELECT vec_id, qv, cid FROM r1 WHERE rn = 1),
        cnt AS (SELECT cid, COUNT(*) AS n FROM a1 GROUP BY cid),
        ux AS (SELECT cid, t.j, CAST(SUM(qv[t.j]) AS BIGINT) AS sx
               FROM a1, UNNEST(generate_series(1, len(qv))) AS t(j)
               GROUP BY cid, t.j),
        c1 AS (SELECT ux.cid, list(ux.sx // cnt.n ORDER BY ux.j) AS cv
               FROM ux JOIN cnt USING (cid) GROUP BY ux.cid),
        d2 AS (SELECT qn.vec_id, c1.cid,
                      CAST(list_dot_product(qn.qv, qn.qv)
                           - 2 * list_dot_product(qn.qv, c1.cv)
                           + list_dot_product(c1.cv, c1.cv) AS BIGINT) AS dist
               FROM qn, c1),
        r2 AS (SELECT vec_id, cid, dist,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cid) AS rn
               FROM d2),
        a2 AS (SELECT vec_id, cid, dist FROM r2 WHERE rn = 1),
        asg AS (SELECT a2.vec_id, a2.cid, a1.cid AS cid0, a2.dist
                FROM a2 JOIN a1 USING (vec_id))"""

  val all: Seq[Q] = Seq(
    Q(
      "q141_kmeans_refine",
      (s, dir) => {
        refined(s, dir)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"),
            sum((col("cid0") =!= col("cid")).cast("long")).as("n_moved"),
            sum(col("dist")).as("inertia"))
      },
      Some(refinedCte + """
        SELECT cid, COUNT(*) AS n_members,
               CAST(SUM(CASE WHEN cid0 <> cid THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved,
               CAST(SUM(dist) AS BIGINT) AS inertia
        FROM asg GROUP BY cid"""),
      "Integer-lattice Lloyd refinement of the family's seed centroids " +
        "(two unrolled rounds): per-cluster membership, movement between " +
        "rounds, and exact integer inertia — the k-means build step every " +
        "centroid consumer (q46/q100/q128) deterministically stubs " +
        "(pipeline ops brief: clustering for curation must be replayable)."),

    Q(
      "q142_cluster_balanced_sample",
      (s, dir) => {
        // Cluster-balanced (diversity) selection over the refined
        // clustering: up to `Quota` members per cluster, chosen by
        // hash32 rank — deterministic pseudo-random, the q58 sampling
        // contract. One window per cluster over the staged assignment;
        // the partial WindowGroupLimit forwards ≤Quota rows per cluster
        // per map task, so the shuffle carries samples, not the corpus.
        import graft.functions.TextFns.hash32
        val w = Window.partitionBy(col("cid"))
          .orderBy(col("hv").asc, col("vec_id").asc)
        refined(s, dir)
          .select(col("cid"), col("vec_id"),
            hash32(col("vec_id").cast("string")).as("hv"))
          .withColumn("r", row_number().over(w).cast("long"))
          .filter(col("r") <= Quota)
          .select(col("cid"), col("vec_id"), col("r"))
      },
      Some(refinedCte + s""",
        hv AS (SELECT cid, vec_id,
                      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                           AS BIGINT) AS hv
               FROM asg),
        rk AS (SELECT cid, vec_id,
                      CAST(row_number() OVER (PARTITION BY cid
                        ORDER BY hv, vec_id) AS BIGINT) AS r
               FROM hv)
        SELECT cid, vec_id, r FROM rk WHERE r <= $Quota"""),
      "Cluster-balanced diversity sample: a deterministic hash-ranked " +
        "quota per refined cluster — the selection step a curation " +
        "pipeline runs on top of k-means (DCLM-style cluster-balanced " +
        "sampling), sharing q141's staged assignment."),

    Q(
      "q145_kmeans_converged",
      (s, dir) => {
        import s.implicits._
        val (members, rounds, _) = convergedStats(s, dir)
        members.toDF("cid", "n_members", "inertia")
          .withColumn("n_rounds", lit(rounds.toLong))
      },
      Some(convergedSql(MaxRounds)),
      "Lloyd iterated to CONVERGENCE (movement-based stop, fail-loud " +
        s"ceiling at $MaxRounds rounds): per-cluster membership, exact " +
        "integer inertia, and the confirming round count. One corpus-scan " +
        "job per round against an in-memory K-row model (in-row argmin, no " +
        "lineage growth); the fixed-point property of the deterministic " +
        "lattice update is what lets the oracle replay a pinned round " +
        "count and recover the same answer."))
}

/** The Lloyd round loop: one mapPartitions pass per round folds
  * per-cluster (n, inertia, moved, exact lattice sums) with
  * [[graft.functions.LatticeModel.nearest]], and the ≤K per-partition maps
  * merge via reduce — one job per round, no per-round Catalyst planning.
  * ClusterOpsLoopSpec pins it equal to the DataFrame round
  * ([[ClusterOps.roundStats]]).
  */
private[graft] object LloydKernel extends Serializable {

  /** Per-round per-cluster accumulator. */
  final class Acc(dims: Int) extends Serializable {
    var n = 0L; var inertia = 0L; var moved = 0L
    val sums = new Array[Long](dims)
  }

  def roundStats(
      base: org.apache.spark.rdd.RDD[(Array[Long], Array[Double], Double)],
      m: Seq[(Long, Seq[Long])], prev: Option[Seq[(Long, Seq[Long])]])
      : Seq[(Long, Long, Long, Long, Seq[Long])] = {
    val cur = graft.functions.LatticeModel(m)
    val before = prev.map(graft.functions.LatticeModel(_))
    base.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[Long, Acc]
      it.foreach { case (qv, qvd, qq) =>
        val (cid, d) = cur.nearest(qvd, qq)
        val a = acc.getOrElseUpdate(cid, new Acc(qv.length))
        a.n += 1L
        a.inertia += d
        val mv = before match {
          case Some(p) => if (p.nearest(qvd, qq)._1 != cid) 1L else 0L
          case None => 1L
        }
        a.moved += mv
        var i = 0
        while (i < qv.length) { a.sums(i) += qv(i); i += 1 }
      }
      Iterator.single(acc)
    }.reduce { (x, y) =>
      y.foreach { case (cid, a) =>
        x.get(cid) match {
          case Some(b) =>
            b.n += a.n; b.inertia += a.inertia; b.moved += a.moved
            var i = 0
            while (i < a.sums.length) { b.sums(i) += a.sums(i); i += 1 }
          case None => x(cid) = a
        }
      }
      x
    }.toSeq
      .map { case (cid, a) => (cid, a.n, a.inertia, a.moved, a.sums.toSeq) }
      .sortBy(_._1)
  }
}
