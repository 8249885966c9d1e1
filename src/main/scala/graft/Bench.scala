package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR.
  *
  * Measurement: `df.write.format("noop")` — materializes every column of
  * every result row through the full plan (unlike `count()`, under which
  * Catalyst prunes unevaluated projections).
  *
  * Trust properties (round-4 hardening):
  *   - Each query is timed REPEATS times and the MINIMUM is reported: the min
  *     is the best estimator of intrinsic plan cost under ambient load (any
  *     slower sample is noise by definition on an otherwise-idle box).
  *   - Samples are spread over two full passes of the query list, so a
  *     transient load spike (which covers back-to-back samples) cannot
  *     poison every sample of a query (see [[measure]]).
  *   - A query that throws is recorded in an "errors" map with its exception,
  *     never as a fast-normal timing; its name is excluded from "queries".
  *   - Warmup materializes the session-staged envelope frames (graft.Staging
  *     via q23/q26) plus the flagship aggregation, so the first timed queries
  *     measure steady-state plan cost, not one-time staging builds.
  *
  * Output: ONE machine-readable JSON line on stdout; the same line is also
  * written to BENCH_RESULT.json in the working directory because sbt decorates
  * stdout with [info] prefixes that can break line-oriented parsers.
  */
object Bench {
  private val Repeats = 3

  /** Times each query `repeats` times via `once`, returning (min timings,
    * errors). A query that throws lands in the error map with its exception
    * and is excluded from timings — exposed for the spec that proves a
    * crashing query can never report a fast-normal number.
    *
    * Samples are split across TWO temporally-separated full passes over the
    * query list (`repeats-1` samples in pass one, the last in pass two)
    * rather than taken back-to-back: a minutes-scale ambient load spike
    * covers all adjacent samples of whichever queries it lands on, and the
    * min cannot recover. BENCH_r05's q101 at 3.14 s (isolated + in-order
    * replay: 0.45-0.61 s) was exactly this — its q100 neighbor was inflated
    * by the same spike. With the passes minutes apart, a transient spike
    * poisons at most one pass and the other still yields a clean minimum.
    */
  def measure(
      queries: Seq[(String, () => Unit)],
      repeats: Int = Repeats): (Vector[(String, Double)], Map[String, String]) = {
    // samples keyed by POSITION, not name: two input entries sharing a
    // name stay independent timings instead of silently pooling samples
    val samples = collection.mutable.Map.empty[Int, Vector[Double]]
    val errors = collection.mutable.Map.empty[String, String]
    val passes = if (repeats >= 2) Seq(repeats - 1, 1) else Seq(repeats)
    passes.foreach { n =>
      queries.zipWithIndex.foreach { case ((name, once), idx) =>
        (1 to n).foreach { _ =>
          val t0 = System.nanoTime()
          try {
            once()
            samples(idx) = samples.getOrElse(idx, Vector.empty) :+
              (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
          }
        }
      }
    }
    val timings = queries.zipWithIndex.flatMap { case ((name, _), idx) =>
      samples.get(idx).flatMap(_.minOption).map(name -> _)
    }.toVector
    (timings, errors.toMap)
  }

  /** Materializes every column of every row of `df` through the noop sink. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds to build registered query `name` over `dir` and
    * [[drain]] it — one sample of the single-query harnesses
    * (BenchOne/ScalingBench/AnnNlistSweep).
    */
  def seconds(spark: SparkSession, name: String, dir: String): Double =
    seconds(SparkEntry.queries(name)(spark, dir))

  /** Wall seconds to build `df` and [[drain]] it. */
  def seconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    drain(df)
    (System.nanoTime() - t0) / 1e9
  }

  /** Ambient-load evidence recorded in the bench artifact (round-7 VERDICT
    * directive #7): /proc/loadavg at start and end of the run, plus a fixed
    * trivial sentinel query (registry-independent `spark.range` sum) timed
    * min-of-3 before and after the measured passes. Three rounds of movers
    * were explained by "ambient smear" confirmed only via manual worktree
    * re-benching; these fields make the smear attributable from the
    * artifact alone — an inflated end-sentinel or elevated loadavg says
    * "co-tenant load", matching sentinels say the movers are real.
    */
  final case class Ambient(
      loadavgStart: Seq[Double], loadavgEnd: Seq[Double],
      sentinelStart: Double, sentinelEnd: Double)

  /** Renders the two result lines: (stdout line, BENCH_RESULT.json line).
    *
    * The round driver parses stdout through a bounded tail window (~2000
    * chars, measured from BENCH_r02 vs r03/r04: the 53-query line parsed,
    * the 55- and 74-query lines silently didn't). The stdout line therefore
    * uses compact "qNN" keys + ms precision so it fits at any plausible
    * query count; the full-name, full-precision line goes to the file.
    * Short keys fall back to full names if the qNN prefixes ever clash.
    */
  private[graft] def render(
      ts: Vector[(String, Double)],
      errMap: Map[String, String],
      sfDir: String,
      staging: Vector[(String, Double)] = Vector.empty,
      ambient: Option[Ambient] = None,
      reusedStaging: Vector[String] = Vector.empty): (String, String) = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ")
    val errs = errMap.toVector.sortBy(_._1)
    val shortKey: String => String = {
      // Uniqueness is checked over timed AND errored names together: an
      // errored query shares the key namespace of the stdout JSON, so a
      // qNN prefix clash on either side falls everything back to full names.
      val prefixes = (ts.map(_._1) ++ errMap.keys).map(_.takeWhile(_ != '_'))
      val unique = prefixes.distinct.size == prefixes.size
      name => if (unique) name.takeWhile(_ != '_') else name
    }
    // stdout uses 2-decimal precision: at 131+ queries the 3-decimal line
    // brushed the driver's ~1900-char tail budget (measured 1871 chars);
    // the full-precision numbers live in the BENCH_RESULT.json line
    def ms(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // trailing-zero-stripped variants for the tighter compression stages
    // ("0.60" -> "0.6", "12.00" -> "12"): ~0.5 chars/query for free
    def strip(s: String): String =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    def msT(v: Double): String = strip(ms(v))
    // the last stages' values: one decimal from 0.1 s up, two significant
    // digits below ("0.035"), so a fast query never reads 0. Two digits
    // for every value below 1 s ("0.42") cost ~150 more chars at 184
    // queries, more than the line has to spare.
    def compact(v: Double): String = strip(
      if (v >= 0.1 || v <= 0.0)
        BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      else BigDecimal(v).round(new java.math.MathContext(2,
        java.math.RoundingMode.HALF_UP)).bigDecimal.toPlainString)
    // staging keys for the compressed stages: the globally-shortest
    // prefix length (>=3) that keeps every staged name unique; falls
    // back to full names when no prefix disambiguates
    val stShortKey: String => String = {
      val names = staging.map(_._1) ++ reusedStaging
      val cut = (3 to names.map(_.length).maxOption.getOrElse(3)).find(l =>
        names.map(_.take(l)).distinct.size == names.size)
      name => cut.map(name.take).getOrElse(name)
    }
    def stObj(key: String => String, fmt: Double => String): String = {
      val built = staging.map { case (k, v) => s""""${esc(key(k))}":${fmt(v)}""" }
      val reused = reusedStaging.map(k => s""""${esc(key(k))}":"reused"""")
      (built ++ reused).mkString("{", ",", "}")
    }
    // absolute last resort, when even shortened per-entry staging can't
    // fit: total build seconds + entry counts — amortized cost stays
    // visible in the artifact even if per-frame attribution moves to the
    // file line only. Built and reused counts are SEPARATE fields: _sum
    // covers only built frames, so folding reused entries into one count
    // would make _sum/_n read as a per-frame cost that matches neither
    // set (review-pass finding).
    def stSum: String =
      s"""{"_sum":${ms(staging.map(_._2).sum)},"_n":${staging.size},"_reused":${reusedStaging.size}}"""
    val total = ts.map(_._2).sum
    // Error bodies are the one unbounded input to the stdout line: ten
    // ~190-char exceptions overflowed every compression stage in r08 and
    // the driver recorded `parsed: null`. The stdout stages therefore cap
    // each error to its exception class + the first 80 message chars (the
    // full text always lives in the BENCH_RESULT.json file line), and a
    // final stage drops message bodies entirely, keeping just the errored
    // query names — the stdout line can no longer be blown up by error
    // text, only by sheer query count (covered by the existing stages).
    def capErr(v: String, msgCap: Int): String =
      if (msgCap == Int.MaxValue) v
      else if (msgCap <= 0) ""
      else {
        val i = v.indexOf(": ")
        if (i >= 0) v.take(i + 2) + v.drop(i + 2).take(msgCap) else v.take(msgCap)
      }
    def line(key: String => String, fmt: Double => String,
        st: String, errCap: Int = Int.MaxValue) = {
      val qs = ts.map { case (k, v) => s"\"" + key(k) + "\":" + fmt(v) }.mkString("{", ",", "}")
      val es = errs.map { case (k, v) =>
        s"\"${esc(key(k))}\":\"${esc(capErr(v, errCap))}\"" }.mkString("{", ",", "}")
      val amb = ambient.map { a =>
        def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
        s""","loadavg_start":${arr(a.loadavgStart)},"loadavg_end":${arr(a.loadavgEnd)}""" +
          s""","sentinel_start":${fmt(a.sentinelStart)},"sentinel_end":${fmt(a.sentinelEnd)}"""
      }.getOrElse("")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"staging":$st,"errors":$es,"repeats":$Repeats$amb,"sf":"$sfDir"}"""
    }
    // adaptive compression stages for the driver's bounded tail window.
    // Staged-frame builds are their own line items, so per-query numbers
    // are marginal cost and the one-time build cost is visible instead of
    // riding inside whichever consumer ran first; entries are
    // marginal-additive (graft.Staging) so their sum is real staging wall
    // time. BENCH_r10's driver artifact recorded "staging":{} because the
    // old ladder DROPPED staging at 144 queries — the new ladder keeps
    // per-entry staging through every realistic stage (shortened names,
    // then 1-decimal values, then dropped error bodies) and only collapses
    // to a {"_sum","_n"} total as a last resort, so amortized cost can
    // never again silently vanish from the artifact (round-10 directive
    // #3). Stages: (1) qNN keys, 2-dec, full staging names; (2) digit keys
    // ("q95" -> "95" — digits stay unique iff the qNN keys were); (3)
    // trailing-zero-stripped values + prefix-shortened staging names; (4)
    // compact values (one decimal, two significant digits below 0.1 s);
    // (5) drop error message bodies, keep errored names; (6) staging collapsed to its sum + count. Overflow past stage 6 is
    // LOUD (stderr) instead of the driver silently truncating the tail.
    // LazyList memoizes: the overflow fallback reuses the last-stage
    // string the find already rendered instead of rendering it twice.
    val digitKey = shortKey.andThen(k => if (k.startsWith("q")) k.drop(1) else k)
    val stages = LazyList(
      () => line(shortKey, ms, stObj(identity, ms), errCap = 80),
      () => line(digitKey, ms, stObj(identity, ms), errCap = 80),
      () => line(digitKey, msT, stObj(stShortKey, msT), errCap = 80),
      () => line(digitKey, compact, stObj(stShortKey, compact), errCap = 80),
      () => line(digitKey, compact, stObj(stShortKey, compact), errCap = 0),
      () => line(digitKey, compact, stSum, errCap = 0)).map(_())
    val stdoutLine = stages.find(_.length <= 1880)
      .getOrElse {
        val last = stages.last
        System.err.println(s"[Bench] stdout line still ${last.length} chars " +
          "after all compression stages — driver tail window may truncate it")
        last
      }
    (stdoutLine, line(identity, v => v.toString, stObj(identity, _.toString)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()

    // Snapshot of staged state BEFORE this run touches anything: frames
    // already cached or timed now were paid by earlier session activity,
    // so this run reports them as explicit "reused" entries — the
    // cache-minus-times difference alone can never detect that, because
    // Staging records a time for every build it ever ran (review-pass
    // finding on the round-10 directive-#3 fix).
    val preBuilt: Set[String] =
      Staging.buildTimes(spark).keysIterator
        .collect { case (d, n) if d == sfDir => n }.toSet ++
        Staging.stagedNames(spark).collect { case (d, n) if d == sfDir => n }

    def once(fn: (SparkSession, String) => DataFrame): Unit =
      drain(fn(spark, sfDir))

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    // Warmup (untimed): flagship query for JIT/codegen/parquet-footer caches,
    // plus one query from each session-staged family (Dwd.cdc / Dwd.logEnv /
    // DedupOps CC labels / MinHash pairs) so staging builds before any timed
    // run and every timed number is steady-state plan cost.
    val warmupNames = Set("q01_pricing_summary", "q23_cdc_insert_facts",
      "q26_log_split", "q57_neardup_cluster", "q36_minhash_band_dedup",
      "q80_format_interop",
      // q35 stages the shared jaccard pair frame (jc_pairs — round-19:
      // shared with q124's truth side)
      "q35_ngram_jaccard",
      // gram staging tables: q63 builds grams5, q96 grams10 (grams3 is
      // staged by the q36/q57 warmups above); q95 builds the PageRank
      // pr_nodes/pr_edges frames
      "q63_decontamination", "q96_repeated_ngram_dedup",
      "q95_pagerank_neardup",
      // q145 stages the kmeans_converged loop (the Lloyd iteration)
      "q145_kmeans_converged",
      // q161 stages the vocab word-count frame (shared with q164's merge
      // loop — round-16: the round-15 verdict's staging fix)
      "q161_vocab_coverage_plan")
    queries.filter(q => warmupNames(q._1)).foreach { case (_, fn) =>
      try once(fn) catch { case _: Throwable => () }
    }

    // ambient-load evidence: loadavg + a registry-independent sentinel
    // (fixed range-sum, min-of-3) bracketing the measured passes — see
    // [[Ambient]]. Runs after warmup so the sentinel is steady-state too.
    def loadavg(): Seq[Double] =
      scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim
        .split("\\s+").take(3).toSeq.map(_.toDouble)).getOrElse(Seq.empty)
    def sentinel(): Double = (1 to 3).map { _ =>
      seconds(spark.range(0, 4000000L, 1, 32)
        .selectExpr("sum(id) AS s", "count(1) AS c"))
    }.min
    val (load0, sent0) = (loadavg(), sentinel())

    val (ts, errMap) = measure(
      queries.map { case (name, fn) => name -> (() => once(fn)) })

    val ambient = Ambient(load0, loadavg(), sent0, sentinel())

    // every staged frame built anywhere in this run (warmup or a first
    // consumer), as its own line item; Staging.stage times the build
    // eagerly so the number is the build itself, not consumer-attributed.
    // Entries are marginal (nested builds subtracted) and additive —
    // their sum is the real staging wall time; session-filtered.
    // build entries = frames whose build happened DURING this run;
    // anything in the pre-run snapshot is reported as an explicit
    // "reused" marker instead, so the artifact carries one line per
    // staged frame regardless of session history (round-10 directive #3)
    val staging = Staging.buildTimes(spark).toVector
      .collect { case ((d, name), secs)
        if d == sfDir && !preBuilt(name) => name -> secs }
      .sortBy(_._1)
    val reused = (preBuilt ++
      (Staging.stagedNames(spark)
        .collect { case (d, name) if d == sfDir => name }
        -- staging.map(_._1) -- preBuilt)).toVector.sorted

    val (stdoutLine, fileLine) =
      render(ts, errMap, sfDir, staging, Some(ambient), reused)
    println(stdoutLine)
    Files.writeString(Paths.get("BENCH_RESULT.json"), fileLine + "\n")
    spark.stop()
  }
}
