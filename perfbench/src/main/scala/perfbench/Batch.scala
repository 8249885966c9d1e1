package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** batch_sweep: the oracle-checked query surface, run query by query with
  * a noop sink, each output checked against its fingerprint.
  */
object Batch {

  /** The gated workload's fixed slice of the registry, chosen by
    * `perfbench/choose_slice.py` from a traced `batch_full` pass: eight
    * queries whose construction, eager-job and schema-job shares of the
    * pass and share of construction-heavy queries match the full pass's,
    * holding a construction-bound query of its 20 slowest (q132), with a
    * set-up that builds six of the 22 staged frames (NOTES.md).
    * `batch_full` runs all 184.
    */
  val Slice = Seq(
    "q111_snapshot_diff", "q132_bloom_decon_sized", "q159_paragraph_dedup",
    "q172_epoch_repeat_plan", "q20_cart_add_uu", "q25_cart_add_delta",
    "q40_multimodal_meta", "q95_pagerank_neardup")

  /** Seconds of measurement one pass over the slice is budgeted: a run
    * makes round(seconds / PassBudgetS) passes (at least one), a whole
    * number fixed in advance, so every run has the same sample count.
    */
  val PassBudgetS = 2.0

  def names(full: Boolean): Seq[String] =
    if (full) graft.SparkEntry.queries.keys.toSeq.sorted else Slice

  /** Row count plus an order-independent hash of the rows (columns in
    * name order, as the oracle compare sorts them).
    */
  final case class Fp(rows: Long, hash: String)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `df` with its fingerprint aggregated into `obs` as the rows stream
    * past; the rows themselves are unchanged.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val names = df.columns
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = names.indices.sortBy(i => names(i)).map { i =>
      val c = col(s"c$i")
      if (hasMap(renamed.schema(i).dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"),
      sum(h.cast("decimal(38,0)")).as("hash"))
  }

  def fingerprint(obs: Observation): Fp = {
    val m = obs.get
    Fp(m("rows").asInstanceOf[Long], String.valueOf(m("hash")))
  }

  /** Fingerprint of a frame by running it once more (checks only). */
  def fingerprintOf(df: DataFrame): Fp = {
    val obs = new Observation()
    observed(df, obs).write.format("noop").mode("overwrite").save()
    fingerprint(obs)
  }

  /** One query op. Wall time covers construction (the `run` call) and the
    * noop write; a throw or a fingerprint mismatch is a failure.
    */
  final case class QRun(name: String, wallMs: Double, constructMs: Double,
      fp: Option[Fp], error: Option[String])

  def runQuery(ctx: Ctx, s: SparkSession, op: String, name: String,
      fn: (SparkSession, String) => DataFrame): QRun = {
    val obs = new Observation()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      ctx.span(op, "op") {
        val df = ctx.span(op, Tracer.ConstructLayer)(fn(s, ctx.args.data))
        t1 = System.nanoTime()
        ctx.span(op, "write") {
          observed(df, obs).write.format("noop").mode("overwrite").save()
        }
      }
      val t2 = System.nanoTime()
      QRun(name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, Some(fingerprint(obs)), None)
    } catch {
      case e: Throwable =>
        QRun(name, (System.nanoTime() - t0) / 1e6, (t1 - t0) / 1e6, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }

  /** The failure a run's output check finds, if any. */
  def verdict(r: QRun, expected: Map[String, Fp]): Option[String] =
    r.error.orElse(r.fp.flatMap { fp =>
      expected.get(r.name) match {
        case None => Some("no recorded fingerprint")
        case Some(e) if e != fp => Some(s"fingerprint $fp != recorded $e")
        case _ => None
      }
    })

  /** Every query of the list run once: staged frames built, code paths
    * warm. One set-up per run: it is the workload's costliest phase (the
    * staged frames plus a cold pass), so repeating it would not fit a run.
    * Returns (session, seconds).
    */
  def setUp(ctx: Ctx, list: Seq[(String, (SparkSession, String) => DataFrame)])
      : (SparkSession, Double) = {
    val t0 = System.nanoTime()
    list.foreach { case (name, fn) => runQuery(ctx, ctx.spark, s"setup:$name", name, fn) }
    (ctx.spark, (System.nanoTime() - t0) / 1e9)
  }

  def sweep(ctx: Ctx, sessionS: Double, full: Boolean): Outcome = {
    val reg = graft.SparkEntry.queries
    val list = names(full).map(n => n -> reg(n))
    val (s, setupS) = setUp(ctx, list)
    val passes = if (full) 1 else math.max(1, math.round(ctx.args.seconds / PassBudgetS).toInt)
    val o = measure(ctx, s, list, Fingerprints.load(ctx.args.fingerprints), passes)
    o.copy(e2e = o.e2e ++ Map("setup_s" -> M(sessionS + setupS, "s")),
      detail = o.detail ++ Map("session_s" -> sessionS))
  }

  /** Passes over `list` in seeded orders, in session `s` whose set-up is
    * done; `batch_full` makes one.
    */
  def measure(ctx: Ctx, s: SparkSession,
      list: Seq[(String, (SparkSession, String) => DataFrame)],
      expected: Map[String, Fp], passes: Int): Outcome = {
    val cached = Ambient.cachedMb(ctx.spark)
    val files0 = Layers.filesDiscovered()
    val gc0 = Ambient.gcSeconds()
    val tm = System.nanoTime()
    val runs = Vector.newBuilder[(Int, QRun)]
    val passS = (0 until passes).map { pass =>
      val t0 = System.nanoTime()
      ctx.rng.shuffle(list).foreach { case (name, fn) =>
        runs += pass -> runQuery(ctx, s, s"q$pass:$name", name, fn)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val tEnd = System.nanoTime()
    val wallS = (tEnd - tm) / 1e9
    val gcS = Ambient.gcSeconds() - gc0
    val files = Layers.filesDiscovered() - files0
    val all = runs.result()
    val fails = all.flatMap { case (p, r) => verdict(r, expected).map(v => s"pass $p ${r.name}: $v") }
    val good = all.filter { case (_, r) => verdict(r, expected).isEmpty }
    val lat = good.map(_._2.wallMs)
    val tail = if (lat.isEmpty) Stats.Tail(0, "none", 0) else Stats.tail(lat)
    // medians over passes, so one slow pass moves neither: a query's
    // latency is its median over the passes; capacity is each pass's
    // good queries over its wall time
    val perQueryMs = good.groupBy(_._2.name).values.map(rs => Stats.median(rs.map(_._2.wallMs))).toSeq
    val passRates = passS.indices.map(p => good.count(_._1 == p) / passS(p))

    val e2e = Map(
      "cached_mb" -> M(cached, "MB"),
      "op_p50_ms" -> M(if (lat.isEmpty) 0.0 else Stats.median(perQueryMs), "ms"),
      "op_tail_ms" -> M(tail.value, "ms"),
      "capacity_per_s" -> M(Stats.median(passRates), "1/s"))
    val layers = ctx.tracer.map { t =>
      t.drain()
      val agg = t.aggregate(op => op.startsWith("q") && op.contains(':'), t.wallMs(tm), t.wallMs(tEnd))
      val n = all.size.toDouble
      val wall = all.map(_._2.wallMs).sum / 1e3
      val construct = all.map(_._2.constructMs).sum / 1e3
      val heavy = all.map(_._2).groupBy(_.name).count { case (_, rs) =>
        Stats.median(rs.map(r => r.constructMs / r.wallMs)) >= 0.4 }
      Layers.fromAgg(agg, n, wall, ctx.cores) ++ Map(
        "tables.files_listed" -> M(files / n, "count"),
        "queries.construct_s" -> M(construct / n, "s"),
        "queries.construct_share" -> M(construct / wall, "ratio"),
        "queries.construct_heavy" -> M(heavy.toDouble, "count"),
        "driver.gc_s" -> M(gcS, "s"))
    }.getOrElse(Map.empty)
    val perQuery = all.map { case (p, r) => Map("pass" -> p, "query" -> r.name,
      "wall_ms" -> r.wallMs, "construct_ms" -> r.constructMs,
      "rows" -> r.fp.map(_.rows), "hash" -> r.fp.map(_.hash),
      "failure" -> verdict(r, expected)) }
    Outcome(all.size.toLong, fails.size.toLong, fails.isEmpty && all.nonEmpty,
      e2e, layers, Map(
        "queries" -> list.size, "passes" -> passes, "measured_s" -> wallS, "pass_s" -> passS,
        "op_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples),
        "staging" -> graft.Staging.buildTimes(s).map { case ((_, n), v) => n -> v },
        "failures" -> fails, "per_query" -> perQuery))
  }
}

/** The recorded output fingerprints (perfbench/fingerprints.json). */
object Fingerprints {
  def load(path: String): Map[String, Batch.Fp] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val it = node.fields()
    val b = Map.newBuilder[String, Batch.Fp]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> Batch.Fp(e.getValue.get("rows").asLong(),
        e.getValue.get("hash").asText())
    }
    b.result()
  }

  def render(fps: Map[String, Batch.Fp]): String =
    fps.toSeq.sortBy(_._1).map { case (k, f) =>
      s"  ${Json.str(k)}: {\"rows\": ${f.rows}, \"hash\": ${Json.str(f.hash)}}"
    }.mkString("{\n", ",\n", "\n}\n")
}
