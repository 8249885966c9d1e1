package perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.serving.Serving

/** serve_point: the publisher's dashboard endpoints as point requests.
  * An open loop at a fixed offered rate for the run's seconds measures
  * latency (timed from when each request was due); a closed loop of one
  * client per core then measures capacity.
  */
object Serve {

  /** Offered rate of the open loop, requests per second: about half the
    * closed-loop capacity measured when the benchmark was defined. Fixed:
    * a later change is compared at the same load.
    */
  val OpenRate = 4.0

  /** The closed loop, which follows the open loop: a fixed amount of work
    * (twelve requests per endpoint), so capacity is not quantised by a
    * deadline, sent in blocks of three per endpoint; capacity is the
    * median block's good requests over its wall time.
    */
  val ClosedRequests = 48
  val ClosedBlocks = 4

  /** Set-up requests, four per endpoint. */
  val WarmupRequests = 16

  val Fns = Vector("gmv", "province", "gmv_dws", "province_dws")

  /** Day ranges requests draw from: the orders history for the fact
    * endpoints, the events month the DWS table covers for the DWS ones.
    */
  private val Ymd = DateTimeFormatter.BASIC_ISO_DATE
  private def days(from: String, to: String): Vector[String] = {
    val (a, b) = (LocalDate.parse(from), LocalDate.parse(to))
    Iterator.iterate(a)(_.plusDays(1)).takeWhile(!_.isAfter(b)).map(_.format(Ymd)).toVector
  }
  val FactDays = days("1995-01-01", "2001-08-01")
  val DwsDays = days("2024-01-01", "2024-01-30")

  final case class Req(i: Int, fn: String, day: String, dueNs: Long)
  final case class Done(req: Req, submitNs: Long, startNs: Long, endNs: Long,
      failure: Option[String])

  /** `n` requests due evenly at `rate` per second (all at once when 0).
    * Every run of four requests covers the four endpoints in a seeded
    * order, so each run carries the same mix; days are seeded draws.
    */
  def draw(rng: scala.util.Random, n: Int, rate: Double): Vector[Req] = {
    val fns = Iterator.continually(rng.shuffle(Fns)).flatten
    (0 until n).map { i =>
      val fn = fns.next()
      val pool = if (fn.endsWith("_dws")) DwsDays else FactDays
      Req(i, fn, pool(rng.nextInt(pool.size)), if (rate > 0) (i / rate * 1e9).toLong else 0L)
    }.toVector
  }

  /** Expected answers per endpoint and day, computed by DuckDB over the
    * same tables before the run (oracle.py).
    */
  final class Oracle(path: String) {
    private val root = new ObjectMapper().readTree(new java.io.File(path))
    def scalar(fn: String, day: String): Double =
      Option(root.get(fn).get(day)).map(_.asDouble()).getOrElse(0.0)
    def byName(fn: String, day: String): Map[String, Double] =
      Option(root.get(fn).get(day)).map { n =>
        val it = n.fields(); val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }.getOrElse(Map.empty)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private val mapper = new ObjectMapper()

  /** Calls one endpoint and checks the answer; Some(reason) on failure. */
  def call(ctx: Ctx, dws: String, oracle: Oracle, op: String, fn: String,
      day: String): Option[String] = {
    val s = ctx.spark
    val dir = ctx.args.data
    val got: Either[Double, Map[String, Double]] = ctx.span(op, "serving") {
      fn match {
        case "gmv" =>
          Left(mapper.readTree(Serving.gmvJson(s, dir, day)).get("data").asDouble())
        case "province" =>
          val data: JsonNode = mapper.readTree(Serving.provinceJson(s, dir, day))
            .get("data").get("mapData")
          Right((0 until data.size()).map { i =>
            data.get(i).get("name").asText() -> data.get(i).get("value").asDouble() }.toMap)
        case "gmv_dws" => Left(Serving.gmvFromDws(s, dws, day).head().getDouble(0))
        case "province_dws" =>
          Right(Serving.provinceAmountsFromDws(s, dws, day)
            .select(col("province_name"), col("order_amount")).collect()
            .map(r => r.getString(0) -> r.getDouble(1)).toMap)
      }
    }
    got match {
      case Left(v) =>
        val e = oracle.scalar(fn, day)
        if (close(v, e)) None else Some(s"$fn $day: $v != oracle $e")
      case Right(m) =>
        val e = oracle.byName(fn, day)
        if (m.keySet == e.keySet && m.forall { case (k, v) => close(v, e(k)) }) None
        else Some(s"$fn $day: $m != oracle $e")
    }
  }

  private def guarded(ctx: Ctx, dws: String, oracle: Oracle, r: Req, tag: String): Option[String] =
    try call(ctx, dws, oracle, s"$tag:${r.i}:${r.fn}", r.fn, r.day)
    catch { case e: Throwable =>
      Some(s"${r.fn} ${r.day}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }

  /** Dispatches `reqs` at their due times to a pool of one thread per
    * core; a request waits in the pool's queue while all are busy.
    */
  def openLoop(ctx: Ctx, dws: String, oracle: Oracle, reqs: Vector[Req], tag: String): Vector[Done] = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime() + 20000000L
    try {
      reqs.foreach { r =>
        val wait = t0 + r.dueNs - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val submit = System.nanoTime()
        pool.submit(new Runnable {
          def run(): Unit = {
            val st = System.nanoTime()
            val f = guarded(ctx, dws, oracle, r, tag)
            out.add(Done(r.copy(dueNs = t0 + r.dueNs), submit, st, System.nanoTime(), f))
          }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
    out.asScala.toVector.sortBy(_.req.i)
  }

  /** One client per core, each sending its next request when the last
    * returns, until `reqs` are done. Returns (dones, wall seconds).
    */
  def closedLoop(ctx: Ctx, dws: String, oracle: Oracle,
      reqs: Vector[Req]): (Vector[Done], Double) = {
    val next = new AtomicInteger()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val threads = (0 until ctx.cores).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val st = System.nanoTime()
          val r = reqs(i)
          val f = guarded(ctx, dws, oracle, r, "closed")
          out.add(Done(r.copy(dueNs = st), st, st, System.nanoTime(), f))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val dones = out.asScala.toVector
    (dones, (dones.map(_.endNs).max - t0) / 1e9)
  }

  /** Writes the DWS table and warms every endpoint with WarmupRequests
    * requests; returns the path.
    */
  def setUp(ctx: Ctx, oracle: Oracle): String = {
    val dws = s"${ctx.args.work}/dws"
    ctx.span("setup:dws", "serving") {
      Serving.writeDwsProvinceWindow(ctx.spark, ctx.args.data, dws)
    }
    draw(new scala.util.Random(0), WarmupRequests, 0).foreach(r => guarded(ctx, dws, oracle, r, "setup"))
    dws
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val oracle = new Oracle(ctx.args.expected)
    val t0 = System.nanoTime()
    val dws = setUp(ctx, oracle)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val cached = Ambient.cachedMb(ctx.spark, Some(dws))

    val reqs = draw(ctx.rng, math.max(1, (OpenRate * ctx.args.seconds).round.toInt), OpenRate)
    val files0 = Layers.filesDiscovered()
    val gc0 = Ambient.gcSeconds()
    val tOpen = System.nanoTime()
    val open = openLoop(ctx, dws, oracle, reqs, "open")
    val openWall = (System.nanoTime() - tOpen) / 1e9
    val files = Layers.filesDiscovered() - files0
    val gcS = Ambient.gcSeconds() - gc0
    val blocks = draw(ctx.rng, ClosedRequests, 0).grouped(ClosedRequests / ClosedBlocks)
      .map(closedLoop(ctx, dws, oracle, _)).toVector
    val closed = blocks.flatMap(_._1)

    val all = open ++ closed
    val fails = all.flatMap(_.failure)
    val lat = open.filter(_.failure.isEmpty).map(d => (d.endNs - d.req.dueNs) / 1e6)
    val tail = if (lat.isEmpty) Stats.Tail(0, "none", 0) else Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "cached_mb" -> M(cached, "MB"),
      "op_p50_ms" -> M(if (lat.isEmpty) 0.0 else Stats.median(lat), "ms"),
      "op_tail_ms" -> M(tail.value, "ms"),
      "capacity_per_s" -> M(Stats.median(blocks.map { case (ds, secs) =>
        ds.count(_.failure.isEmpty) / secs }), "1/s"))
    val layers = ctx.tracer.map { t =>
      t.drain()
      val n = open.size.toDouble
      val agg = t.aggregate(_.startsWith("open:"), t.wallMs(tOpen), t.wallMs(tOpen) + openWall * 1e3)
      Layers.fromAgg(agg, n, openWall, ctx.cores) ++
        serviceTimes(open.filter(_.failure.isEmpty)) ++ Map(
          "tables.files_listed" -> M(files / n, "count"),
          "driver.gc_s" -> M(gcS, "s"))
    }.getOrElse(Map.empty)
    Outcome(all.size.toLong, fails.size.toLong, fails.isEmpty && all.nonEmpty, e2e, layers, Map(
      "open_rate_per_s" -> OpenRate, "open_requests" -> open.size,
      "open_s" -> openWall, "closed_requests" -> closed.size, "closed_block_s" -> blocks.map(_._2),
      "session_s" -> sessionS,
      "op_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples),
      "generator_late_ms_max" -> open.map(d => (d.submitNs - d.req.dueNs) / 1e6).maxOption,
      "failures" -> fails.take(50)))
  }

  /** Mean service time per endpoint and the generator's mean lateness. */
  def serviceTimes(ds: Vector[Done]): Map[String, M] =
    Fns.map { f =>
      val xs = ds.filter(_.req.fn == f).map(d => (d.endNs - d.startNs) / 1e6)
      s"serving.${f}_ms" -> M(Stats.mean(xs), "ms")
    }.toMap + ("serving.generator_late_ms" ->
      M(Stats.mean(ds.map(d => (d.submitNs - d.req.dueNs) / 1e6)), "ms"))
}
