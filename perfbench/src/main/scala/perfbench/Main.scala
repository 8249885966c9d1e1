package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (run.py supplies the paths). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, streamData: String, work: String, cores: Int,
    expected: String, fingerprints: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("stream-data"), get("work"),
      get("cores").toInt, get("expected"), get("fingerprints"), get("out"))
  }
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back: op accounting, end-to-end metrics, the
  * per-layer metrics it measured itself (traced runs only) and detail
  * that goes to the result file but not to the result line.
  */
final case class Outcome(
    attempted: Long, failed: Long, correct: Boolean,
    e2e: Map[String, M], layers: Map[String, M], detail: Map[String, Any])

/** Shared state of one run: arguments, the session, the tracer (traced
  * runs only) and helpers every workload uses.
  */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Option[Tracer]) {
  def cores: Int = args.cores

  /** `f` as span (op, layer) when tracing; a plain call otherwise. */
  def span[T](op: String, layer: String)(f: => T): T =
    tracer.fold(f)(_.span(op, layer)(f))

  val rng = new scala.util.Random(args.seed)
}

object Session {
  val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The library mains' session, with every scratch location inside the
    * run's work directory.
    */
  def build(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.streaming.stateStore.providerClass", RocksProvider)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    configure(s)
    s
  }

  /** Runtime confs the correctness gate pins: default ANN/SemDeDup
    * geometry (the oracle-verified fingerprints encode it) and a loud
    * pairwork guard, as in the library's bench harness.
    */
  def configure(s: SparkSession): Unit = {
    s.conf.set("graft.semdedup.pairworkGuard", "fail")
    s.conf.set("graft.semdedup.threeLevelMinK", "2000000")
    s.conf.set("graft.ann.nlist", "16")
  }
}

/** Host and JVM evidence recorded around each measured section. */
object Ambient {
  def loadavg(): Seq[Double] =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)).getOrElse(Seq.empty)

  /** The library bench's fixed sentinel: a 4M-row range sum over 32
    * partitions, best of three, in milliseconds.
    */
  def sentinelMs(ctx: Ctx): Double = ctx.span("ambient", "ambient") {
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.spark.range(0, 4000000L, 1, 32).selectExpr("sum(id) AS s", "count(1) AS c")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  def sample(ctx: Ctx): Map[String, Any] =
    Map("loadavg" -> loadavg(), "sentinel_ms" -> sentinelMs(ctx))

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** MB set-up leaves cached for the measured section: block-manager
    * bytes (memory + disk) of persisted frames, plus the bytes of a
    * directory set-up precomputed for the workload to read (the DWS table,
    * the stream checkpoint with its state).
    */
  def cachedMb(spark: SparkSession, dir: Option[String] = None): Double = {
    val blocks = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val files = dir.map { d =>
      val w = Files.walk(Paths.get(d))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }.getOrElse(0L)
    (blocks + files) / 1e6
  }
}

object Main {
  val Workloads = Seq("batch_sweep", "serve_point", "stream_ingest")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require((Workloads ++ Seq("batch_full", "selfcheck", "record")).contains(args.workload),
      s"unknown workload ${args.workload}")
    val t0 = System.nanoTime()
    val spark = Session.build(args.cores, args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(args, spark, tracer)
    val exit = try {
      if (args.workload == "selfcheck") SelfCheck.run(ctx)
      else if (args.workload == "record") Record.run(ctx)
      else {
        val before = Ambient.sample(ctx)
        val outcome = args.workload match {
          case "batch_sweep" => Batch.sweep(ctx, sessionS, full = false)
          case "batch_full" => Batch.sweep(ctx, sessionS, full = true)
          case "serve_point" => Serve.run(ctx, sessionS)
          case "stream_ingest" => Stream.run(ctx, sessionS)
        }
        val after = Ambient.sample(ctx)
        report(ctx, outcome, before, after)
      }
    } finally {
      tracer.foreach(_.close())
      spark.stop()
    }
    sys.exit(exit)
  }

  /** Writes the full result file and prints the result line: end-to-end
    * metrics untraced, per-layer metrics traced.
    */
  def report(ctx: Ctx, o: Outcome, before: Map[String, Any],
      after: Map[String, Any]): Int = {
    def sentinel(a: Map[String, Any]) = a("sentinel_ms").asInstanceOf[Double]
    val layers =
      if (ctx.args.trace) Layers.complete(ctx, o, (sentinel(before) + sentinel(after)) / 2)
      else Map.empty[String, M]
    def ms(m: Map[String, M]) = m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("value" -> v.value, "unit" -> v.unit) }.toMap
    val shown = if (ctx.args.trace) layers else o.e2e
    val line = Json(Map("correct" -> o.correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> ms(shown)))
    val full = Json(Map(
      "workload" -> ctx.args.workload, "seed" -> ctx.args.seed,
      "seconds" -> ctx.args.seconds, "trace" -> ctx.args.trace,
      "cores" -> ctx.args.cores, "correct" -> o.correct,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> ms(o.e2e), "per_layer" -> ms(layers),
      "ambient_before" -> before, "ambient_after" -> after,
      "detail" -> o.detail))
    Files.createDirectories(Paths.get(ctx.args.out))
    val stem = s"${ctx.args.out}/${ctx.args.workload}-seed${ctx.args.seed}-trace${if (ctx.args.trace) 1 else 0}"
    Files.writeString(Paths.get(s"$stem.json"), full + "\n")
    ctx.tracer.foreach { t =>
      Files.writeString(Paths.get(s"$stem.spans.json"),
        t.toJson(Map("workload" -> ctx.args.workload, "seed" -> ctx.args.seed)) + "\n")
    }
    println(line)
    0
  }
}
