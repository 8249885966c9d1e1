package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.model.Envelopes
import graft.streaming.{DwdLogStream, DwsTradeStream, StatefulOps}

/** stream_ingest: `events` replayed in event-time order through
  * MemoryStreams into the reference's two streaming verticals on the
  * RocksDB state store, with checkpoints. Chunks arriving at a fixed rate
  * (open loop) measure latency; the rest of the input is then drained
  * block by block (closed loop) to measure capacity. The whole input is
  * always replayed, so the window outputs are checkable.
  */
object Stream {
  final case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Rows per open-loop chunk and the offered rate in rows per second:
    * about half the closed-loop capacity measured when the benchmark was
    * defined. Fixed: a later change is compared at the same load.
    */
  val ChunkRows = 80
  val OpenRate = 400.0
  val OpenShare = 0.8
  /** The closed loop splits the rest of the input into this many equal
    * blocks; capacity is block rows over the median block time.
    */
  val DrainBlocks = 4
  /** Rows of the input's head set-up pushes through the fresh topology,
    * in WarmupBlocks triggers, so the measured section starts with state
    * stores open and code generated and compiled; they are part of the
    * replay, not extra input.
    */
  val WarmupRows = 1000
  val WarmupBlocks = 3

  private val topologies = new java.util.concurrent.atomic.AtomicInteger()

  /** The three streaming queries over one input: the DWS trade window
    * (both legs) over purchases and the DWD log vertical over all events.
    * Outputs land in memory sinks so they can be checked.
    */
  final class Topology(ctx: Ctx, base: String) {
    /** Unique per JVM: names the memory sinks and the checkpoint dirs. */
    val tag = s"$base${topologies.incrementAndGet()}"
    private implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    // one input per query: a MemoryStream drops data as a query commits
    // it, so queries sharing one would commit each other's offsets
    private val inputs = Seq.fill(3)(MemoryStream[Evt])
    val checkpoint = s"${ctx.args.work}/checkpoints/$tag"
    val queries: Seq[StreamingQuery] = {
      def orders(i: Int) = inputs(i).toDF().filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value").as("amount"))
      val agg = DwsTradeStream.provinceOrderWindow(orders(0))._1
      val marks = DwsTradeStream.provinceOrderWindow(orders(1))._2
      val pages = DwdLogStream.pageViews(
        Envelopes.parseLog(Envelopes.logFromEvents(inputs(2).toDF())))
      val kw = DwdLogStream.keywordWindow(StatefulOps.newVisitorRepair(pages))
      Seq("dws_agg" -> agg, "dws_marks" -> marks.toDF(), "dwd_kw" -> kw).map { case (n, df) =>
        val q = df.writeStream.format("memory").queryName(s"${n}_$tag")
          .outputMode("append").option("checkpointLocation", s"$checkpoint/$n").start()
        ctx.tracer.foreach(_.streamOp(q.runId.toString, s"stream:$tag"))
        q
      }
    }
    def table(n: String): DataFrame = ctx.spark.table(s"${n}_$tag")
    /** Adds rows to every query; returns the offset that marks them
      * processed (the same in each input).
      */
    def add(rows: Seq[Evt]): Long = inputs.map(_.addData(rows).json().toLong).max
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
    def failure: Option[String] = queries.flatMap(_.exception).headOption.map(_.getMessage)
    def progress: Seq[StreamingQueryProgress] = queries.flatMap(_.recentProgress)
  }

  def load(ctx: Ctx): Vector[Evt] = {
    import ctx.spark.implicits._
    graft.Tables(ctx.spark, ctx.args.streamData, "events").as[Evt].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toVector
  }

  /** An open-loop chunk: rows, offset, due and actual add times (ns). */
  final case class Chunk(rows: Int, offset: Long, dueNs: Long, addNs: Long)

  /** Pushes `rows` as chunks due evenly at the offered rate, the first
    * after a seeded phase within one interval, then waits for all of them.
    * Even arrivals, not Poisson: with a handful of triggers per open loop
    * the arrival pattern alone would decide which trigger a chunk waits
    * for (NOTES.md, Loops).
    */
  def openLoop(topo: Topology, rows: Seq[Evt], rng: scala.util.Random): Vector[Chunk] = {
    val interval = ChunkRows / OpenRate
    val t0 = System.nanoTime() + 20000000L
    val phase = rng.nextDouble() * interval
    val out = rows.grouped(ChunkRows).zipWithIndex.map { case (c, i) =>
      val dueNs = t0 + ((phase + i * interval) * 1e9).toLong
      val wait = dueNs - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val addNs = System.nanoTime()
      Chunk(c.size, topo.add(c), dueNs, addNs)
    }.toVector
    topo.drain()
    out
  }

  /** Closed loop: `blocks` equal blocks, each fully processed before the
    * next. Returns each block's (rows, seconds).
    */
  def closedLoop(topo: Topology, rows: Seq[Evt], blocks: Int): Seq[(Int, Double)] =
    rows.grouped(math.max(1, (rows.size + blocks - 1) / blocks)).map { b =>
      val t0 = System.nanoTime()
      topo.add(b); topo.drain()
      (b.size, (System.nanoTime() - t0) / 1e9)
    }.toSeq

  private def wallMs(p: StreamingQueryProgress): (Double, Double) = {
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    (start, start + p.durationMs.get("triggerExecution").doubleValue())
  }

  /** Per chunk: ms from its due time to the end of the last of the
    * three queries' triggers that processed it.
    */
  def latencies(topo: Topology, chunks: Vector[Chunk], nanoToWall: Long => Double): Vector[Double] = {
    val perQuery = topo.queries.map { q =>
      q.recentProgress.toVector.filter(_.sources.nonEmpty)
        .map(p => (Option(p.sources.head.endOffset).map(_.toLong).getOrElse(-1L), wallMs(p)._2))
        .sortBy(_._1)
    }
    chunks.map { c =>
      val done = perQuery.map(ps => ps.find(_._1 >= c.offset).map(_._2).getOrElse(Double.NaN)).max
      done - nanoToWall(c.dueNs)
    }
  }

  /** Rows added but not yet processed, at its worst over the open loop. */
  def backlogMax(chunks: Vector[Chunk], doneNs: Vector[Double]): Double =
    chunks.indices.map { i =>
      chunks.indices.filter(j => chunks(j).dueNs <= chunks(i).dueNs && doneNs(j) > chunks(i).dueNs)
        .map(chunks(_).rows).sum.toDouble
    }.maxOption.getOrElse(0.0)

  /** streaming.* and state.* from the queries' progress reports. */
  def progressMetrics(topo: Topology, chunks: Vector[Chunk], lat: Vector[Double],
      sinceMs: Double): Map[String, M] = {
    val ps = topo.progress.filter(p =>
      p.numInputRows > 0 && Instant.parse(p.timestamp).toEpochMilli >= sinceMs)
    def dur(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)))
    val ops = ps.flatMap(_.stateOperators)
    val last = topo.queries.flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators)
    val doneNs = chunks.zip(lat).map { case (c, l) => c.dueNs + l * 1e6 }
    Map(
      "streaming.triggers" -> M(ps.size.toDouble, "count"),
      "streaming.trigger_ms" -> M(dur("triggerExecution"), "ms"),
      "streaming.add_batch_ms" -> M(dur("addBatch"), "ms"),
      "streaming.planning_ms" -> M(dur("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> M(dur("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> M(dur("commitOffsets"), "ms"),
      "streaming.generator_late_ms" -> M(Stats.mean(chunks.map(c => (c.addNs - c.dueNs) / 1e6)), "ms"),
      "streaming.backlog_max_rows" -> M(backlogMax(chunks, doneNs), "count"),
      "state.rows_total" -> M(last.map(_.numRowsTotal).sum.toDouble, "count"),
      "state.rows_updated" -> M(ops.map(_.numRowsUpdated).sum.toDouble, "count"),
      "state.memory_mb" -> M(ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption
        .getOrElse(0L) / 1e6, "MB"),
      "state.commit_ms" -> M(ops.map(_.commitTimeMs).sum.toDouble / math.max(1, ps.size), "ms"),
      "state.update_ms" -> M(ops.map(_.allUpdatesTimeMs).sum.toDouble / math.max(1, ps.size), "ms"),
      "state.dropped_by_watermark" -> M(ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"))
  }

  /** Output checks: the window outputs against their recorded
    * fingerprints, and the metric leg's per-day drop counts against the
    * batch lateness audit (q113) over the same purchases.
    */
  def check(ctx: Ctx, topo: Topology, rows: Seq[Evt]): Seq[String] = {
    import ctx.spark.implicits._
    val expected = Fingerprints.load(ctx.args.fingerprints)
    val fps = Seq("dws_agg", "dwd_kw").flatMap { n =>
      val got = Batch.fingerprintOf(topo.table(n))
      expected.get(s"stream:$n") match {
        case Some(e) if e == got => None
        case e => Some(s"$n fingerprint $got != recorded $e")
      }
    }
    val dir = s"${ctx.args.work}/q113-${topo.tag}"
    rows.filter(_.event_type == "purchase").toDF()
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val audit = graft.SparkEntry.queries("q113_lateness_audit")(ctx.spark, dir)
      .select(col("day"), col("n_events"), col("n_late_3s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = DwsTradeStream.dropRate(topo.table("dws_marks"))
      .select(date_format(col("day"), "yyyy-MM-dd"), col("n_events"), col("n_late")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val drops = if (audit == streamed) None
      else Some(s"drop counts differ from q113: ${(streamed -- audit).take(3)} vs ${(audit -- streamed).take(3)}")
    fps ++ drops
  }

  /** Loads the input, starts the topology and replays the input's head. */
  def setUp(ctx: Ctx): (Vector[Evt], Topology) = {
    val rows = ctx.span("setup:load", "streaming")(load(ctx))
    val topo = new Topology(ctx, "m")
    closedLoop(topo, rows.take(WarmupRows), WarmupBlocks)
    (rows, topo)
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val t0 = System.nanoTime()
    val (rows, topo) = setUp(ctx)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    require(rows.size > WarmupRows + DrainBlocks, s"stream input too small: ${rows.size} rows")
    val cached = Ambient.cachedMb(ctx.spark, Some(topo.checkpoint))

    val openRows = math.min(rows.size - WarmupRows,
      (OpenRate * ctx.args.seconds * OpenShare).toInt)
    val files0 = Layers.filesDiscovered()
    val gc0 = Ambient.gcSeconds()
    val (wall0, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
    val nanoToWall = (ns: Long) => wall0 + (ns - nano0) / 1e6
    val tOpen = System.nanoTime()
    val chunks = openLoop(topo, rows.slice(WarmupRows, WarmupRows + openRows), ctx.rng)
    val openWall = (System.nanoTime() - tOpen) / 1e9
    val blocks = closedLoop(topo, rows.drop(WarmupRows + openRows), DrainBlocks)
    val drained = blocks.map(_._1).sum
    val measuredS = (System.nanoTime() - tOpen) / 1e9
    val gcS = Ambient.gcSeconds() - gc0
    val files = Layers.filesDiscovered() - files0
    val failure = topo.failure
    val lat = latencies(topo, chunks, nanoToWall)
    val layers = ctx.tracer.map { t =>
      t.drain()
      val pm = progressMetrics(topo, chunks, lat, wall0)
      val n = pm("streaming.triggers").value
      val agg = t.aggregate(_ == s"stream:${topo.tag}", wall0, wall0 + measuredS * 1e3)
      Layers.fromAgg(agg, n, measuredS, ctx.cores) ++ pm ++ Map(
        "tables.files_listed" -> M(files / n, "count"),
        "driver.gc_s" -> M(gcS, "s"))
    }.getOrElse(Map.empty)
    topo.stop()
    val problems = failure.toSeq ++
      (if (failure.isEmpty) ctx.span("check", "check")(check(ctx, topo, rows)) else Nil)
    val attempted = chunks.size + blocks.size
    // a failed run's chunks and blocks all count as failed: none of them
    // contributes a latency or capacity sample
    val ok = if (problems.isEmpty) lat.filterNot(_.isNaN) else Vector.empty
    val blockS = if (problems.isEmpty) blocks.map(_._2) else Nil
    val tail = if (ok.isEmpty) Stats.Tail(0, "none", 0) else Stats.tail(ok)
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "cached_mb" -> M(cached, "MB"),
      "op_p50_ms" -> M(if (ok.isEmpty) 0.0 else Stats.median(ok), "ms"),
      "op_tail_ms" -> M(tail.value, "ms"),
      "capacity_per_s" -> M(if (blockS.isEmpty) 0.0 else blocks.head._1 / Stats.median(blockS), "1/s"))
    Outcome(attempted.toLong, if (problems.isEmpty) lat.count(_.isNaN).toLong else attempted.toLong,
      problems.isEmpty && !lat.exists(_.isNaN), e2e, layers, Map(
        "input_rows" -> rows.size, "open_rows" -> openRows, "open_chunks" -> chunks.size,
        "open_rate_rows_per_s" -> OpenRate, "open_s" -> openWall,
        "drain_rows" -> drained, "drain_block_s" -> blocks.map(_._2),
        "session_s" -> sessionS,
        "op_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples),
        "problems" -> problems) ++ (if (ctx.tracer.isEmpty) Map.empty else Map(
        "triggers" -> topo.progress.map(p => Map("query" -> p.name, "batch" -> p.batchId,
          "start" -> p.timestamp, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)))))
  }
}
