package perfbench

import org.apache.spark.metrics.source.HiveCatalogMetrics

/** The per-layer metrics of a traced run, named after the library's
  * modules. A workload measures the layers it exercises; [[complete]]
  * adds the table-resolution probes and the session's staged frames, and
  * reports 0 for a layer the workload never reaches.
  */
object Layers {

  /** Every per-layer metric with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "tables.files_listed" -> "count", "tables.schema_jobs" -> "count",
    "tables.resolve_ms" -> "ms", "tables.parallel_ms" -> "ms",
    "queries.construct_s" -> "s", "queries.construct_share" -> "ratio",
    "queries.eager_jobs" -> "count", "queries.eager_job_s" -> "s",
    "queries.construct_heavy" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.utilization" -> "ratio", "exec.input_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "staging.build_s" -> "s", "staging.frames" -> "count",
    "serving.gmv_ms" -> "ms", "serving.province_ms" -> "ms",
    "serving.gmv_dws_ms" -> "ms", "serving.province_dws_ms" -> "ms",
    "serving.generator_late_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.generator_late_ms" -> "ms", "streaming.backlog_max_rows" -> "count",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_mb" -> "MB", "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "state.dropped_by_watermark" -> "count",
    "driver.gc_s" -> "s", "ambient.sentinel_ms" -> "ms",
    "trace.unattributed_jobs" -> "count")

  /** The HiveCatalogMetrics count of files discovered by listings. */
  def filesDiscovered(): Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Listener aggregates of a measured section, per op. */
  def fromAgg(a: Tracer.Agg, ops: Double, wallS: Double, cores: Int): Map[String, M] = Map(
    "tables.schema_jobs" -> M(a.schemaJobs / ops, "count"),
    "queries.eager_jobs" -> M(a.eagerJobs / ops, "count"),
    "queries.eager_job_s" -> M(a.eagerJobS / ops, "s"),
    "plan.analysis_ms" -> M(a.analysisMs / ops, "ms"),
    "plan.optimize_ms" -> M(a.optimizeMs / ops, "ms"),
    "plan.physical_ms" -> M(a.physicalMs / ops, "ms"),
    "exec.s" -> M(a.execJobS / ops, "s"),
    "exec.jobs" -> M(a.execJobs / ops, "count"),
    "exec.stages" -> M(a.stages / ops, "count"),
    "exec.tasks" -> M(a.tasks / ops, "count"),
    "exec.task_s" -> M(a.taskS / ops, "s"),
    "exec.cpu_s" -> M(a.cpuS / ops, "s"),
    "exec.gc_s" -> M(a.gcS / ops, "s"),
    "exec.utilization" -> M(a.taskS / (wallS * cores), "ratio"),
    "exec.input_mb" -> M(a.inputMb / ops, "MB"),
    "exec.shuffle_read_mb" -> M(a.shuffleReadMb / ops, "MB"),
    "exec.shuffle_write_mb" -> M(a.shuffleWriteMb / ops, "MB"),
    "exec.spill_mb" -> M(a.spillMb / ops, "MB"))

  /** Timed probes of the two table entry points, per table: the median
    * of three calls each, averaged over the ten tables.
    */
  def tableProbes(ctx: Ctx): Map[String, M] = {
    def probe(f: String => Any): Double = Stats.mean(graft.Tables.names.map { t =>
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.span("probe:tables", "tables")(f(t))
        (System.nanoTime() - t0) / 1e6
      })
    })
    Map(
      "tables.resolve_ms" -> M(probe(t => graft.Tables(ctx.spark, ctx.args.data, t)), "ms"),
      "tables.parallel_ms" -> M(probe(t => graft.Tables.parallel(ctx.spark, ctx.args.data, t)), "ms"))
  }

  def complete(ctx: Ctx, o: Outcome, sentinelMs: Double): Map[String, M] = {
    val t = ctx.tracer.get
    val probes = tableProbes(ctx)
    val staged = graft.Staging.buildTimes(ctx.spark).values.toSeq
    t.drain()
    val m = o.layers ++ probes ++ Map(
      "staging.build_s" -> M(staged.sum, "s"),
      "staging.frames" -> M(staged.size.toDouble, "count"),
      "ambient.sentinel_ms" -> M(sentinelMs, "ms"),
      "trace.unattributed_jobs" -> M(t.unattributed.size.toDouble, "count"))
    Units.map { case (k, u) => k -> m.getOrElse(k, M(0.0, u)) }.toMap
  }
}
