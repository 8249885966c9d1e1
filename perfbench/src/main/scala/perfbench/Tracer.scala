package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation. Spans come from the benchmark's own
  * code around each call into a layer; everything else comes from Spark's
  * public hooks registered here: a SparkListener (jobs, stages, task
  * metrics) and a QueryExecutionListener (the QueryPlanningTracker phases
  * of every executed query). Nothing inside the library is instrumented.
  *
  * Attribution: [[span]] sets the submitting thread's job group to
  * "op|layer", and Spark copies that local property into every job the
  * call launches (broadcast and subquery threads included). Streaming
  * micro-batches run under their own job group (the query's run id), which
  * [[streamOp]] maps back to the benchmark's stream op. Planning phases
  * carry wall-clock times, so they belong to the time window (and, in the
  * trace file, the innermost span) they started in.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val streamRuns = TrieMap.empty[String, String]
  private val sessions = new ConcurrentLinkedQueue[SparkSession]()
  private val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())

  /** Wall-clock ms of a System.nanoTime() reading. */
  def wallMs(ns: Long): Double = wall0 + (ns - nano0) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the result stage carries the job's call site ("parquet at ...")
      val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""), callSite,
        prop("spark.sql.execution.id").isDefined, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(i.taskMetrics).foreach { m =>
        stages.add(StageRec(stageJob.getOrElse(i.stageId, -1), i.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled + m.memoryBytesSpilled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  attach(spark)

  /** Registers the planning-phase listener on another session of the
    * same context (a new session starts with no listeners).
    */
  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(qeListener)
    sessions.add(s)
  }

  /** Runs `f` as span `layer` of op `op`; Spark work it launches is
    * attributed to (op, layer).
    */
  def span[T](op: String, layer: String)(f: => T): T = {
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(s"$op|$layer", s"$op $layer")
    val t0 = System.nanoTime()
    try f
    finally {
      spanQ.add(Span(op, layer, t0, System.nanoTime()))
      prev match {
        case Some(g) => sc.setJobGroup(g, g.replace('|', ' '))
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Maps a started streaming query's run id (its micro-batch job group)
    * to a benchmark op name.
    */
  def streamOp(runId: String, op: String): Unit = streamRuns(runId) = op

  /** Blocks until every started job has ended and the listener bus has
    * gone quiet, so the aggregates see all events.
    */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val sig = jobs.size.toLong * 1000003L + stages.size + plans.size * 7L +
        jobs.values.count(_.endMs < 0) * 1000000007L
      if (sig == last && jobs.values.forall(_.endMs >= 0)) stable += 1
      else stable = 0
      last = sig
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    sessions.asScala.foreach(_.listenerManager.unregister(qeListener))
  }

  def spans: Seq[Span] = spanQ.asScala.toSeq.sortBy(_.startNs)

  /** (op, layer) a job group names; streaming run ids map to their op. */
  private def owner(group: String): Option[(String, String)] =
    streamRuns.get(group).map(op => (op, "streaming")).orElse {
      val i = group.lastIndexOf('|')
      if (i > 0) Some((group.take(i), group.drop(i + 1))) else None
    }

  /** Every job with its (op, layer) owner; None = unattributed. */
  def attributedJobs: Seq[(Job, Option[(String, String)])] =
    jobs.values.toSeq.sortBy(_.id).map(j => (j, owner(j.group)))

  /** A parquet schema-inference job: launched by a read's resolution, so
    * it runs outside any SQL execution with the reader's call site.
    */
  def isSchemaJob(j: Job): Boolean = !j.inSql && j.callSite.startsWith("parquet at ")

  /** Aggregates over the jobs (and their stages) whose op passes `keep`
    * and the planned executions, submitted within wall-clock ms
    * [fromMs, toMs]. Layer names come from the spans' tags.
    */
  def aggregate(keep: String => Boolean, fromMs: Double, toMs: Double): Agg = {
    def within(ms: Double) = ms >= fromMs && ms <= toMs
    val owned = attributedJobs.collect {
      case (j, Some((op, layer))) if keep(op) && within(j.submitMs.toDouble) => (j, layer) }
    val schema = owned.filter { case (j, _) => isSchemaJob(j) }
    val eager = owned.filter { case (j, l) => !isSchemaJob(j) && l == ConstructLayer }
    val execJobs = owned.filter { case (j, l) => !isSchemaJob(j) && l != ConstructLayer }
    val execIds = execJobs.map(_._1.id).toSet
    val st = stages.asScala.toSeq.filter(s => execIds(s.job))
    def secs(js: Seq[(Job, String)]) = js.map { case (j, _) => (j.endMs - j.submitMs) / 1e3 }.sum
    val pl = plans.asScala.toSeq.filter(p => within(p.startMs.toDouble))
    Agg(
      schemaJobs = schema.size,
      eagerJobs = eager.size, eagerJobS = secs(eager),
      execJobs = execJobs.size, execJobS = secs(execJobs),
      stages = st.size, tasks = st.map(_.tasks.toLong).sum,
      taskS = st.map(_.runMs).sum / 1e3, cpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      inputMb = st.map(_.inBytes).sum / 1e6,
      shuffleReadMb = st.map(_.shRead).sum / 1e6,
      shuffleWriteMb = st.map(_.shWrite).sum / 1e6,
      spillMb = st.map(_.spill).sum / 1e6,
      analysisMs = pl.map(_.analysisMs).sum, optimizeMs = pl.map(_.optimizeMs).sum,
      physicalMs = pl.map(_.planningMs).sum)
  }

  /** Jobs no span or stream claims (the attribution self-check). */
  def unattributed: Seq[Job] = attributedJobs.collect { case (j, None) => j }

  /** The trace artifact: every span and every job with its owner. */
  def toJson(extra: Map[String, Any]): String = {
    val ss = spans
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val sp = ss.map(s => Map("op" -> s.op, "layer" -> s.layer,
      "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6))
    val js = attributedJobs.map { case (j, o) => Map(
      "job" -> j.id, "op" -> o.map(_._1), "layer" -> o.map { case (_, l) =>
        if (isSchemaJob(j)) "tables" else if (l == ConstructLayer) "queries" else l },
      "call_site" -> j.callSite, "dur_ms" -> (j.endMs - j.submitMs).toDouble) }
    val pl = plans.asScala.toSeq.sortBy(_.startMs).map { p =>
      // the innermost span: the last-started one still open at p's start
      val o = ss.filter(s => wallMs(s.startNs) <= p.startMs && wallMs(s.endNs) >= p.startMs)
        .lastOption
      Map("start_ms" -> (p.startMs - wallMs(t0)), "op" -> o.map(_.op), "layer" -> o.map(_.layer),
        "analysis_ms" -> p.analysisMs, "optimize_ms" -> p.optimizeMs,
        "planning_ms" -> p.planningMs)
    }
    Json(extra ++ Map("spans" -> sp, "jobs" -> js, "plans" -> pl))
  }
}

object Tracer {
  val ConstructLayer = "queries.construct"

  final case class Span(op: String, layer: String, startNs: Long, endNs: Long)
  final case class Job(id: Int, group: String, callSite: String, inSql: Boolean,
      submitMs: Long, endMs: Long)
  final case class StageRec(job: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shRead: Long, shWrite: Long, spill: Long)
  final case class PlanRec(startMs: Long, analysisMs: Double, optimizeMs: Double,
      planningMs: Double)
  final case class Agg(schemaJobs: Int, eagerJobs: Int, eagerJobS: Double,
      execJobs: Int, execJobS: Double, stages: Int, tasks: Long, taskS: Double,
      cpuS: Double, gcS: Double, inputMb: Double, shuffleReadMb: Double,
      shuffleWriteMb: Double, spillMb: Double, analysisMs: Double,
      optimizeMs: Double, physicalMs: Double)
}
