package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession definition: every graft main and the spec trait
  * build through here, so batch, streaming and tests run the same engine
  * configuration.
  *
  * `cpus` defaults to SPARK_GRAFT_CPUS, else every available processor.
  * The session is JVM-wide (getOrCreate): a second call returns the same
  * session.
  */
object GraftSession {

  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared conf set. canChangeCachedPlanOutputPartitioning lets AQE
    * size CACHED-plan output by bytes, so every session-staged frame gets
    * a data-derived partition count: tiny graph/pair frames collapse to
    * ~1 partition instead of 2x cpus, corpus-scale frames keep their
    * width (q95/q97 stopped running faster at 8 cores than at 32).
    */
  private[graft] def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = confs(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A measurement-harness session: the shared session with both pairwork
    * guards (q100's and the streaming mixture's) failing LOUD. In a batch
    * log a warning is a silent quadratic at scale; an errored query is an
    * artifact entry. Ad-hoc sessions keep the warn default;
    * SPARK_GRAFT_PAIRWORK_GUARD overrides for a deliberate adversary
    * measurement (the x10sat collapse leg).
    */
  def harness(cpus: Int = defaultCpus): SparkSession = {
    val spark = apply(cpus)
    val mode = sys.env.getOrElse("SPARK_GRAFT_PAIRWORK_GUARD", "fail")
    Seq("graft.semdedup.pairworkGuard", "graft.mixture.pairworkGuard")
      .foreach(spark.conf.set(_, mode))
    spark
  }
}
