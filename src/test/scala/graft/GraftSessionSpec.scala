package graft

/** Pins the shared session definition: the specs run the same engine
  * configuration as the mains, so a conf dropped from GraftSession must
  * fail here rather than silently split the two.
  */
class GraftSessionSpec extends SparkSpec {

  private val shared = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  test("GraftSession defines the shared conf set") {
    // the definition itself: build.sbt's -D system properties also set
    // the UI and time-zone confs, so the session alone cannot tell
    // whether GraftSession still carries them
    assert(GraftSession.confs(4).toMap == shared)
  }

  test("SparkSpec's session carries the shared conf set") {
    // the context's creation-time conf: other suites' runtime conf
    // windows cannot mask a conf the session was built without
    val built = spark.sparkContext.getConf
    shared.foreach { case (k, v) =>
      assert(built.getOption(k).contains(v), s"$k is ${built.getOption(k)}")
    }
  }

  test("two GraftSession calls in one JVM return the same session") {
    assert(GraftSession(4) eq GraftSession(4))
    assert(GraftSession(4) eq spark)
  }

  test("a harness session fails loud on both pairwork guards") {
    // harness() sets the guards on the JVM-wide session; restore them so
    // later suites keep the ad-hoc warn default
    withConfs("graft.semdedup.pairworkGuard" -> "warn",
        "graft.mixture.pairworkGuard" -> "warn") {
      val h = GraftSession.harness(4)
      assert(h eq spark)
      val want = sys.env.getOrElse("SPARK_GRAFT_PAIRWORK_GUARD", "fail")
      assert(h.conf.get("graft.semdedup.pairworkGuard") == want)
      assert(h.conf.get("graft.mixture.pairworkGuard") == want)
    }
  }
}
