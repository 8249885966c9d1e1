package graft

/** Times one or more registered queries in isolation (min-of-N, noop sink) —
  * the per-query iteration loop Bench is too coarse for. Multiple names run
  * sequentially in ONE session, which reproduces Bench's shared-session
  * conditions: `BenchOne q100_semantic_dedup q101_grouping_sets` answers
  * "does q100 contaminate q101's samples?".
  * Usage: runMain graft.BenchOne <queryName>... [-d sfDir] [-n repeats]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val usage = "usage: runMain graft.BenchOne <queryName>... [-d sfDir] [-n repeats]"
    if (args.isEmpty) {
      System.err.println(usage)
      sys.exit(2)
    }
    // explicit flags, not classify-by-shape: a misspelled query name must
    // be an error, never silently consumed as a parameter
    var sfDir = "/root/testdata/sf0.1"
    var repeats = 3
    var stages = false
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-stages" => stages = true; i += 1
        case "-d" if i + 1 < args.length => sfDir = args(i + 1); i += 2
        case "-n" if i + 1 < args.length =>
          repeats = args(i + 1).toIntOption.filter(_ >= 1).getOrElse {
            System.err.println(s"-n needs a positive integer, got: ${args(i + 1)}\n$usage")
            sys.exit(2)
          }
          i += 2
        case "-d" | "-n" =>
          System.err.println(s"${args(i)} needs a value\n$usage"); sys.exit(2)
        case n => names += n; i += 1
      }
    }
    val known = SparkEntry.queries.keySet
    val bad = names.filterNot(known)
    if (names.isEmpty || bad.nonEmpty) {
      System.err.println(
        if (names.isEmpty) usage
        else s"no such quer${if (bad.size > 1) "ies" else "y"}: ${bad.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.harness()
    names.foreach { name =>
      val samples = (1 to repeats).map(_ => Bench.seconds(spark, name, sfDir))
      println(f"BENCHONE $name min=${samples.min}%.3f samples=${samples.map(s => f"$s%.3f").mkString(",")}")
      // -stages: time each composed sub-plan of a decomposable query
      // separately (currently q120) — variance attribution, not a bench
      // number (the sub-plans recompute shared subtrees, so their sum
      // exceeds the one-plan time by design)
      if (stages && name == "q120_recipe_funnel") {
        graft.queries.DedupOps.recipeFunnelStages(spark, sfDir)
          .foreach { case (st, df) =>
            val ss = (1 to repeats).map(_ => Bench.seconds(df))
            println(f"BENCHONE stage:$st min=${ss.min}%.3f " +
              f"samples=${ss.map(x => f"$x%.3f").mkString(",")}")
          }
      }
    }
    // staged frames this run built (marginal seconds, same accounting as
    // Bench) — so isolating a consumer query also isolates its builds
    Staging.buildTimes(spark).toVector
      .collect { case ((d, n), v) if d == sfDir => n -> v }
      .sortBy(_._1)
      .foreach { case (n, v) => println(f"BENCHONE staging:$n $v%.3f") }
    spark.stop()
  }
}
