package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for registered queries to files — the
  * plan evidence the optimization rounds commit under `plans/rNN/`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [names...|all]
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq match {
      case Seq("all") | Seq() => SparkEntry.queries.keys.toSeq.sorted
      case xs => xs
    }
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    names.foreach { n =>
      val txt =
        try {
          val df = qs(n)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"ERROR building $n: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"PLANDUMP $n -> $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
