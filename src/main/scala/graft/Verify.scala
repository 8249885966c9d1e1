package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump (and list in
    // oracle_sql.json) only those, for the single-query iteration loop.
    // The driver always calls with two args, so its view is unchanged.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(n: String) = only.forall(_.contains(n))
    val spark = GraftSession()
    // The correctness gate replays DEFAULT geometry: the DuckDB oracles
    // encode the two-level SemDeDup assignment and the 16-list IVF
    // quantizer, so a stray harness env (SPARK_GRAFT_THREE_LEVEL_MIN_K /
    // SPARK_GRAFT_ANN_NLIST — sweep-only overrides) must never reach a
    // gated plan. Session conf outranks the env fallback in both knobs.
    spark.conf.set("graft.semdedup.threeLevelMinK", "2000000")
    spark.conf.set("graft.ann.nlist", "16")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
