package graft

/** Prints formatted physical plans for representative queries and greps them
  * for the scale-critical properties: parquet filter pushdown + column
  * pruning, broadcast joins on dim sides, and whole-stage codegen coverage.
  * Usage: runMain graft.PlanAudit [sfDir] [queryName...|all]
  *
  * With `all`, the AUDIT summary lines are also persisted to
  * PLAN_AUDIT.txt in the working directory — committed once per round so
  * pushdown/codegen/broadcast regressions surface as a diff, not a
  * re-derivation (the verify loop's plan-regression artifact).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val auditAll = args.length > 1 && args(1) == "all"
    val names = if (auditAll) Registry.all.map(_.name)
      else if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q04_fact_join_agg", "q05_snowflake_enrich",
        "q25_cart_add_delta", "q35_ngram_jaccard", "q38_knn_bruteforce")
    val spark = GraftSession()
    val auditLines = Seq.newBuilder[String]
    for (q <- Registry.all if names.contains(q.name)) {
      println(s"\n========== ${q.name} ==========")
      val df = q.run(spark, sfDir)
      // execute THIS QueryExecution (not a write-wrapped copy) so AQE
      // finalizes and codegen ids appear in the formatted plan
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      val checks = Seq(
        "PushedFilters pushed" ->
          (!plan.contains("PushedFilters: []") || !plan.contains("Filter")),
        "has WholeStageCodegen" -> plan.contains("codegen id"),
        "broadcast used" -> (plan.contains("BroadcastHashJoin") ||
          plan.contains("BroadcastNestedLoopJoin")))
      val line = s"AUDIT ${q.name}: " +
        checks.map { case (k, v) => s"$k=$v" }.mkString(" ")
      auditLines += line
      println(line)
    }
    if (auditAll) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("PLAN_AUDIT.txt"),
        auditLines.result().mkString(
          s"# PlanAudit over $sfDir — regen each round via " +
            "`runMain graft.PlanAudit <sfDir> all`\n", "\n", "\n"))
    }
    spark.stop()
  }
}
