package perfbench

import java.nio.file.{Files, Paths}

/** Records the output fingerprints the checks compare against. Every
  * registry query is run once, its output written as parquet beside the
  * library's oracle SQL (the layout tools/compare.py reads) and
  * fingerprinted; the stream workload's window outputs are fingerprinted
  * after a full replay. The fingerprints are only kept once compare.py
  * has passed on the written outputs.
  */
object Record {
  def run(ctx: Ctx): Int = {
    val out = ctx.args.out
    val fps = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(ctx.spark, ctx.args.data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/verify/$name")
      name -> Batch.fingerprintOf(df)
    }
    val sql = graft.SparkEntry.oracleSql.map { case (k, v) => k -> v }
    Files.writeString(Paths.get(s"$out/verify/oracle_sql.json"), Json(sql))
    val topo = new Stream.Topology(ctx, "record")
    Stream.closedLoop(topo, Stream.load(ctx), 4)
    topo.stop()
    val stream = Seq("dws_agg", "dwd_kw").map(n => s"stream:$n" -> Batch.fingerprintOf(topo.table(n)))
    Files.writeString(Paths.get(s"$out/fingerprints.json"), Fingerprints.render((fps ++ stream).toMap))
    println(Json(Map("recorded" -> (fps.size + stream.size), "out" -> out)))
    0
  }
}
