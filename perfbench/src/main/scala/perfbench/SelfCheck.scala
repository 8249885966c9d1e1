package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's own checks, run on the smallest tables:
  *  - failure accounting: a query that throws and a query whose output no
  *    longer matches its fingerprint each count as failed ops and never
  *    contribute a timing; a stream replay whose window output no longer
  *    matches its fingerprint counts every chunk and block as failed and
  *    contributes no latency or capacity;
  *  - millisecond resolution: q35, a ~40 ms query, reads nonzero;
  *  - every workload emits every named metric with its unit, untraced and
  *    traced (run.py compares the names against BENCHMARK.json).
  */
object SelfCheck {
  def run(ctx: Ctx): Int = {
    val problems = Seq.newBuilder[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) problems += what
    val reg = graft.SparkEntry.queries
    val q01 = "q01_pricing_summary"
    val good = Batch.runQuery(ctx, ctx.spark, "check:prime", q01, reg(q01)).fp.get
    val thrower: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("injected failure")
    val list = Seq(q01 -> reg(q01), "check_throws" -> thrower, "check_altered" -> reg(q01))
    val expected = Map(q01 -> good, "check_throws" -> good,
      "check_altered" -> good.copy(hash = good.hash + "7"))
    val o = Batch.measure(ctx, ctx.spark, list, expected, passes = 2)
    val passes = o.detail("passes").asInstanceOf[Int]
    val perQuery = o.detail("per_query").asInstanceOf[Seq[Map[String, Any]]]
    expect(o.attempted == 3L * passes, s"attempted ${o.attempted} != ${3 * passes}")
    expect(o.failed == 2L * passes, s"failed ${o.failed} != ${2 * passes} (throw + altered output)")
    expect(!o.correct, "a run with failed ops reported correct")
    val tail = o.detail("op_tail").asInstanceOf[Map[String, Any]]
    expect(tail("samples") == passes, s"latency samples ${tail("samples")} include failed ops")
    expect(perQuery.count(_("failure") != None) == 2 * passes, "failures not recorded per op")

    val q35 = "q35_ngram_jaccard"
    val r35 = (1 to 3).map(_ => Batch.runQuery(ctx, ctx.spark, "check:q35", q35, reg(q35))).last
    expect(r35.error.isEmpty, s"q35 failed: ${r35.error}")
    expect(r35.wallMs > 0 && Json(r35.wallMs / 1e3) != "0.0" &&
      BigDecimal(r35.wallMs).setScale(0, BigDecimal.RoundingMode.HALF_UP) > 0,
      s"q35 reads ${r35.wallMs} ms — not millisecond-resolved")

    // the stream run checks its output against an altered fingerprint
    val altered = s"${ctx.args.work}/fingerprints-altered.json"
    Files.writeString(Paths.get(altered), Fingerprints.render(
      Fingerprints.load(ctx.args.fingerprints).map {
        case (k @ "stream:dws_agg", f) => k -> f.copy(hash = f.hash + "7")
        case kv => kv
      }))

    val emitted = Main.Workloads.map { w =>
      val c = new Ctx(ctx.args.copy(workload = w, seconds = 1.0), ctx.spark, ctx.tracer)
      val out = w match {
        case "batch_sweep" => Batch.sweep(c, 0.0, full = false)
        case "serve_point" => Serve.run(c, 0.0)
        case "stream_ingest" =>
          val o = Stream.run(new Ctx(c.args.copy(fingerprints = altered), ctx.spark, ctx.tracer), 0.0)
          val st = o.detail("op_tail").asInstanceOf[Map[String, Any]]
          expect(o.attempted > 0 && o.failed == o.attempted,
            s"stream: failed ${o.failed} of ${o.attempted} with an altered output")
          expect(!o.correct, "stream: a run with a failed output check reported correct")
          expect(st("samples") == 0 && o.e2e("capacity_per_s").value == 0.0,
            "stream: a failed run contributed latency or capacity samples")
          o
      }
      val layers = Layers.complete(c, out, Ambient.sentinelMs(c))
      def units(m: Map[String, M]) = m.map { case (k, v) => k -> v.unit }
      expect(layers.values.forall(v => !v.value.isNaN), s"$w: NaN per-layer metric")
      w -> Map("end_to_end" -> units(out.e2e), "per_layer" -> units(layers))
    }.toMap
    val result = problems.result()
    val line = Json(Map("selfcheck" -> result.isEmpty, "problems" -> result,
      "q35_ms" -> r35.wallMs, "passes" -> passes, "emitted" -> emitted))
    Files.createDirectories(Paths.get(ctx.args.out))
    Files.writeString(Paths.get(s"${ctx.args.out}/selfcheck.json"), line + "\n")
    println(line)
    if (result.isEmpty) 0 else 1
  }
}
