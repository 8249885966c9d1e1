package graft

import org.scalatest.funsuite.AnyFunSuite

/** Proves the bench harness's trust properties directly (round-3 VERDICT
  * done-criterion: "a crashing query visibly errors"): a throwing query
  * lands in the error map and NEVER reports a timing; min-of-N picks the
  * fastest healthy sample; a query that fails intermittently still reports
  * its successful minimum AND its error.
  */
class BenchSpec extends AnyFunSuite {

  test("a crashing query is recorded as an error, never as a timing") {
    val (timings, errors) = Bench.measure(Seq(
      "ok" -> (() => ()),
      "boom" -> (() => throw new IllegalStateException("exploded"))),
      repeats = 3)
    assert(timings.map(_._1) == Vector("ok"))
    assert(errors.keySet == Set("boom"))
    assert(errors("boom").contains("IllegalStateException"))
    assert(errors("boom").contains("exploded"))
  }

  test("min-of-N reports the fastest sample") {
    var calls = 0
    val (timings, errors) = Bench.measure(Seq(
      "warming" -> (() => {
        calls += 1
        if (calls == 1) Thread.sleep(80) // slow first sample (cold)
      })), repeats = 3)
    assert(errors.isEmpty)
    assert(calls == 3)
    val t = timings.toMap.apply("warming")
    assert(t < 0.05, s"min-of-3 should drop the 80ms cold sample, got $t s")
  }

  test("stdout line fits the driver's 2000-char tail window at full query count") {
    // Full-length names like the real registry; the driver keeps only the
    // last ~2000 chars of stdout and there is a trailing sbt [success] line,
    // so the budget is ~1900 chars.
    // 140 queries + 10 staging entries: one round of growth beyond the
    // current 131 registered queries / 9 staged frames. If this fails,
    // the next lever is dropping the 'q' from stdout keys.
    // realistic value mix: mean ~0.4 s with every tenth query slow —
    // matches the live distribution (131 queries, mean 0.44 s)
    val ts = (1 to 140).map(i => (f"q$i%02d_some_representative_query_name",
      if (i % 10 == 0) 12.345678901 else 0.423456789)).toVector
    val st = (1 to 10).map(i => (s"staged_frame_$i", 3.21098765)).toVector
    val (stdout, file) = Bench.render(ts, Map.empty, "/root/testdata/sf0.1", st)
    assert(stdout.length < 1900, s"stdout line too long: ${stdout.length}")
    // at 140 queries the adaptive stage has dropped the 'q' prefix
    assert(stdout.contains("\"01\":0.42"))
    assert(stdout.contains("\"staged_frame_1\":3.21"))
    assert(!stdout.contains("some_representative"))
    assert(file.contains("\"q01_some_representative_query_name\":0.423456789"))
    assert(file.contains("\"staged_frame_1\":3.21098765"))
  }

  test("ambient fields (loadavg + sentinel) land in both result lines") {
    val amb = Bench.Ambient(Seq(1.52, 0.98, 0.75), Seq(2.01, 1.2, 0.8),
      0.123456789, 0.234567891)
    val (stdout, file) = Bench.render(
      Vector(("q01_a", 1.0)), Map.empty, "sf", Vector.empty, Some(amb))
    assert(stdout.contains("\"loadavg_start\":[1.52,0.98,0.75]"))
    assert(stdout.contains("\"loadavg_end\":[2.01,1.2,0.8]"))
    // stdout carries 2-decimal sentinels; the file line full precision
    assert(stdout.contains("\"sentinel_start\":0.12") &&
      stdout.contains("\"sentinel_end\":0.23"), stdout)
    assert(file.contains("\"sentinel_start\":0.123456789") &&
      file.contains("\"sentinel_end\":0.234567891"), file)
    // both lines stay single-line valid JSON endings
    assert(stdout.endsWith("\"sf\":\"sf\"}") && file.endsWith("\"sf\":\"sf\"}"))
  }

  test("staging survives compression at the real registry shape " +
    "(r10 regression: 144 queries dropped staging from the driver artifact)") {
    // the exact r10 regime that produced "staging":{}: 144+ queries with
    // the real 12-name staging namespace — the new ladder must keep one
    // entry per staged frame in the STDOUT line (shortened names are
    // fine). 152 queries = growth headroom past the current registry,
    // with the registry's real mixed 2/3-digit key shape; past ~158 the
    // ladder's documented fallback is the _sum collapse (next test).
    val ts = (1 to 152).map(i => (f"q$i%02d_some_representative_query_name",
      if (i % 10 == 0) 12.345678901 else 0.423456789)).toVector
    val st = Vector("bucketed_facts", "cdc", "grams10", "grams3", "grams5",
      "kmeans_assign", "kmeans_converged", "log", "mh_pairs",
      "neardup_labels", "partitioned_events", "pr_edges", "pr_nodes",
      "semdedup_assign_k16").map(_ -> 3.21098765)
    val amb = Bench.Ambient(Seq(1.52, 0.98, 0.75), Seq(2.01, 1.2, 0.8), 0.07, 0.09)
    val (stdout, file) = Bench.render(ts, Map.empty, "/root/testdata/sf0.1",
      st, Some(amb))
    assert(stdout.length <= 1880, s"stdout line too long: ${stdout.length}")
    val stagingObj = stdout.split("\"staging\":")(1).takeWhile(_ != '}') + "}"
    assert(stagingObj != "{}", "staging must never be empty in stdout")
    // one entry per staged frame (14 colons inside the staging object)
    assert(stagingObj.count(_ == ':') == 14, stagingObj)
    assert(file.contains("\"bucketed_facts\":3.21098765"),
      "file line must keep the full staging map")
  }

  test("last-resort compression collapses staging to a visible sum, " +
    "never to an empty object") {
    // 40 staging entries whose names only differ at the suffix defeat
    // prefix shortening — the ladder must fall to {"_sum","_n"} and stay
    // inside the tail window, with the full map preserved in the file line
    val ts = (1 to 150).map(i => (f"q$i%03d_some_representative_query_name",
      if (i % 10 == 0) 12.345678901 else 0.423456789)).toVector
    val st = (1 to 40).map(i => (s"staged_frame_with_a_long_name_$i", 3.21098765)).toVector
    val (stdout, file) = Bench.render(ts, Map.empty, "/root/testdata/sf0.1", st)
    assert(stdout.length <= 1880, s"stdout line too long: ${stdout.length}")
    assert(stdout.contains("\"staging\":{\"_sum\":128.44,\"_n\":40,\"_reused\":0}"), stdout)
    assert(file.contains("\"staged_frame_with_a_long_name_1\":3.21098765"),
      "file line must keep the full staging map")
  }

  test("a pre-built staged frame renders as an explicit reused marker") {
    val (stdout, file) = Bench.render(
      Vector(("q01_a", 1.0)), Map.empty, "sf",
      staging = Vector(("mh_pairs", 7.5)),
      reusedStaging = Vector("grams3"))
    for (line <- Seq(stdout, file)) {
      assert(line.contains("\"mh_pairs\":7.5"), line)
      assert(line.contains("\"grams3\":\"reused\""), line)
    }
  }

  test("many long error messages cannot overflow the stdout line " +
    "(r08: ten ~190-char exceptions made parsed: null)") {
    // the exact r08 regime: a full-size registry where 10 queries throw
    // analysis errors whose rendered strings are ~190 chars each
    val ts = (1 to 125).map(i => (f"q$i%03d_some_representative_query_name",
      if (i % 10 == 0) 12.345678901 else 0.423456789)).toVector
    val st = (1 to 12).map(i => (s"staged_frame_$i", 3.21098765)).toVector
    val longMsg = "[DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION] Cannot resolve " +
      "\"unix_micros(ts)\" due to data type mismatch: cannot cast \"TIMESTAMP_NTZ\" " +
      "to \"DOUBLE\". SQLSTATE: 42K09; line 1 pos 0"
    val errs = (1 to 10).map(i =>
      f"e$i%03d_exploding_query" -> s"ExtendedAnalysisException: $longMsg").toMap
    val (stdout, file) = Bench.render(ts, errs, "/root/testdata/sf0.1", st)
    assert(stdout.length <= 1880, s"stdout line too long: ${stdout.length}")
    // every errored query stays visible by name even at the final stage
    (1 to 10).foreach(i => assert(stdout.contains(f"\"e$i%03d")))
    // the file line always keeps the full error text (quotes JSON-escaped,
    // so assert on a quote-free tail chunk past the 80-char stdout cap)
    assert(file.contains("SQLSTATE: 42K09; line 1 pos 0"))
  }

  test("184 queries: one key per query and no fast query prints 0") {
    // the r20 shape: at 184 queries the line falls to the last stage,
    // whose 1-decimal values printed sub-50 ms queries as 0
    val ts = (1 to 184).map(i => (f"q$i%02d_some_representative_query_name",
      if (i % 10 == 0) 12.345678901
      else if (i % 7 == 0) 0.0349
      else if (i % 11 == 0) 0.021
      else 0.423456789)).toVector
    val st = (1 to 22).map(i => (s"staged_frame_$i", 3.21098765)).toVector
    val amb = Bench.Ambient(Seq(7.42, 4.25, 3.0), Seq(3.84, 4.87, 3.98), 0.168, 0.1)
    val (stdout, file) = Bench.render(ts, Map.empty, "sf0.1", st, Some(amb))
    assert(stdout.contains("\"staging\":{\"_sum\":"), stdout)
    val qs = stdout.split("\"queries\":\\{")(1).takeWhile(_ != '}')
      .split(",").map(_.split(":") match { case Array(k, v) => k -> v }).toMap
    assert(qs.size == 184, stdout)
    assert(qs("\"01\"") == "0.4" && qs("\"07\"") == "0.035" &&
      qs("\"10\"") == "12.3" && qs("\"11\"") == "0.021" &&
      qs("\"184\"") == "0.4", qs)
    assert(!qs.values.exists(_.toDouble == 0.0), qs)
    assert(file.contains("\"q07_some_representative_query_name\":0.0349"))
  }

  test("stdout error messages are capped at class + ~80 chars; " +
    "file line keeps full text") {
    val msg = "x" * 500
    val (stdout, file) = Bench.render(
      Vector(("q01_a", 1.0)), Map("q02_b" -> s"RuntimeException: $msg"),
      "sf")
    // class name + ": " + 80 chars of message
    assert(stdout.contains("\"q02\":\"RuntimeException: " + "x" * 80 + "\""),
      stdout)
    assert(!stdout.contains("x" * 81))
    assert(file.contains("x" * 500))
  }

  test("short keys fall back to full names on prefix clash") {
    val ts = Vector(("q01_a", 1.0), ("q01_b", 2.0))
    val (stdout, _) = Bench.render(ts, Map.empty, "sf")
    assert(stdout.contains("\"q01_a\":1") && stdout.contains("\"q01_b\":2"))
  }

  test("samples are split across two temporally-separated passes") {
    // With repeats=3 the call sequence must be a,a,b,b (pass one) then a,b
    // (pass two) — so a load spike spanning one contiguous stretch can never
    // cover all three samples of any query.
    val order = collection.mutable.Buffer.empty[String]
    val (timings, errors) = Bench.measure(Seq(
      "a" -> (() => order += "a"),
      "b" -> (() => order += "b")), repeats = 3)
    assert(order.toSeq == Seq("a", "a", "b", "b", "a", "b"))
    assert(errors.isEmpty)
    assert(timings.map(_._1) == Vector("a", "b"))
  }

  test("a spike covering one pass's samples cannot poison the reported min") {
    // The first pass's two samples are slow (the "spike"); the second pass's
    // sample is fast — the reported min must be the clean pass-two number.
    var calls = 0
    val (timings, _) = Bench.measure(Seq(
      "spiked" -> (() => {
        calls += 1
        if (calls <= 2) Thread.sleep(80)
      })), repeats = 3)
    assert(timings.toMap.apply("spiked") < 0.05)
  }

  test("an intermittently failing query reports both its minimum and its error") {
    var calls = 0
    val (timings, errors) = Bench.measure(Seq(
      "flaky" -> (() => {
        calls += 1
        if (calls == 2) throw new RuntimeException("transient")
      })), repeats = 3)
    assert(timings.map(_._1) == Vector("flaky"))
    assert(errors.keySet == Set("flaky"))
  }
}
