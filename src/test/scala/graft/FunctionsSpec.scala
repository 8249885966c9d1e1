package graft

import graft.functions.{DistinctSetAgg, Tokenize}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("X1/X2 tokenizer: latin words plus CJK bigram fallback") {
    assert(Tokenize.analyze("Hello, World 42!") == Seq("hello", "world", "42"))
    assert(Tokenize.analyze("小米手机") == Seq("小米", "米手", "手机"))
    assert(Tokenize.analyze("Apple手机 best") == Seq("apple", "手机", "best"))
    assert(Tokenize.analyze("中") == Seq("中"))
    assert(Tokenize.analyze("") == Seq.empty)
    // column form: explode(tokenize(c)) — the UDTF-equivalent shape
    import spark.implicits._
    val out = Seq("苹果 iPhone 手机壳").toDF("text")
      .select(explode(Tokenize.tokenize(col("text"))).as("tok"))
      .as[String].collect().toSeq
    assert(out == Seq("苹果", "iphone", "手机", "机壳"))
    // codegen (StaticInvoke) form agrees with the UDF form on real data
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(50)
    val viaUdf = docs.select(col("doc_id"), Tokenize.tokenize(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaExpr = docs.select(col("doc_id"), Tokenize.tokenizeNative(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaUdf == viaExpr)
  }

  test("tokenizer equals the q44 oracle's Unicode regex split on non-CJK text") {
    // The q44 DuckDB oracle splits on [^\pL\p{Nd}]+ (RE2). For non-CJK
    // scripts Java's Character.isLetterOrDigit accepts exactly \pL + \p{Nd},
    // so tokenizeNative must agree with the same regex split — pinned here
    // on accented/Cyrillic fixtures so q44's oracle parity is a contract,
    // not an ASCII artifact.
    val fixtures = Seq(
      "Café crème déjà-vu 42!",
      "ünïcode Ёлка приветъ 007",
      "mixed_CASE-hyphen.and.dots 3½x",  // ½ is \p{No}: both sides drop it
      "  leading & trailing  ",
      "")
    for (s <- fixtures) {
      val viaRegex = s.toLowerCase.split("[^\\p{L}\\p{Nd}]+").toSeq.filter(_.nonEmpty)
      assert(Tokenize.analyze(s) == viaRegex, s"divergence on <$s>")
    }
    // and over a DataFrame column through the codegen path
    import spark.implicits._
    val df = fixtures.toDF("text")
    val native = df.select(explode(Tokenize.tokenizeNative(col("text"))).as("t"))
      .as[String].collect().toSeq
    val regex = df.select(explode(split(lower(col("text")), "[^\\p{L}\\p{Nd}]+")).as("t"))
      .filter(col("t") =!= "").as[String].collect().toSeq
    assert(native == regex)
  }

  test("planeDot fails loudly on embedding dimensionality drift") {
    import graft.functions.VectorFns
    import spark.implicits._
    val ok = Seq(Array.fill(VectorFns.Dims)(0.5)).toDF("v")
      .select(VectorFns.planeDot(col("v"), 0).as("d")).head().getDouble(0)
    assert(!ok.isNaN)
    // a 63-dim vector must error, not land in a wrong-but-plausible bucket
    val bad = Seq(Array.fill(VectorFns.Dims - 1)(0.5)).toDF("v")
    val e = intercept[Exception] {
      bad.select(VectorFns.planeDot(col("v"), 0)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("planeDot")), s"unexpected error: $e")
  }

  test("GraftExtensions exposes tokenize in plain SQL as the native expression") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val out = spark.sql("SELECT tokenize('Apple手机 Best') AS t")
      .as[Seq[String]].head()
    assert(out == Seq("apple", "手机", "best"))
    // the plan contains the static invoke, not a UDF node
    val plan = spark.sql("SELECT tokenize('x') AS t")
      .queryExecution.analyzed.toString
    assert(plan.contains("static_invoke") || plan.contains("StaticInvoke"),
      s"unexpected plan: $plan")
    // the SQL function and tokenizeNative (DwdLogStream's keyword
    // explode) plan the same expression
    val docs = Seq("Apple手机 Best").toDF("text")
    def invokes(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          => s
      }))
    val viaSql = invokes(docs.selectExpr("tokenize(text) AS t"))
    val viaNative = invokes(docs.select(Tokenize.tokenizeNative(col("text"))))
    assert(viaSql.size == 1 && viaNative.size == 1 &&
      viaSql.head.semanticEquals(viaNative.head),
      s"SQL $viaSql vs native $viaNative")
    // the rolling-hash chunker rides the same extension point
    val chunks = spark.sql("SELECT chunk_fingerprints('hello world') AS c")
      .as[Seq[Long]].head()
    assert(chunks ==
      graft.functions.RollingHash.chunkHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello world"))
        .toLongArray.toSeq)
  }

  test("ApproxDistinctRule rewrites exact distinct to HLL under the session flag") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // a DataFrame caches its QueryExecution, so build a fresh one per
    // flag setting — the rule reads the conf at optimization time
    def df = Tables(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(countDistinct(col("user_id")).as("uv"))
    spark.conf.set("spark.graft.approxDistinct", "false")
    val exact = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("hyperloglog") ||
        plan.contains("approx_count_distinct"), s"rule did not fire:\n$plan")
      val approx = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(approx.keySet == exact.keySet)
      for ((d, ev) <- exact) {
        assert(math.abs(approx(d) - ev).toDouble / ev < 0.15,
          s"approx too far off on $d: ${approx(d)} vs $ev")
      }
    } finally spark.conf.set("spark.graft.approxDistinct", "false")
    // flag off again: exact results return
    assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == exact)
  }

  test("A4 DistinctSetAgg equals countDistinct exactly; approx variant is close") {
    import spark.implicits._
    val df = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d"),
        col("user_id").cast("string").as("uid"))
    val distinctSet = udaf(DistinctSetAgg)
    val agg = df.groupBy("d").agg(
      distinctSet(col("uid")).as("set_ct"),
      countDistinct(col("uid")).as("exact_ct"),
      approx_count_distinct(col("uid")).as("approx_ct"))
    val rows = agg.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val set = r.getAs[Long]("set_ct")
      val exact = r.getAs[Long]("exact_ct")
      val approx = r.getAs[Long]("approx_ct")
      assert(set == exact, s"Aggregator disagrees with countDistinct on ${r.getString(0)}")
      assert(math.abs(approx - exact).toDouble / exact < 0.15,
        s"approx_count_distinct off by >15%: $approx vs $exact")
    }
  }

  test("S6 socket source streams line-per-record input") {
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("alpha", "beta", "gamma").foreach(out.println)
      Thread.sleep(3000)
      out.close(); sock.close()
    })
    feeder.setDaemon(true); feeder.start()
    val lines = spark.readStream
      .format("socket")
      .option("host", "localhost").option("port", port.toString)
      .load()
    val q = lines.writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("sock_out").count() < 3 &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
    } finally { q.stop(); server.close() }
    assert(spark.table("sock_out").as[String].collect().toSet ==
      Set("alpha", "beta", "gamma"))
  }
}
