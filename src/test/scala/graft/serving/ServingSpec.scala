package graft.serving

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ServingSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("Graft.init exposes tables and native functions to plain SQL") {
    graft.Graft.init(spark, sfDir)
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    assert(spark.sql("SELECT tokenize('Hello World')").head()
      .getSeq[String](0) == Seq("hello", "world"))
  }

  private def someDate: String =
    graft.Tables(spark, sfDir, "orders")
      .select(date_format(col("o_orderdate"), "yyyyMMdd"))
      .head().getString(0)

  test("gmv(date) returns the day's total and the publisher JSON shape") {
    val date = someDate
    val amount = Serving.gmv(spark, sfDir, date).head().getDouble(0)
    assert(amount > 0)
    val json = Serving.gmvJson(spark, sfDir, date)
    assert(json == s"""{"status":0,"data":$amount}""")
    // a day with no orders serves 0, not an error
    assert(Serving.gmv(spark, sfDir, "19000101").head().getDouble(0) == 0.0)
  }

  test("serving date predicates are sargable (pushed to the parquet scan)") {
    val date = someDate
    for (df <- Seq(Serving.gmv(spark, sfDir, date),
        Serving.provinceAmounts(spark, sfDir, date))) {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
        s"expected pushed range filter on o_orderdate, plan:\n$plan")
      assert(plan.contains("LessThan(o_orderdate"),
        s"expected pushed upper bound on o_orderdate, plan:\n$plan")
      assert(!plan.contains("PushedFilters: []"),
        s"scan has empty PushedFilters:\n$plan")
    }
  }

  private def writeDws(sf: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("dws_province").toString
    Serving.writeDwsProvinceWindow(spark, sf, dir)
    dir
  }

  /** The sf0.001 DWS table, shared by the DWS tests. */
  private lazy val dwsDir = writeDws(sfDir)

  private def dwsDays(dir: String): Seq[String] =
    spark.read.parquet(dir).select(date_format(col("dt"), "yyyyMMdd")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  test("DWS-backed serving: date-partitioned q54 table, one-partition " +
    "pruned scans, results equal the windowed source rolled up by day") {
    val dir = dwsDir

    val dws = graft.pipelines.Pipelines.provinceOrderWindow(spark, sfDir)
      .withColumn("dt", substring(col("stt"), 1, 10)).collect()
    val days = dws.map(_.getAs[String]("dt")).distinct.sorted
    assert(days.length > 1, "fixture must span multiple days")
    val day = days(days.length / 2)
    val yyyymmdd = day.replace("-", "")

    // AQE wraps subplans in opaque stages; disable for scan inspection
    // (conf window via SparkSpec.withConfs — see its SEQUENTIAL-EXECUTION
    // ASSUMPTION note)
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val gmvQ = Serving.gmvFromDws(spark, dir, yyyymmdd)
      val provQ = Serving.provinceAmountsFromDws(spark, dir, yyyymmdd)
      for (q <- Seq(gmvQ, provQ)) {
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") && plan.contains("dt"),
          s"expected a partition filter on dt:\n$plan")
        val scanned = q.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
        assert(scanned.nonEmpty && scanned.forall(_ == 1),
          s"expected exactly 1 selected partition, got $scanned (of ${days.length})")
      }
      // the served numbers are the day's windows rolled up
      val dayRows = dws.filter(_.getAs[String]("dt") == day)
      val expectedGmv = dayRows.map(_.getAs[Double]("order_amount")).sum
      assert(math.abs(gmvQ.head().getDouble(0) - expectedGmv) < 1e-6)
      val expectedProv = dayRows.groupBy(_.getAs[String]("province_name"))
        .view.mapValues(_.map(_.getAs[Double]("order_amount")).sum).toMap
      val served = provQ.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(served.keySet == expectedProv.keySet)
      served.foreach { case (p, v) =>
        assert(math.abs(v - expectedProv(p)) < 1e-6, s"province $p")
      }
      // a day with no windows serves 0, not an error
      assert(Serving.gmvFromDws(spark, dir, "19000101").head().getDouble(0) == 0.0)
    }
  }

  test("DWS serving on a day with no partition: no province rows, gmv 0") {
    assert(!dwsDays(dwsDir).contains("19000101"))
    assert(Serving.provinceAmountsFromDws(spark, dwsDir, "19000101").collect().isEmpty)
    assert(Serving.gmvFromDws(spark, dwsDir, "19000101").head().getDouble(0) == 0.0)
  }

  test("the pinned DWS schema is the schema a read of the written table infers") {
    assert(spark.read.parquet(dwsDir).schema == Serving.DwsSchema,
      s"writeDwsProvinceWindow now writes ${spark.read.parquet(dwsDir).schema.toDDL}; " +
        "update Serving.DwsSchema")
  }

  test("a DWS table rewritten from another sfDir serves the new numbers") {
    val dir = writeDws(sfDir)
    val day = dwsDays(dir).head
    // an independent read of the table as written: the expected answers
    def expected(): (Double, Map[String, Double]) = {
      val rows = spark.read.parquet(dir).filter(date_format(col("dt"), "yyyyMMdd") === day)
        .groupBy("province_name").agg(sum("order_amount")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      (rows.values.sum, rows)
    }
    def served(): (Double, Map[String, Double]) = {
      val gmv = Serving.gmvFromDws(spark, dir, day).head().getDouble(0)
      val prov = Serving.provinceAmountsFromDws(spark, dir, day).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      (gmv, prov)
    }
    def assertClose(got: (Double, Map[String, Double]), want: (Double, Map[String, Double])): Unit = {
      assert(math.abs(got._1 - want._1) < 1e-6, s"gmv ${got._1} != ${want._1}")
      assert(got._2.keySet == want._2.keySet)
      got._2.foreach { case (p, v) => assert(math.abs(v - want._2(p)) < 1e-6, s"province $p") }
    }
    val before = expected()
    assertClose(served(), before)
    Serving.writeDwsProvinceWindow(spark, sfDir.replace("sf0.001", "sf0.01"), dir)
    val after = expected()
    assert(math.abs(after._1 - before._1) > 1e-6, "the rewrite must change the day's gmv")
    assertClose(served(), after)
  }

  test("provinceJson lists provinces sorted by name") {
    val date = someDate
    val names = "\"name\":\"([^\"]*)\"".r.findAllMatchIn(Serving.provinceJson(spark, sfDir, date))
      .map(_.group(1)).toSeq
    assert(names.nonEmpty && names == names.sorted)
    assert(names.sorted == Serving.provinceAmounts(spark, sfDir, date).collect()
      .map(_.getString(0)).toSeq.sorted)
  }

  test("provinceAmounts(date) returns per-province rows and the mapData JSON shape") {
    val date = someDate
    val rows = Serving.provinceAmounts(spark, sfDir, date).collect()
    assert(rows.nonEmpty)
    val json = Serving.provinceJson(spark, sfDir, date)
    assert(json.startsWith("""{"status":0,"data":{"mapData":["""))
    assert(json.endsWith(""""valueName":"order_amount"}}"""))
    rows.foreach { r =>
      assert(json.contains(s""""name":"${r.getString(0)}""""))
    }
    // province totals sum to the day's gmv
    val gmv = Serving.gmv(spark, sfDir, date).head().getDouble(0)
    assert(math.abs(rows.map(_.getDouble(1)).sum - gmv) < 1e-6)
  }
}
