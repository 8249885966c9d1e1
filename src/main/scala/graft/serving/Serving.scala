package graft.serving

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Serving-layer queries (SURVEY.md §2.13): the publisher's two HTTP
  * endpoints as date-parameterized library functions plus the exact JSON
  * response shapes (ref PUB/controller/TradeStatController.java:29-85,
  * PUB/mapper/TradeStatMapper.java:15-20).
  *
  * The reference serves these from ClickHouse DWS tables; here they run as
  * Spark SQL over the warehouse tables. The date predicate is a SARGABLE
  * half-open range on the raw timestamp column (never a function of the
  * column), so it reaches the parquet scan as PushedFilters and would prune
  * a date-partitioned production table — asserted in ServingSpec.
  */
object Serving {

  /** `[day, day+1)` on o_orderdate for a yyyyMMdd day string; both bounds are
    * foldable literals so the comparison pushes down to the scan.
    */
  private def dayRange(date: String) = {
    val d = to_date(lit(date), "yyyyMMdd")
    col("o_orderdate") >= d.cast("timestamp") &&
      col("o_orderdate") < date_add(d, 1).cast("timestamp")
  }

  /** Q1: GET /gmv?date= — total order amount for one yyyyMMdd day. */
  def gmv(spark: SparkSession, sfDir: String, date: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .filter(dayRange(date))
      .agg(coalesce(sum(col("o_totalprice").cast("decimal(18,2)")), lit(0))
        .cast("double").as("gmv"))

  /** Q1 response: `{"status":0,"data":<amount>}`. */
  def gmvJson(spark: SparkSession, sfDir: String, date: String): String = {
    val amount = gmv(spark, sfDir, date).head().getDouble(0)
    s"""{"status":0,"data":$amount}"""
  }

  /** Q2: GET /province?date= — per-province amounts for one day (nation is
    * the province analog in the test schema).
    */
  def provinceAmounts(spark: SparkSession, sfDir: String, date: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
      .filter(dayRange(date))
    val c = Tables(spark, sfDir, "customer")
    val n = Tables(spark, sfDir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("province_name"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .as("order_amount"))
  }

  /** Q2 response: `{"status":0,"data":{"mapData":[{"name":…,"value":…},…],
    * "valueName":"order_amount"}}` (the publisher's map-chart shape),
    * sorted by name. At most one row per province, so the sort runs on
    * the driver after the collect: a distributed orderBy would cost a
    * range-partition sampling job and one more exchange. Nulls first, as
    * orderBy would put them.
    */
  def provinceJson(spark: SparkSession, sfDir: String, date: String): String = {
    val rows = provinceAmounts(spark, sfDir, date)
      .collect()
      .sortBy(r => Option(r.getString(0)))
      .map(r => s"""{"name":"${r.getString(0)}","value":${r.getDouble(1)}}""")
    s"""{"status":0,"data":{"mapData":[${rows.mkString(",")}],"valueName":"order_amount"}}"""
  }

  // ------------------------------------------------------------------ DWS
  // The reference's actual serving split: the publisher never scans facts —
  // it reads pre-aggregated ClickHouse dws_* tables
  // (PUB/mapper/TradeStatMapper.java:15-20 FROM dws_trade_province_order
  // _window). The Spark analog: materialize the q54 window output
  // date-partitioned, and serve day queries from it with a one-directory
  // scan. ServingSpec asserts partitionCount == 1.

  /** Writes the q54 DWS province-order-window output as a date-partitioned
    * parquet table (partition column `dt` = the window's day) — run by the
    * batch/streaming pipeline, read by the serving endpoints below.
    */
  def writeDwsProvinceWindow(spark: SparkSession, sfDir: String, path: String): Unit =
    graft.pipelines.Pipelines.provinceOrderWindow(spark, sfDir)
      .withColumn("dt", to_date(substring(col("stt"), 1, 10)))
      .write.mode("overwrite").partitionBy("dt").parquet(path)

  /** The schema a read of [[writeDwsProvinceWindow]]'s table surfaces,
    * pinned so the serving reads infer nothing (ServingSpec checks it
    * against an inferring read of a written table).
    */
  val DwsSchema: StructType = StructType.fromDDL(
    "stt STRING, edt STRING, province_id BIGINT, province_name STRING, " +
      "order_amount DOUBLE, order_count BIGINT, dt DATE")

  /** One day of the DWS table: only the `dt=<day>` directory is listed
    * and read (schema pinned, `basePath` keeps `dt` a partition column),
    * so a request costs one directory however many days the table holds.
    * Nothing is cached: a day appended or rewritten is seen by the next
    * request. A day with no partition is the empty table; a missing table
    * fails.
    */
  private def dwsDayFrame(spark: SparkSession, dwsPath: String, date: String): DataFrame = {
    val day = LocalDate.parse(date, DateTimeFormatter.BASIC_ISO_DATE)
    val dir = new Path(dwsPath, s"dt=$day")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (fs.exists(dir))
        spark.read.schema(DwsSchema).option("basePath", dwsPath).parquet(dir.toString)
      else {
        require(fs.exists(new Path(dwsPath)), s"DWS table $dwsPath does not exist")
        spark.createDataFrame(java.util.List.of[Row](), DwsSchema)
      }
    df.filter(dwsDay(date))
  }

  /** `dt = day` against the DATE-typed partition column: lands in the
    * scan's PartitionFilters.
    */
  private def dwsDay(date: String) =
    col("dt") === to_date(lit(date), "yyyyMMdd")

  /** GET /gmv served from the DWS table: one day's partition, then a sum
    * of that day's pre-aggregated 10 s windows — the serving query touches
    * O(day's windows) rows however large the fact history grows.
    */
  def gmvFromDws(spark: SparkSession, dwsPath: String, date: String): DataFrame =
    dwsDayFrame(spark, dwsPath, date)
      .agg(coalesce(sum(col("order_amount")), lit(0.0))
        .cast("double").as("gmv"))

  /** GET /province served from the DWS table: one day's partition rolled
    * up from 10 s windows to per-province day totals.
    */
  def provinceAmountsFromDws(
      spark: SparkSession, dwsPath: String, date: String): DataFrame =
    dwsDayFrame(spark, dwsPath, date)
      .groupBy(col("province_name"))
      .agg(sum(col("order_amount")).cast("double").as("order_amount"))
}
