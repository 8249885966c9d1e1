package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `Tables` relation catalog: a table is resolved once per (session,
  * dir, table) while its path's status is unchanged, every call still
  * gets fresh attribute ids, and a rewritten table is re-resolved.
  */
class TablesCatalogSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** sf0.001-sized tables (1,500 orders over 150 customers), written
    * into a fresh directory as `orders.parquet` and `customer.parquet`.
    */
  private def tablesDir(prefix: String): String = {
    val dir = tempDir(prefix)
    orders.write.parquet(s"$dir/orders.parquet")
    spark.range(150).select(col("id").as("c_custkey"), (col("id") % 25).as("c_nationkey"))
      .write.parquet(s"$dir/customer.parquet")
    dir
  }

  private def orders: DataFrame = spark.range(1500).select(
    col("id").as("o_orderkey"), (col("id") * 7 % 150).as("o_custkey"),
    (col("id") % 1000 * 1.25).as("o_totalprice"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Spark jobs `body` launches from this thread: counted by job group,
    * then a marker job in the same group proves the listener has seen
    * every earlier job start (one listener queue delivers in order).
    */
  private def jobsLaunched(body: => Unit): Int = {
    val group = s"tables-catalog-${System.nanoTime()}"
    val started = new AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") markerSeen.countDown()
          else started.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      started.get()
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("a second Tables call launches no Spark job") {
    val dir = tablesDir("tables_catalog_jobs_")
    val first = jobsLaunched(Tables(spark, dir, "orders"))
    assert(first >= 1, s"the first resolution should infer the schema (a job), saw $first")
    assert(jobsLaunched(Tables(spark, dir, "orders")) == 0)
    assert(jobsLaunched(Tables.parallel(spark, dir, "orders")) == 0)
  }

  test("two Tables reads of one table self-join like two independent reads") {
    val dir = tablesDir("tables_catalog_join_")
    val path = s"$dir/orders.parquet"
    val (a, b) = (Tables(spark, dir, "orders"), Tables(spark, dir, "orders"))
    val (pa, pb) = (spark.read.parquet(path), spark.read.parquet(path))
    assert(rows(a.join(b, "o_orderkey")) == rows(pa.join(pb, "o_orderkey")))
    val pairs = a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
    val parquetPairs =
      pa.join(pb, pa("o_custkey") === pb("o_custkey") && pa("o_orderkey") < pb("o_orderkey"))
    assert(pairs.count() > 0)
    assert(rows(pairs) == rows(parquetPairs))
  }

  test("a table rewritten in place is re-resolved: the next call sees the new rows") {
    val dir = tempDir("tables_catalog_rewrite_")
    val even = orders.filter(col("o_orderkey") % 2 === 0)
    val fewer = orders.filter(col("o_orderkey") % 4 === 1)
    even.write.parquet(s"$dir/orders.parquet")
    assert(rows(Tables(spark, dir, "orders")) == rows(even))
    fewer.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(rows(Tables(spark, dir, "orders")) == rows(fewer))
    assert(Tables.parallel(spark, dir, "orders").count() == fewer.count())
  }

  test("four threads resolving at once all get correct counts") {
    val dir = tablesDir("tables_catalog_threads_")
    val names = Seq("orders", "customer")
    val expected = names.map(n => n -> spark.read.parquet(s"$dir/$n.parquet").count()).toMap
    val pool = Executors.newFixedThreadPool(4)
    val wrong = new ConcurrentLinkedQueue[String]()
    try {
      (0 until 4).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 4).foreach { i =>
            val n = names((t + i) % names.size)
            try {
              val df = if (i % 2 == 0) Tables(spark, dir, n) else Tables.parallel(spark, dir, n)
              val got = df.count()
              if (got != expected(n)) wrong.add(s"thread $t call $i: $n counted $got, expected ${expected(n)}")
            } catch { case e: Throwable => wrong.add(s"thread $t call $i: $n threw $e") }
          }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS), "threads did not finish")
    }
    assert(wrong.isEmpty, wrong.asScala.mkString("\n"))
  }
}
