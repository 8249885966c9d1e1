package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared ingest protocol on tiny in-memory frames: the replay
  * guard's five outcomes, the two-phase commit's failure path, and a
  * versioned store across compaction.
  */
class StateFramesSpec extends SparkSpec {

  private val kvSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("seq", LongType),
    StructField("v", StringType)))

  private def rows(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def kv(rs: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_id", "seq", "v")
  }

  test("admit: duplicate ids and doc_id reuse throw; empty and replayed " +
    "batches return 0; a fresh batch returns its size") {
    import spark.implicits._
    val seen = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "fp")
    def admit(docs: (Long, Long)*): Long =
      StateFrames.admit("Op", docs.toDF("doc_id", "fp"), seen)
    def refusal(docs: (Long, Long)*): String =
      intercept[IllegalStateException](admit(docs: _*)).getMessage

    val dup = refusal((5L, 1L), (5L, 1L))
    assert(dup.startsWith("Op:") && dup.contains("duplicate doc_id") &&
      dup.contains("unique"), dup)
    assert(admit() == 0L)
    assert(admit((1L, 10L), (2L, 20L)) == 0L)
    val drift = refusal((1L, 10L), (2L, 99L))
    assert(drift.startsWith("Op:") && drift.contains("fingerprints differ") &&
      drift.contains("doc_id reuse"), drift)
    val partial = refusal((2L, 20L), (3L, 30L))
    assert(partial.startsWith("Op:") && partial.contains("partial overlap") &&
      partial.contains("doc_id reuse"), partial)
    assert(admit((3L, 30L), (4L, 40L)) == 2L)
  }

  test("prepareAll: a later store's throw releases the segments already " +
    "built and leaves every store unchanged") {
    val a = new StateFrames.SegmentedStore(spark, kvSchema, 32, Seq("doc_id"))
    val b = new StateFrames.SegmentedStore(spark, kvSchema, 32, Seq("doc_id"))
    StateFrames.commitAll(StateFrames.prepareAll(Seq(
      a -> kv((1L, 1L, "a1")), b -> kv((1L, 1L, "b1")))))
    val (aBefore, bBefore) = (rows(a.frame), rows(b.frame))
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet.toSet

    val poisoned = kv((2L, 2L, "b2"))
      .withColumn("v", raise_error(lit("poisoned segment")).cast("string"))
    val e = intercept[Exception](StateFrames.prepareAll(Seq(
      a -> kv((2L, 2L, "a2")), b -> poisoned)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("poisoned segment")),
      e.toString)
    // a's new segment materialized before b threw; its blocks are gone
    val orphans = sc.getPersistentRDDs.keySet.toSet -- persisted
    assert(orphans.isEmpty, s"orphaned segment RDDs: $orphans")
    assert(rows(a.frame) == aBefore && rows(b.frame) == bBefore)
  }

  test("a versioned store keeps the latest version across a compaction") {
    val s = new StateFrames.SegmentedStore(spark, kvSchema, 2, Seq("doc_id"))
    Seq(kv((1L, 1L, "old"), (2L, 1L, "x")), kv((1L, 2L, "new")),
        kv((3L, 3L, "y")))
      .foreach(df => StateFrames.commitAll(StateFrames.prepareAll(
        Seq(s -> df))))
    val live = Set((1L, 2L, "new"), (2L, 1L, "x"), (3L, 3L, "y"))
    assert(rows(s.latest) == live)
    // the third commit compacted past compactAt = 2: dead versions are gone
    assert(rows(s.frame) == live)
    assert(rows(s.latestOf(kv((1L, 0L, "")).select(col("doc_id")))) ==
      Set((1L, 2L, "new")))
    assert(s.maxSeq == 3L)
  }
}
