package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingMixture ≡ batch q147 (round-11 VERDICT directive #5): an
  * arriving batch updates the per-source surviving-token mixture without a
  * corpus rescan, with exact retraction when a late arrival bridges
  * components.
  */
class StreamingMixtureSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private type MixRow = (Option[String], Long, Long, Long, Long, Option[Long])

  private def rowsOf(df: DataFrame): Set[MixRow] =
    df.collect().map(r => (Option(r.getString(0)), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4),
      if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet

  private def q147(dir: String): Set[MixRow] =
    rowsOf(graft.SparkEntry.queries("q147_post_dedup_mixture")(spark, dir))

  private def docsSorted: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def batchesBy(asc: Boolean, n: Int): Seq[DataFrame] = {
    val ids = docsSorted.select("doc_id").collect().map(_.getLong(0)).sorted
    val ordered = if (asc) ids else ids.reverse
    ordered.grouped((ids.length + n - 1) / n).toSeq.map { chunk =>
      docsSorted.filter(col("doc_id").isin(chunk.toSeq: _*))
        .select(col("doc_id"), col("source"), col("text"))
    }
  }

  test("in-order ingest: streamed mixture equals batch q147 after EVERY " +
    "prefix (incremental correctness, not just final agreement)") {
    val st = StreamingMixture.state(spark)
    val batches = batchesBy(asc = true, n = 3)
    val maxIds = batches.map(_.agg(max("doc_id")).head().getLong(0))
    batches.zip(maxIds).zipWithIndex.foreach { case ((b, maxId), i) =>
      st.ingest(b)
      // batch q147 on the same prefix corpus, staged in its own dir
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_mix_prefix_$i").toString
      docsSorted.filter(col("doc_id") <= maxId)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      assert(rowsOf(st.mixture()) == q147(dir),
        s"prefix ${i + 1}/${batches.size} diverged from batch q147")
    }
  }

  test("adversarial descending ingest: every component's min arrives " +
    "LAST (maximal retraction) — final mixture still equals batch q147") {
    val st = StreamingMixture.state(spark)
    val batches = batchesBy(asc = false, n = 4)
    // survivors after the first batch, by doc — some must FLIP to
    // duplicate later (their component's true min has not arrived yet)
    st.ingest(batches.head)
    val earlySurvivors = st.ledgerFrame
      .filter(col("rep") === col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    batches.tail.foreach(st.ingest)
    assert(rowsOf(st.mixture()) == q147(sfDir))
    val finalSurvivorsOfEarly = st.ledgerFrame
      .filter(col("doc_id").isin(earlySurvivors.toSeq: _*) &&
        col("rep") === col("doc_id"))
      .count()
    // retraction really happened: the corpus has near-dup components that
    // span batches, and under descending arrival their minima arrive after
    // their members — so some early survivor must have been retracted
    assert(finalSurvivorsOfEarly < earlySurvivors.size,
      "no survivor was ever retracted — the adversarial leg exercised " +
        "nothing (corpus drift? batch split too coarse?)")
  }

  test("foreachBatch wiring: the same ingest runs under a real " +
    "StreamingQuery and matches batch q147") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val st = StreamingMixture.state(spark)
    val q = st.attach(input.toDS().toDF("doc_id", "source", "text"))
    try {
      val rows = docsSorted.select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      rows.grouped(200).foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      assert(rowsOf(st.mixture()) == q147(sfDir))
    } finally q.stop()
  }

  test("kill-and-resume: a state restored from the two durable stores " +
    "continues ingesting and matches batch q147 (one-scan restart)") {
    val batches = batchesBy(asc = true, n = 4)
    val st1 = StreamingMixture.state(spark)
    batches.take(2).foreach(st1.ingest)
    // "crash": rebuild from the persisted stores (round-trip through
    // parquet, as a deployment's checkpoint would)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mix_resume_").toString
    st1.bandsFrame.write.parquet(s"$dir/bands")
    st1.ledgerFrame.write.parquet(s"$dir/ledger")
    val st2 = StreamingMixture.restore(spark,
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/ledger"))
    assert(rowsOf(st2.mixture()) == rowsOf(st1.mixture()),
      "restored aggregates diverge from the live state's")
    batches.drop(2).foreach(st2.ingest)
    assert(rowsOf(st2.mixture()) == q147(sfDir))
  }

  test("durable-store deployment shape: bands/ledger persisted to parquet " +
    "EACH batch (overwrite, the MERGE-table analog); kill, restore from " +
    "the FILES mid-stream, continue — final mixture equals batch q147") {
    val batches = batchesBy(asc = true, n = 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft_mix_durable_").toString
    def persist(st: StreamingMixture.MixtureState): Unit = {
      st.bandsFrame.write.mode("overwrite").parquet(s"$root/bands")
      st.ledgerFrame.write.mode("overwrite").parquet(s"$root/ledger")
    }
    val st1 = StreamingMixture.state(spark)
    batches.take(2).foreach { b => st1.ingest(b); persist(st1) }
    // "crash": the live state is gone; the ONLY inputs to the restore are
    // the files the per-batch persist left behind
    val st2 = StreamingMixture.restore(spark,
      spark.read.parquet(s"$root/bands"),
      spark.read.parquet(s"$root/ledger"))
    assert(rowsOf(st2.mixture()) == rowsOf(st1.mixture()),
      "restore from the persisted FILES diverges from the live state")
    // the crash window foreachBatch actually has: ingest + persist
    // SUCCEEDED but the streaming checkpoint commit did not, so the
    // restarted query RE-DELIVERS the last batch — the idempotent skip
    // must absorb it without double-counting
    st2.ingest(batches(1))
    assert(rowsOf(st2.mixture()) == rowsOf(st1.mixture()),
      "re-delivered last batch after restore must be a no-op skip")
    // restore eagerly materializes (loadFrom localCheckpoints), so the
    // continued per-batch overwrites of the SAME paths must not corrupt it
    batches.drop(2).foreach { b => st2.ingest(b); persist(st2) }
    assert(rowsOf(st2.mixture()) == q147(sfDir))
    // and the final persisted files themselves restore to the same state
    // (what the NEXT restart would read)
    val st3 = StreamingMixture.restore(spark,
      spark.read.parquet(s"$root/bands"),
      spark.read.parquet(s"$root/ledger"))
    assert(rowsOf(st3.mixture()) == q147(sfDir))
  }

  test("doc_id re-use handling: a WHOLE-batch replay is an idempotent " +
    "no-op skip (foreachBatch re-delivers the last batch after a crash " +
    "— throwing would crash-loop the resumed stream); partial overlap " +
    "and batch-internal duplicates fail loud") {
    import spark.implicits._
    val st = StreamingMixture.state(spark)
    st.ingest(Seq((1L, "a", "x y z"), (2L, "b", "p q")).toDF(
      "doc_id", "source", "text"))
    val before = rowsOf(st.mixture())
    // whole-batch replay: every id already ingested → skip, unchanged
    st.ingest(Seq((1L, "a", "x y z"), (2L, "b", "p q")).toDF(
      "doc_id", "source", "text"))
    assert(rowsOf(st.mixture()) == before,
      "an idempotent replay skip must leave the accounting untouched")
    // same ids, DIFFERENT content: an upstream id-counter reset shipping
    // NEW documents under old ids — the content fingerprint is what keeps
    // the skip from silently dropping them
    val reset = intercept[IllegalStateException] {
      st.ingest(Seq((1L, "a", "completely new text"),
        (2L, "b", "also new")).toDF("doc_id", "source", "text"))
    }
    assert(reset.getMessage.contains("fingerprints differ"))
    // partial overlap: id reuse, not a batch replay — refuse
    val partial = intercept[IllegalStateException] {
      st.ingest(Seq((2L, "b", "p q"), (9L, "c", "r s")).toDF(
        "doc_id", "source", "text"))
    }
    assert(partial.getMessage.contains("doc_id reuse"))
    val internal = intercept[IllegalStateException] {
      st.ingest(Seq((7L, "a", "m n"), (7L, "a", "m n")).toDF(
        "doc_id", "source", "text"))
    }
    assert(internal.getMessage.contains("duplicate doc_id"))
    assert(rowsOf(st.mixture()) == before,
      "a refused batch must leave the accounting untouched")
  }

  test("hot-bucket pairwork guard: a mass-duplicated batch warns by " +
    "default, fails under the harness conf; a balanced batch passes") {
    import spark.implicits._
    // 80 identical docs → every band bucket holds all 80 → candidate
    // pairwork ≈ 4 bands × 80·79/2 ≈ 158/doc, over the 64/doc threshold
    val hot = (1L to 80L).map(i => (i, "a", "same text every time"))
      .toDF("doc_id", "source", "text")
    withConfs("graft.mixture.pairworkGuard" -> "fail") {
      val e = intercept[IllegalStateException] {
        StreamingMixture.state(spark).ingest(hot)
      }
      assert(e.getMessage.contains("hot-bucket guard") &&
        e.getMessage.contains("StreamingLsh"),
        s"guard message must name the capped trade: ${e.getMessage}")
      // the balanced corpus sails through under the same fail conf
      val st = StreamingMixture.state(spark)
      batchesBy(asc = true, n = 3).foreach(st.ingest)
      assert(rowsOf(st.mixture()) == q147(sfDir))
    }
    // default mode: warn — the ingest completes and stays correct
    val st = StreamingMixture.state(spark)
    st.ingest(hot)
    val m = st.mixture().collect()
    assert(m.length == 1 && m(0).getLong(2) == 1L,
      "80 identical docs must collapse to one survivor")
  }

  test("state-frame stats do NOT compound across batches: the sizeInBytes " +
    "estimate stays bounded however many batches arrive (round-13 fix — " +
    "localCheckpoint's preserved origin stats SQUARED per batch and " +
    "wedged the stream thread in BigInteger.multiply by ~batch 12)") {
    import spark.implicits._
    val st = StreamingMixture.state(spark)
    val bits = (1 to 8).map { k =>
      st.ingest(Seq.tabulate(4)(i =>
        (k * 100L + i, "s", s"tok${k}a tok${k}b tok$i"))
        .toDF("doc_id", "source", "text"))
      st.ledgerFrame.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    }
    // compounding doubles the bit-length per batch (20 → 40 → 80 → ...);
    // a stats-reset leaf keeps it flat at the default-estimate width
    assert(bits.last < 128,
      s"state stats grew to ${bits.last} bits after 8 batches " +
        s"(trajectory: ${bits.mkString(",")}) — origin-stats compounding " +
        "is back; the stream thread will wedge in BigInteger.multiply " +
        "at real batch counts")
  }

  test("an unrecognized pairworkGuard mode throws instead of silently " +
    "degrading to warn (a typo'd 'fail' must not disarm the harness)") {
    import spark.implicits._
    withConfs("graft.mixture.pairworkGuard" -> "FAIL") {
      val e = intercept[IllegalArgumentException] {
        StreamingMixture.state(spark).ingest(
          Seq((1L, "a", "x y z")).toDF("doc_id", "source", "text"))
      }
      assert(e.getMessage.contains("off|warn|fail"))
    }
  }

  test("an empty micro-batch is a NO-OP: no ledger rewrite, no empty band " +
    "segment appended, accounting untouched") {
    import spark.implicits._
    val st = StreamingMixture.state(spark)
    st.ingest(Seq((1L, "a", "x y z"), (2L, "b", "p q")).toDF(
      "doc_id", "source", "text"))
    val before = rowsOf(st.mixture())
    val partsBefore = st.bandsFrame.rdd.getNumPartitions
    st.ingest(Seq.empty[(Long, String, String)].toDF(
      "doc_id", "source", "text"))
    assert(rowsOf(st.mixture()) == before)
    assert(st.bandsFrame.rdd.getNumPartitions == partsBefore,
      "an empty batch appended a band segment")
  }

  test("band-index compaction keeps the index partition count BOUNDED " +
    "across compaction cycles (the compacted leaf coalesces back to " +
    "defaultParallelism; without it each cycle bakes ~compactAt extra " +
    "partitions in forever) — and stays correct through compactions") {
    import spark.implicits._
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val st = new StreamingMixture.MixtureState(spark, compactAt = 3)
    val partsAfter = (1 to 12).map { k =>
      st.ingest(Seq.tabulate(3)(i =>
        (k * 100L + i, "s", s"w${k}a w${k}b w$i"))
        .toDF("doc_id", "source", "text"))
      st.bandsFrame.rdd.getNumPartitions
    }
    // 12 batches at compactAt=3 → three full compaction cycles; the
    // bound must not drift upward cycle over cycle
    val bound = spark.sparkContext.defaultParallelism + st.compactAt + 1
    assert(partsAfter.max <= bound,
      s"band index reached ${partsAfter.max} partitions " +
        s"(trajectory: ${partsAfter.mkString(",")}; bound $bound) — " +
        "compaction is accumulating partitions instead of bounding them")
    // the STORAGE bound too (delta — the shared session carries staged
    // frames from other tests): however many batches ran, this state's
    // live persistent frames are the ≤compactAt+1 band segments + one
    // ledger copy (+ slack) — superseded copies and per-batch temps must
    // have been released, not left to driver GC
    val grew = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    val storageBound = st.compactAt + 6
    assert(grew <= storageBound,
      s"$grew persistent RDDs accumulated over 12 ingests " +
        s"(bound $storageBound) — superseded state copies are " +
        "accumulating instead of releasing")
    // correctness through maximal compaction churn on the REAL fixture:
    // compact after every batch, adversarial descending arrival
    val st2 = new StreamingMixture.MixtureState(spark, compactAt = 1)
    batchesBy(asc = false, n = 4).foreach(st2.ingest)
    assert(rowsOf(st2.mixture()) == q147(sfDir),
      "per-batch compaction diverged from batch q147")
  }

  test("zero-surviving-token corpus: mix_ppm is NULL, never a crash — " +
    "q147's zero-guard, shared") {
    import spark.implicits._
    val st = StreamingMixture.state(spark)
    st.ingest(Seq((1L, "a", null.asInstanceOf[String]),
      (2L, "b", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text"))
    val m = st.mixture().collect()
    assert(m.length == 2)
    assert(m.forall(_.isNullAt(5)), "mix_ppm must be NULL at zero tokens")
    assert(m.forall(r => r.getLong(2) == 1L)) // gram-less docs survive
  }
}
