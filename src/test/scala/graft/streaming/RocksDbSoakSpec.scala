package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Soaks the stateful operators on the RocksDB state store provider — the
  * provider a 100 TB deployment would run (per-key state off-heap, bounded
  * memory, incremental checkpoints) — and asserts output parity with the
  * default HDFS-backed provider on the same fixtures. This validates the
  * "state lives in the state store (RocksDB at scale)" posture claimed in
  * StatefulOps' scaladoc rather than assuming provider-independence.
  */
class RocksDbSoakSpec extends SparkSpec {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  private var queryId = 0

  private def runStream[I: Encoder, O: Encoder](
      batches: Seq[Seq[I]], mode: String = "append")(
      op: Dataset[I] => Dataset[O]): Seq[O] = {
    queryId += 1
    val name = s"rocks_out_$queryId"
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[I]
    val query = op(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode(mode)
      .start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    import spark.implicits._
    spark.table(name).as[O].collect().toSeq
  }

  /** Run the same streamed op under RocksDB and the default provider.
    * `mode` is "append" for watermark-closing ops, "complete" for
    * unwatermarked aggregations (the cluster twin's legs).
    */
  private def bothProviders[I: Encoder, O: Encoder](
      batches: Seq[Seq[I]], mode: String = "append")(
      op: Dataset[I] => Dataset[O]): (Seq[O], Seq[O]) = {
    val default = runStream(batches, mode)(op)
    spark.conf.set(ProviderKey, RocksProvider)
    val rocks =
      try runStream(batches, mode)(op)
      finally spark.conf.unset(ProviderKey)
    (rocks, default)
  }

  test("ST2 dailyUv with TTL: RocksDB provider matches default on a 2k-device soak") {
    import spark.implicits._
    val day = 86400L
    // 2000 devices x 3 days x 2 events/day, out-of-order within batches
    val fixture = for {
      m <- 1 to 2000; d <- 0 to 2; k <- 0 to 1
    } yield PageView(s"m$m", "home", None, 1,
      ts(d * day + (m * 13 + k * 997) % 3600))
    val batches = scala.util.Random.javaRandomToRandom(
      new java.util.Random(42)).shuffle(fixture).grouped(3000).toSeq
    val (rocks, default) = bothProviders(batches)(
      (ds: Dataset[PageView]) => StatefulOps.dailyUv(ds, ttlDays = Some(2)))
    assert(rocks.map(p => (p.mid, p.ts.getTime)).sorted ==
      default.map(p => (p.mid, p.ts.getTime)).sorted)
    assert(rocks.nonEmpty)
  }

  test("ST1 newVisitorRepair: RocksDB provider matches default across batches") {
    import spark.implicits._
    val day = 86400L
    val fixture = for {
      m <- 1 to 500; d <- 0 to 3
    } yield PageView(s"m$m", "home", None, 1, ts(d * day + m))
    val batches = fixture.grouped(400).toSeq
    val (rocks, default) = bothProviders(batches)(
      (ds: Dataset[PageView]) => StatefulOps.newVisitorRepair(ds))
    assert(rocks.map(p => (p.mid, p.ts.getTime, p.isNew)).sorted ==
      default.map(p => (p.mid, p.ts.getTime, p.isNew)).sorted)
    // repair semantics held under RocksDB: exactly one isNew=1 day per device
    assert(rocks.filter(_.isNew == 1).groupBy(_.mid).values
      .forall(_.map(p => p.ts.getTime / 86400000L).distinct.size == 1))
  }

  test("DwdLogStream multi-stateful topology: RocksDB provider matches default") {
    import graft.model.Envelopes
    import spark.implicits._
    // repair (flatMapGroupsWithState) chained into a watermarked window
    // aggregate — two state stores in one query, both on RocksDB
    val fixture = Seq(
      Seq(LogEv(1, 10, "view", """{"k":1}""", ts(5)),
        LogEv(2, 11, "click", """{"k":1}""", ts(6))),
      Seq(LogEv(3, 10, "view", """{"k":1}""", ts(15)),
        LogEv(4, 12, "purchase", """{"k":1}""", ts(16))),
      Seq(LogEv(5, 99, "view", """{"k":1}""", ts(1000))))
    def topo(ds: Dataset[LogEv]) =
      DwdLogStream.keywordWindow(
        StatefulOps.newVisitorRepair(
          DwdLogStream.pageViews(
            Envelopes.parseLog(Envelopes.logFromEvents(ds.toDF())))))
        .as[(String, String, Long)]
    val (rocks, default) = bothProviders(fixture)(topo)
    assert(rocks.sorted == default.sorted)
    assert(rocks.nonEmpty)
  }

  test("C1 bounce detection: RocksDB provider matches default") {
    import spark.implicits._
    val fixture = (1 to 300).flatMap { u =>
      // even users: a two-page session (no bounce); odd users: a lone view
      if (u % 2 == 0)
        Seq(PageView(s"u$u", "home", None, 1, ts(u)),
          PageView(s"u$u", "detail", Some("home"), 1, ts(u + 2)))
      else Seq(PageView(s"u$u", "home", None, 1, ts(u)))
    }
    val wake = Seq(PageView("zz-wake", "other", Some("home"), 0, ts(100000)),
      PageView("zz-wake2", "other", Some("home"), 0, ts(200000)))
    val batches = fixture.grouped(200).toSeq ++ Seq(wake, wake.map(p =>
      p.copy(ts = ts(300000))))
    val (rocks, default) = bothProviders(batches)(
      (ds: Dataset[PageView]) => StatefulOps.bounce(ds, 10000L))
    assert(rocks.map(_.toString).sorted == default.map(_.toString).sorted)
    assert(rocks.nonEmpty)
  }

  test("SCD2 changelog twin: RocksDB provider matches default on a 1k-key soak") {
    import spark.implicits._
    // 1000 keys x 4 versions arriving across 4 micro-batches in ts order
    val fixture = for {
      v <- 0 to 3; k <- 1 to 1000
    } yield DimVersion(k.toLong, (v * 1000 + k).toLong,
      if (v % 2 == 0) "1001" else "1003", ts(v * 3600L + k))
    val batches = fixture.grouped(1000).map(_.toSeq).toSeq
    val (rocks, default) = bothProviders(batches)(StatefulOps.scd2)
    assert(rocks.map(_.toString).sorted == default.map(_.toString).sorted)
    // 4 versions/key: 3 closed re-emissions + 4 open emissions = 7 rows/key
    assert(rocks.length == 7000)
  }

  test("lateDropFlags (DWS lateness metric leg): RocksDB provider matches " +
    "default on a disordered 1k-key soak") {
    import spark.implicits._
    // per-key mostly-increasing event times with periodic 5 s / 60 s
    // regressions — the DwsTradeStream metric leg's real input shape
    val events = (for {
      u <- 1L to 1000L
      i <- 0L until 6L
    } yield {
      val base = 100L + i * 10
      val sec =
        if (i == 2) base - 15 else if (i == 4) base - 70 else base
      Stamped(u, u * 10 + i, ts(sec))
    }).sortBy(_.eventId)
    val batches = events.grouped((events.length + 3) / 4).map(_.toSeq).toSeq
    val (rocks, default) = bothProviders(batches)(
      (ds: Dataset[Stamped]) => StatefulOps.lateDropFlags(ds, 3000L))
    assert(rocks.map(m => (m.eventId, m.late)).sorted ==
      default.map(m => (m.eventId, m.late)).sorted)
    assert(rocks.map(_.late).sum > 0)
  }

  test("StreamingAnn ingest behind the exact-dedup front: RocksDB provider " +
    "matches default on a 1.2k-vector soak with re-sends") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val m = graft.queries.SimilarityOps.annModel(spark,
      "/root/testdata/sf0.001")
    def vec(i: Long): VecRow =
      VecRow(i, Seq.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat))
    val base = (0L until 1200L).map(vec).grouped(300).map(_.toSeq).toSeq
    // at-least-once crawl: each later batch re-sends 50 vectors from the
    // previous one; the stateful exact-dedup front must keep exactly one
    // index row per vec_id (all ts within the 1 h horizon — no state GC)
    val batches = base.zipWithIndex.map { case (b, i) =>
      if (i == 0) b else base(i - 1).take(50) ++ b
    }
    // ts offset past epoch 0: the initial watermark IS 0, and an event
    // sitting exactly on the watermark is dropped as late — vec_id 0 at
    // timestamp_seconds(0) vanished before this offset
    def op(ds: Dataset[VecRow]) =
      StreamingAnn.ingest(
        StatefulOps.streamingExactDedup(
          ds.toDF().withColumn("ts", timestamp_seconds(col("vec_id") + 3600L)),
          "vec_id", "ts", "1 hour"),
        "vec_id", m)
        .select((col("vec_id") +: col("cid") +:
          (0 until 8).map(i => col(s"code_$i"))): _*)
        .as[(Long, Long, Int, Int, Int, Int, Int, Int, Int, Int)]
    val (rocks, default) = bothProviders(batches)(op)
    // vec_id is unique per row, so sorting on it is a total order
    assert(rocks.sortBy(_._1) == default.sortBy(_._1))
    val missing = (0L until 1200L).toSet -- rocks.map(_._1)
    assert(rocks.length == 1200 && rocks.map(_._1).distinct.length == 1200,
      s"missing ids: $missing; dupes: ${rocks.groupBy(_._1).filter(_._2.size > 1).keys}")
  }

  test("StreamingLsh pair emitter: RocksDB provider matches default on the corpus") {
    import spark.implicits._
    val hits = StreamingLsh.bandAssignments(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents"))
      .collect().sortBy(_.docId)
    val batches = hits.grouped((hits.length + 2) / 3).map(_.toSeq).toSeq
    val (rocks, default) = bothProviders(batches)(
      (ds: Dataset[BandHit]) => StreamingLsh.pairs(ds))
    assert(rocks.map(p => (p.i, p.j)).sorted == default.map(p => (p.i, p.j)).sorted)
    assert(rocks.nonEmpty)
  }

  test("windowed sketch dedup state: RocksDB provider matches default on a 500-user soak") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val day = 86400L
    // 500 users x 3 days x 2 event types, repeats within a day (the dedup
    // state's job), shuffled within each day batch; a far-future wake
    // event closes every window. Days start at d=1: an event whose
    // day-truncated time is epoch 0 sits exactly ON the initial
    // watermark and is dropped as late (the StreamDemo +3600 gotcha).
    val fixture = for {
      u <- 1 to 500; d <- 1 to 3; t <- Seq("view", "click"); k <- 0 to 1
    } yield (ts(d * day + (u * 31 + k * 911) % day), u.toLong, t)
    val byDay = fixture.groupBy(_._1.getTime / (day * 1000)).toSeq
      .sortBy(_._1).map(_._2.sortBy(r => (r._2 * 7919) % 1000))
    val batches = byDay :+ Seq((ts(40 * day), 999999L, "wake"))
    def op(ds: Dataset[(Timestamp, Long, String)]) =
      StreamingSketch.windowedOccupancy(
          ds.toDF("ts", "user_id", "event_type"))
        .select(col("day"), col("event_type"), col("occupied"), col("lc_est"))
        .as[(String, String, Long, Option[Long])]
    val (rocks, default) = bothProviders(batches)(op)
    assert(rocks.sorted == default.sorted)
    // 3 closed days x 2 types, each with all 500 users seen
    assert(rocks.length == 6 && rocks.forall(_._3 > 400), s"unexpected: $rocks")
  }

  test("cluster occupancy + model-update state: RocksDB provider matches " +
    "default and batch q141 on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val m = StreamingCluster.model(spark, sfDir)
    val corpus = graft.Tables(spark, sfDir, "embeddings")
      .as[VecRow].collect().sortBy(_.vec_id)
    val batches = corpus.grouped(125).map(_.toSeq).toSeq

    val (occR, occD) = bothProviders(batches, mode = "complete")(
      (ds: Dataset[VecRow]) => {
        import spark.implicits._
        StreamingCluster.occupancy(ds.toDF(), m).as[(Long, Long)]
      })
    assert(occR.sortBy(_._1) == occD.sortBy(_._1))
    val q141 = graft.SparkEntry.queries("q141_kmeans_refine")(spark, sfDir)
      .select(col("cid"), col("n_members"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(occR.toMap == q141)

    val (updR, updD) = bothProviders(batches, mode = "complete")(
      (ds: Dataset[VecRow]) => {
        import spark.implicits._
        StreamingCluster.updateState(ds.toDF(), m).as[(Long, Seq[Long], Long)]
      })
    assert(updR.sortBy(_._1) == updD.sortBy(_._1))
    assert(updR.map(t => t._1 -> t._3).toMap == q141)
  }
}
