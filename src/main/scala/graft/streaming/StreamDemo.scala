package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end Structured Streaming drive of the minimum GMV slice (SURVEY.md
  * §7.3): file-source stream over the events table → stateful first-order
  * dedup (ST4) → watermarked tumbling window aggregate (W2/W4/A1/A5) →
  * in-memory DWS table → serving query (Q1 semantics).
  *
  * Usage: runMain graft.streaming.StreamDemo [sfDir]. Prints row counts per
  * stage; exits nonzero if the pipeline produced no rows.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    import spark.implicits._

    // File-source stream: the batch events table replayed as a stream, the
    // same way a Kafka topic would arrive (S1/S2 analog; SURVEY §1.5).
    // ts arrives already normalized to session-TZ TimestampType — the
    // encoding dispatch lives in Sources.fileStream via Tables.normalizeTs.
    val raw = graft.sources.Sources.fileStream(spark, sfDir, "events")

    val orders = raw
      .filter($"event_type" === "purchase")
      .select($"user_id".cast("string").as("userId"),
        $"value".as("amount"), $"ts")
      .as[OrderEvt]

    // ST4: per-user first-order-of-day flag, then W2+W4+A1: 10 s tumbling
    // windows of amount sums + order-UU counts.
    val flagged = StatefulOps.firstOrderOfDay(orders)
    val dws = StatefulOps.tumblingAgg(
      flagged.toDF(), "ts", "3 seconds", "10 seconds",
      keys = Seq(),
      aggs = Seq(
        sum($"amount").as("order_amount"),
        sum($"orderUu").as("order_uu_ct"),
        count(lit(1)).as("order_ct")))

    val q = dws.writeStream
      .format("memory").queryName("dws_trade_order_window")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dws_trade_order_window").count()
    // Q1 serving semantics over the DWS result (gmv per day bucket).
    val gmv = spark.table("dws_trade_order_window")
      .groupBy(date_format($"stt", "yyyyMMdd").as("dt"))
      .agg(sum($"order_amount").as("gmv"))
      .count()

    // Second vertical: the DIM layer streaming over the same source —
    // Maxwell envelope encode → config-routed per-dim sinks (S3 + J5/P9 +
    // K4/K5/K6), ref RT/app/dim/DimApp.java:76-178.
    val dimOut = java.nio.file.Files.createTempDirectory("dims").toString
    val dimCkpt = java.nio.file.Files.createTempDirectory("dimck").toString
    val cdcJson = graft.model.Envelopes.maxwellFromEvents(raw)
      .select($"value_json")
    val router = DimRouter.run(cdcJson,
      () => Seq(
        DimRouter.TableConfig("order_info", "dim_order_info", Seq("id", "user_id")),
        DimRouter.TableConfig("user_info", "dim_user_info", Seq("id"))),
      dimOut, dimCkpt)
    router.processAllAvailable()
    router.stop()
    val dimRows = spark.read.parquet(s"$dimOut/dim_order_info").count()
    val dimUsers = spark.read.parquet(s"$dimOut/dim_user_info").count()

    // Third vertical: the DWD-log topology driven end-to-end with a
    // checkpoint — D1 five-way split, then ST1 new-visitor repair feeding
    // the tokenizer keyword window (ref RT/app/dwd/log/DwdTrafficBaseLog
    // Split.java:148-237 → RT/app/dws/DwsTrafficSourceKeywordPageView
    // Window.java:21-83). Per-micro-batch split ≡ batch q26 is asserted in
    // DwdLogStreamSpec; this drives the composed stream on real data.
    val logCkpt = java.nio.file.Files.createTempDirectory("logck").toString
    val logParsed = graft.model.Envelopes.parseLog(
      graft.model.Envelopes.logFromEvents(raw))
    // foreachBatch accumulators are keyed by batchId and OVERWRITTEN, not
    // incremented: a retried micro-batch (at-least-once semantics) replays
    // its batchId, so assignment is idempotent where += double-counts.
    // TrieMap because foreachBatch runs on the stream-execution thread and
    // the totals are read on the main thread after stop().
    val splitCounts = scala.collection.concurrent.TrieMap.empty[(Long, String), Long]
    val splitQ = DwdLogStream.split(logParsed).writeStream
      .option("checkpointLocation", s"$logCkpt/split")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.groupBy("stream").count().collect().foreach { r =>
          splitCounts((id, r.getString(0))) = r.getLong(1)
        }
        ()
      }.start()
    splitQ.processAllAvailable()
    splitQ.stop()
    def splitTotal(stream: String): Long =
      splitCounts.collect { case ((_, s), n) if s == stream => n }.sum

    val kwBatches = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val kwQ = DwdLogStream.keywordWindow(
        StatefulOps.newVisitorRepair(DwdLogStream.pageViews(logParsed)))
      .writeStream
      .option("checkpointLocation", s"$logCkpt/kw")
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        kwBatches(id) = b.count()
        ()
      }.start()
    kwQ.processAllAvailable()
    kwQ.stop()
    val kwRows = kwBatches.values.sum

    // Fourth vertical: streaming corpus ingest — the documents table
    // replayed as an unbounded feed, deduped by content fingerprint across
    // micro-batches (bounded state via the watermark horizon), then
    // token-counted: the training-data pipeline's ingest front door.
    val corpusBatches = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
    val corpusQ = StatefulOps.streamingExactDedup(
        graft.sources.Sources.fileStream(spark, sfDir, "documents")
          // +3600: an event sitting exactly on the initial watermark
          // (epoch 0) is dropped as late, so doc_id 0 silently vanished
          // before this offset (corpus_rows read 499 of 500)
          .withColumn("ts", timestamp_seconds(col("doc_id") + 3600L))
          .withColumn("fp", md5(col("text"))),
        "fp", "ts", "10 minutes")
      .select(col("doc_id"),
        size(split(lower(col("text")), "[^\\p{L}\\p{Nd}]+")).cast("long")
          .as("n_tokens"))
      .writeStream
      .option("checkpointLocation", s"$logCkpt/corpus")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        corpusBatches(id) = (b.count(),
          Option(b.agg(sum("n_tokens")).head().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L))
        ()
      }.start()
    corpusQ.processAllAvailable()
    corpusQ.stop()
    val corpusRows = corpusBatches.values.map(_._1).sum
    val corpusTokens = corpusBatches.values.map(_._2).sum

    // Fifth vertical: the DWS province window WITH its lateness metric
    // (DwsTradeStream) — the drop-rate leg the reference's silent 3 s
    // slack never exposes, emitted as a pipeline output alongside the
    // windowed aggregate (two sinks, one source). The metric leg ENFORCES
    // per-key arrival order across micro-batches (lateDropFlags fails
    // fast on a regression), so this vertical reads all part files in
    // ONE batch — a multi-part events table whose files interleave
    // per-user event ids must not crash the demo; a real Kafka ingest
    // delivers per-key in order and would stream batch-by-batch.
    val rawOneBatch = graft.sources.Sources
      .fileStream(spark, sfDir, "events", maxFilesPerTrigger = Int.MaxValue)
    val provOrders = rawOneBatch.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value".as("amount"))
    val (provAgg, lateMarks) = DwsTradeStream.provinceOrderWindow(provOrders)
    val provQ = provAgg.writeStream
      .format("memory").queryName("dws_province_window")
      .outputMode("append").start()
    val lateQ = lateMarks.toDF().writeStream
      .format("memory").queryName("dws_province_late")
      .outputMode("append").start()
    provQ.processAllAvailable(); lateQ.processAllAvailable()
    provQ.stop(); lateQ.stop()
    val provRows = spark.table("dws_province_window").count()
    val (lateSeen, lateDropped) = DwsTradeStream
      .dropRate(spark.table("dws_province_late"))
      .agg(sum("n_events"), sum("n_late")).head() match {
        case r if r.isNullAt(0) => (0L, 0L)
        case r => (r.getLong(0), r.getLong(1))
      }

    // Sixth vertical: ingest-time Bloom decontamination (StreamingDecon)
    // — every arriving document probed in-row against the held-out gram
    // filter, a stateless projection with kilobytes of broadcast state.
    val benchBloom = StreamingDecon.buildBloom(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter($"doc_id" < 10).select($"doc_id", $"text"))
    val deconBatches = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
    val deconQ = StreamingDecon.flag(
        graft.sources.Sources.fileStream(spark, sfDir, "documents")
          .select($"doc_id", $"text"), benchBloom)
      .writeStream
      .option("checkpointLocation", s"$logCkpt/decon")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        deconBatches(id) = (b.count(), b.filter(col("contaminated") === 1).count())
        ()
      }.start()
    deconQ.processAllAvailable()
    deconQ.stop()
    val deconRows = deconBatches.values.map(_._1).sum
    val deconFlagged = deconBatches.values.map(_._2).sum

    // Seventh vertical: streaming ANN ingest + serving (StreamingAnn) —
    // arriving vectors PQ-encoded and routed to IVF lists in-row (the
    // index grows as a stateless projection), then the query vectors
    // served per-micro-batch against the ingested index with q128's ADC.
    val annM = graft.queries.SimilarityOps.annModel(spark, sfDir)
    val annQ = StreamingAnn.ingest(
        graft.sources.Sources.fileStream(spark, sfDir, "embeddings")
          .filter($"vec_id" >= 5)
          .withColumnRenamed("vec_id", "neighbor_id"),
        "neighbor_id", annM)
      .writeStream.format("memory").queryName("ann_lists")
      .outputMode("append").start()
    annQ.processAllAvailable()
    annQ.stop()
    val annLists = spark.table("ann_lists")
    val annIndexRows = annLists.count()
    val annServed = StreamingAnn.serveTopK(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter($"vec_id" < 5).select($"vec_id", $"embedding"),
        "vec_id", annLists, annM)
      .count()

    // Eighth vertical: streaming quantile-sketch ingest (StreamingSketch)
    // — per-(lang, bucket) counts accumulate as streaming-agg state
    // (bounded by strata × ~100 buckets at ANY ingest volume; complete
    // mode emits the sketch-sized state each trigger), and quantile
    // estimates are served from the stored sketch, never from raw data.
    val sketchQ = StreamingSketch.sketch(
        graft.sources.Sources.fileStream(spark, sfDir, "documents")
          .select($"lang", $"n_chars"))
      .writeStream.format("memory").queryName("sketch_state")
      .outputMode("complete").start()
    sketchQ.processAllAvailable()
    sketchQ.stop()
    val sketchBuckets = spark.table("sketch_state").count()
    val sketchLangs = StreamingSketch
      .estimates(spark.table("sketch_state"))
      .filter($"est_p50" > 0).count()

    // Ninth vertical: streaming cluster assignment + occupancy
    // (StreamingCluster) — the offline-refined q141 centroid model ships
    // as a plan literal; arriving vectors are argmin-assigned in-row
    // (batch tie rules) and the only state is ≤K occupancy counters —
    // the drift monitor a frozen clustering needs during corpus ingest.
    val clusterM = StreamingCluster.model(spark, sfDir)
    val clusterQ = StreamingCluster.occupancy(
        graft.sources.Sources.fileStream(spark, sfDir, "embeddings"),
        clusterM)
      .writeStream.format("memory").queryName("cluster_occ")
      .outputMode("complete").start()
    clusterQ.processAllAvailable()
    clusterQ.stop()
    val clusterCids = spark.table("cluster_occ").count()
    val clusterVecs = spark.table("cluster_occ")
      .agg(coalesce(sum($"n_members"), lit(0L))).collect()(0).getLong(0)

    val splitStr = Seq("err", "start", "page", "display", "action")
      .map(k => s"$k=${splitTotal(k)}").mkString(",")
    println(s"STREAMDEMO dws_rows=$rows gmv_days=$gmv " +
      s"dim_order_rows=$dimRows dim_user_rows=$dimUsers " +
      s"log_split{$splitStr} kw_rows=$kwRows " +
      s"corpus_rows=$corpusRows corpus_tokens=$corpusTokens " +
      s"province_rows=$provRows late_seen=$lateSeen late_dropped=$lateDropped " +
      s"decon_rows=$deconRows decon_flagged=$deconFlagged " +
      s"ann_index_rows=$annIndexRows ann_served=$annServed " +
      s"sketch_buckets=$sketchBuckets sketch_langs=$sketchLangs " +
      s"cluster_cids=$clusterCids cluster_vecs=$clusterVecs")
    spark.stop()
    if (rows == 0 || dimRows == 0 || kwRows == 0 || corpusRows == 0 ||
      splitTotal("page") == 0L ||
      provRows == 0 || lateSeen == 0 || deconRows == 0 ||
      deconFlagged == 0 || annIndexRows == 0 || annServed == 0 ||
      sketchBuckets == 0 || sketchLangs == 0 ||
      clusterCids == 0 || clusterVecs == 0) sys.exit(1)
  }
}
