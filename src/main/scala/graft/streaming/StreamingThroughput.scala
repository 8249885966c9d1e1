package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Ingest-rate measurement for the streaming twins under the RocksDB state
  * store — the provider a 1000-executor deployment runs. The batch family
  * has measured 10× scaling exponents (ScalingBench/PERF.md); this is the
  * same discipline for the ingest operators: rows/s at a 1× and a 10×
  * corpus, fixed micro-batch size (a constant trigger volume — 10× data
  * means 10× triggers, the production shape), wall-clocked from first
  * addData to the last processAllAvailable return.
  *
  * Twins measured: StreamingLsh (stateful bucket members), StreamingDecon
  * (stateless in-row bloom probe), StreamingAnn ingest behind the
  * stateful exact-dedup front, and DwsTradeStream (both legs of the
  * province window + lateness metric, fed in event-time order as a real
  * per-key-ordered ingest would arrive).
  *
  * Usage: runMain graft.streaming.StreamingThroughput
  *          [scaleRoot] [eventsDirX1] [eventsDirX10]
  * defaults: /tmp/scale_docs (gen_scale_corpus.py output) and
  * /root/testdata/sf0.01 / sf0.1 for the events-fed twin. Emits CSV
  * `twin,dir,rows,secs,rows_per_sec` rows as they complete.
  */
object StreamingThroughput {

  final case class DocIn(doc_id: Long, text: String)
  final case class MixIn(doc_id: Long, source: String, text: String)
  final case class VecIn(vec_id: Long, embedding: Seq[Float])
  final case class OrderIn(event_id: Long, user_id: Long, ts: Timestamp, amount: Double)
  final case class LenIn(lang: String, n_chars: Long)

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val scaleRoot = args.lift(0).getOrElse("/tmp/scale_docs")
    val evX1 = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val evX10 = args.lift(2).getOrElse("/root/testdata/sf0.1")
    // trigger volume: at small triggers the per-micro-batch fixed cost
    // (planning + state-store commit) floors the rate, so measured rows/s
    // is a LOWER bound that rises with trigger size — measure both 1000
    // and a larger setting to see the two regimes
    val BatchRows = args.lift(3).map(_.toInt).getOrElse(1000)
    // optional twin filter (comma list) so one twin can be re-measured
    // without paying for the full sweep
    val only = args.lift(4).map(_.split(',').toSet)
    def sel(t: String): Boolean = only.forall(_.contains(t))
    val spark = graft.GraftSession.harness()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    import spark.implicits._

    /** Feed `rows` in BatchRows-sized micro-batches to every query built
      * over the shared input; returns wall seconds for the full drain.
      */
    def feed[I: Encoder](rows: Seq[I])(
        start: Dataset[I] => Seq[StreamingQuery]): Double = {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[I]
      val queries = start(input.toDS())
      val t0 = System.nanoTime()
      try {
        rows.grouped(BatchRows).foreach { b =>
          input.addData(b)
          queries.foreach(_.processAllAvailable())
        }
        (System.nanoTime() - t0) / 1e9
      } finally queries.foreach(_.stop())
    }

    def noop(df: DataFrame): StreamingQuery =
      df.writeStream.format("noop").start()

    def emit(twin: String, dir: String, rows: Int, secs: Double): Unit =
      println(f"$twin,$dir,$rows,$secs%.3f,${rows / secs}%.0f")

    def docs(dir: String): Seq[DocIn] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[DocIn]
        .collect().sortBy(_.doc_id).toSeq

    def vecsIn(dir: String): Seq[VecIn] =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).as[VecIn]
        .collect().sortBy(_.vec_id).toSeq

    // event-time order: per-key order follows, which the metric leg's
    // fail-fast cross-batch contract requires
    def orders(dir: String): Seq[OrderIn] =
      graft.Tables(spark, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          col("ts"), col("value").cast("double").as("amount"))
        .as[OrderIn].collect().sortBy(o => (o.ts.getTime, o.event_id)).toSeq

    def lsh(ds: Dataset[DocIn]) =
      Seq(noop(StreamingLsh.pairs(StreamingLsh.bandAssignments(ds.toDF())).toDF()))
    // incremental q147 mixture (foreachBatch ingest: band-index join +
    // touched-component CC + delta accounting per micro-batch)
    def mixtureT(ds: Dataset[MixIn]) =
      Seq(StreamingMixture.state(spark).attach(ds.toDF()))
    // incremental q148 source-contamination matrix (ingest keys on
    // (source, gram) — the doc_id column is ignored, so the mixture
    // corpus feeds this twin too)
    def contamT(ds: Dataset[MixIn]) =
      Seq(StreamingContamination.state(spark).attach(ds.toDF()))
    // incremental q149 span maintenance (foreachBatch ingest: flip
    // detection + touched-doc island recompute per micro-batch)
    def spansT(ds: Dataset[DocIn]) =
      Seq(StreamingSpanMerge.state(spark).attach(ds.toDF()))
    // incremental q153 first-holder novelty (foreachBatch ingest:
    // claimant-vs-holder flips + counter deltas per micro-batch)
    def noveltyT(ds: Dataset[DocIn]) =
      Seq(StreamingNovelty.state(spark).attach(ds.toDF()))
    // incremental q156 export manifest (foreachBatch ingest: all three
    // retraction arms — canonical steal + bench contamination +
    // keep-first holder flips — per micro-batch)
    def exportT(ds: Dataset[MixIn]) =
      Seq(StreamingExport.state(spark).attach(ds.toDF()))
    // incremental q159 paragraph keep-first (foreachBatch ingest:
    // claimant-vs-holder flips + token-weighted deltas per micro-batch)
    def paragraphT(ds: Dataset[DocIn]) =
      Seq(StreamingParagraph.state(spark).attach(ds.toDF()))
    // incremental q162 shard pack (foreachBatch ingest: the full export
    // twin's three arms PLUS the grant/assignment layer per micro-batch)
    def shardsT(ds: Dataset[MixIn]) =
      Seq(StreamingShards.state(spark).attach(ds.toDF()))
    // incremental q173 boilerplate (foreachBatch ingest: same-source
    // chunk df maintenance + whole-class retraction at the df=3 flip)
    def boilerT(ds: Dataset[MixIn]) =
      Seq(StreamingBoilerplate.state(spark).attach(ds.toDF()))
    def mixDocs(dir: String): Seq[MixIn] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text")).as[MixIn]
        .collect().sortBy(_.doc_id).toSeq
    def decon(bloom: Array[Long])(ds: Dataset[DocIn]) =
      Seq(noop(StreamingDecon.flag(ds.toDF(), bloom)))
    def ann(m: graft.functions.AnnModel)(ds: Dataset[VecIn]) =
      Seq(noop(StreamingAnn.ingest(
        StatefulOps.streamingExactDedup(
          ds.toDF().withColumn("ts", timestamp_seconds(col("vec_id") + 3600L)),
          "vec_id", "ts", "1 hour"),
        "vec_id", m)))
    // incremental q180 index maintenance (foreachBatch ingest: in-row
    // encode + verified cid-partitioned file append + manifest commit
    // per micro-batch) — each feed grows its own fresh published tree
    def annAppendT(m: graft.functions.AnnModel, seedDir: String)(
        ds: Dataset[VecIn]) = {
      val (path, _, _) = graft.queries.SimilarityOps.writeAnnIndex(spark,
        graft.queries.SimilarityOps.annIndexLists(spark, seedDir).limit(0),
        graft.Staging.scratchDir("graft_annappend_"),
        graft.queries.SimilarityOps.annModelFp(spark, seedDir))
      Seq(ds.toDF().writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingAnn.appendBatch(b, "vec_id", m, path, id); ()
        }.start())
    }
    // incremental tombstones (round-19): the index's DELETION stream —
    // each micro-batch of retraction ids commits a marker + exact
    // manifest arithmetic against a FULLY-GROWN index of the seed dir
    // (per-batch cost = one pushed semi-join delta measure over the
    // tree + one marker file, the honest price of exact live counts)
    def annTombT(seedDir: String)(ds: Dataset[VecIn]) = {
      val ops = graft.queries.SimilarityOps
      val (path, _, _) = ops.writeAnnIndex(spark,
        ops.annIndexLists(spark, seedDir),
        graft.Staging.scratchDir("graft_anntombtp_"),
        ops.annModelFp(spark, seedDir))
      Seq(ds.toDF().select(col("vec_id")).writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamingAnn.tombstoneBatch(b, "vec_id", path, id); ()
        }.start())
    }
    def dws(ds: Dataset[OrderIn]) = {
      val (agg, late) = DwsTradeStream.provinceOrderWindow(ds.toDF())
      Seq(noop(agg), noop(late.toDF()))
    }
    // streaming agg (state = ≤K occupancy counters): update mode
    def clusterT(m: Seq[(Long, Seq[Long])])(ds: Dataset[VecIn]) =
      Seq(StreamingCluster.occupancy(ds.toDF(), m)
        .writeStream.format("noop").outputMode("update").start())
    // heavier state leg: K rows × dims-long sum arrays (model update)
    def clusterUpdT(m: Seq[(Long, Seq[Long])])(ds: Dataset[VecIn]) =
      Seq(StreamingCluster.updateState(ds.toDF(), m)
        .writeStream.format("noop").outputMode("update").start())
    // streaming agg (state = the sketch): update mode, not append
    def sketchT(ds: Dataset[LenIn]) =
      Seq(StreamingSketch.sketch(ds.toDF())
        .writeStream.format("noop").outputMode("update").start())
    def lens(dir: String): Seq[LenIn] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("n_chars").cast("long")).as[LenIn]
        .collect().sortBy(r => (r.lang, r.n_chars)).toSeq

    lazy val x1Docs = docs(s"$scaleRoot/x1")
    lazy val x10Docs = docs(s"$scaleRoot/x10")
    lazy val bloom = StreamingDecon.buildBloom(
      spark.read.parquet(s"$scaleRoot/x1/documents.parquet")
        .filter(col("doc_id") < 10).select(col("doc_id"), col("text")))
    lazy val x1Vecs = vecsIn(s"$scaleRoot/x1")
    lazy val x10Vecs = vecsIn(s"$scaleRoot/x10")
    lazy val x1Mix = mixDocs(s"$scaleRoot/x1")
    lazy val x10Mix = mixDocs(s"$scaleRoot/x10")
    lazy val annModel =
      graft.queries.SimilarityOps.annModel(spark, s"$scaleRoot/x1")
    lazy val clusterModel = StreamingCluster.model(spark, s"$scaleRoot/x1")
    lazy val x1Orders = orders(evX1)
    lazy val x10Orders = orders(evX10)
    lazy val x1Lens = lens(s"$scaleRoot/x1")
    lazy val x10Lens = lens(s"$scaleRoot/x10")

    // JIT/codegen warmup: every selected twin once on a small slice, untimed
    if (sel("lsh")) feed(x1Docs.take(BatchRows))(lsh)
    if (sel("mixture") || sel("mixture_desc"))
      feed(x1Mix.take(BatchRows))(mixtureT)
    if (sel("contam")) feed(x1Mix.take(BatchRows))(contamT)
    if (sel("spans") || sel("spans_desc"))
      feed(x1Docs.take(BatchRows))(spansT)
    if (sel("novelty") || sel("novelty_desc"))
      feed(x1Docs.take(BatchRows))(noveltyT)
    if (sel("export") || sel("export_desc"))
      feed(x1Mix.take(BatchRows))(exportT)
    if (sel("paragraph") || sel("paragraph_desc"))
      feed(x1Docs.take(BatchRows))(paragraphT)
    if (sel("shards") || sel("shards_desc"))
      feed(x1Mix.take(BatchRows))(shardsT)
    if (sel("boiler") || sel("boiler_desc"))
      feed(x1Mix.take(BatchRows))(boilerT)
    if (sel("decon")) feed(x1Docs.take(BatchRows))(decon(bloom))
    if (sel("ann_ingest")) feed(x1Vecs.take(BatchRows))(ann(annModel))
    if (sel("ann_append"))
      feed(x1Vecs.take(BatchRows))(annAppendT(annModel, s"$scaleRoot/x1"))
    if (sel("ann_tombstone"))
      feed(x1Vecs.take(BatchRows))(annTombT(s"$scaleRoot/x1"))
    if (sel("dws_trade")) feed(x1Orders.take(BatchRows))(dws)
    if (sel("sketch")) feed(x1Lens.take(BatchRows))(sketchT)
    if (sel("cluster")) feed(x1Vecs.take(BatchRows))(clusterT(clusterModel))
    if (sel("cluster_update"))
      feed(x1Vecs.take(BatchRows))(clusterUpdT(clusterModel))

    println("twin,dir,rows,secs,rows_per_sec")
    if (sel("lsh")) {
      emit("lsh", "x1", x1Docs.size, feed(x1Docs)(lsh))
      emit("lsh", "x10", x10Docs.size, feed(x10Docs)(lsh))
      // the saturated corpus is the streaming-LSH adversary: a pinned
      // vocab floods the band buckets, and only the maxBucket state cap
      // stands between an arriving doc and unbounded pairing work — the
      // measured rate shows what the cap buys at ingest time
      val satDocs = docs(s"$scaleRoot/x10sat")
      emit("lsh", "x10sat", satDocs.size, feed(satDocs)(lsh))
    }
    if (sel("decon")) {
      emit("decon", "x1", x1Docs.size, feed(x1Docs)(decon(bloom)))
      emit("decon", "x10", x10Docs.size, feed(x10Docs)(decon(bloom)))
    }
    if (sel("mixture")) {
      emit("mixture", "x1", x1Mix.size, feed(x1Mix)(mixtureT))
      emit("mixture", "x10", x10Mix.size, feed(x10Mix)(mixtureT))
    }
    // retraction-heavy adversary (the StreamingMixtureSpec descending
    // feed): every component's min arrives LAST, so survivor flips and
    // touched-component re-labeling are maximal — the rate shows the
    // retraction cost in the measurement, not just in a spec. Its own
    // filter name so it can be re-measured without the x10 sweep.
    if (sel("mixture_desc")) {
      emit("mixture_desc", "x1", x1Mix.size, feed(x1Mix.reverse)(mixtureT))
    }
    if (sel("contam")) {
      emit("contam", "x1", x1Mix.size, feed(x1Mix)(contamT))
      emit("contam", "x10", x10Mix.size, feed(x10Mix)(contamT))
    }
    if (sel("spans")) {
      emit("spans", "x1", x1Docs.size, feed(x1Docs)(spansT))
      emit("spans", "x10", x10Docs.size, feed(x10Docs)(spansT))
    }
    // retroactive-flip adversary: descending arrival maximizes how often
    // a later batch flips an earlier doc's grams (the spec's worst case);
    // the rate shows the touched-doc recompute cost in the measurement
    if (sel("spans_desc")) {
      emit("spans_desc", "x1", x1Docs.size, feed(x1Docs.reverse)(spansT))
    }
    if (sel("novelty")) {
      emit("novelty", "x1", x1Docs.size, feed(x1Docs)(noveltyT))
      emit("novelty", "x10", x10Docs.size, feed(x10Docs)(noveltyT))
    }
    // maximal-steal adversary: descending arrival makes every colliding
    // doc out-rank the stored holder, so retraction deltas are maximal
    if (sel("novelty_desc")) {
      emit("novelty_desc", "x1", x1Docs.size,
        feed(x1Docs.reverse)(noveltyT))
    }
    if (sel("export")) {
      emit("export", "x1", x1Mix.size, feed(x1Mix)(exportT))
      emit("export", "x10", x10Mix.size, feed(x10Mix)(exportT))
    }
    // the all-arms adversary: descending arrival maximizes canonical
    // steals and keep-first flips AND lands every bench doc (doc_id <
    // 10) at the very end, after the whole corpus has been exported —
    // the maximal-retraction feed for all three arms at once
    if (sel("export_desc")) {
      emit("export_desc", "x1", x1Mix.size, feed(x1Mix.reverse)(exportT))
    }
    if (sel("paragraph")) {
      emit("paragraph", "x1", x1Docs.size, feed(x1Docs)(paragraphT))
      emit("paragraph", "x10", x10Docs.size, feed(x10Docs)(paragraphT))
    }
    // maximal-steal adversary: descending arrival makes every colliding
    // paragraph occurrence out-rank the stored holder
    if (sel("paragraph_desc")) {
      emit("paragraph_desc", "x1", x1Docs.size,
        feed(x1Docs.reverse)(paragraphT))
    }
    if (sel("shards")) {
      emit("shards", "x1", x1Mix.size, feed(x1Mix)(shardsT))
      emit("shards", "x10", x10Mix.size, feed(x10Mix)(shardsT))
    }
    // the all-arms adversary inherited from the export twin, plus the
    // grant layer's worst case: descending arrival maximizes canonical
    // steals (every granted doc is eventually demoted to a HOLE) and the
    // late bench docs retract whole shards at the very end
    if (sel("shards_desc")) {
      emit("shards_desc", "x1", x1Mix.size, feed(x1Mix.reverse)(shardsT))
    }
    if (sel("boiler")) {
      emit("boiler", "x1", x1Mix.size, feed(x1Mix)(boilerT))
      emit("boiler", "x10", x10Mix.size, feed(x10Mix)(boilerT))
    }
    // flip-maximal adversary: descending arrival means every template's
    // first MinDf−1 copies are STORED before the flip lands, so each
    // flip retracts the maximal holder population (ascending order can
    // flip early and account later copies at insert for free)
    if (sel("boiler_desc")) {
      emit("boiler_desc", "x1", x1Mix.size, feed(x1Mix.reverse)(boilerT))
    }
    // a THIRD measured decade for the incremental mixture (500k docs
    // through the same foreachBatch ingest). OPT-IN only — never part of
    // the default sweep: at a 1k trigger this is 500 micro-batches
    // (~tens of minutes), and the per-batch ledger rewrite is O(corpus)
    // in the local emulation, so the leg's cost grows with the decade
    // while every real per-batch quantity stays batch-sized.
    if (only.exists(_.contains("mixture_x100"))) {
      val m100 = mixDocs(s"$scaleRoot/x100")
      emit("mixture", "x100", m100.size, feed(m100)(mixtureT))
    }
    // opt-in third decade for the paragraph twin (500k docs through the
    // same foreachBatch ingest) — same contract as mixture_x100: never
    // part of the default sweep
    if (only.exists(_.contains("paragraph_x100"))) {
      val p100 = docs(s"$scaleRoot/x100")
      emit("paragraph", "x100", p100.size, feed(p100)(paragraphT))
    }
    if (sel("ann_ingest")) {
      emit("ann_ingest", "x1", x1Vecs.size, feed(x1Vecs)(ann(annModel)))
      emit("ann_ingest", "x10", x10Vecs.size, feed(x10Vecs)(ann(annModel)))
    }
    if (sel("ann_append")) {
      emit("ann_append", "x1", x1Vecs.size,
        feed(x1Vecs)(annAppendT(annModel, s"$scaleRoot/x1")))
      emit("ann_append", "x10", x10Vecs.size,
        feed(x10Vecs)(annAppendT(annModel, s"$scaleRoot/x1")))
    }
    if (sel("ann_tombstone")) {
      // retraction rate against a fully-grown x1 index; the x10 leg
      // retracts 10x the ids against the SAME tree size — per-batch
      // cost is the tree-scan delta measure, so the two legs separate
      // the fixed per-batch floor from id-volume scaling
      emit("ann_tombstone", "x1", x1Vecs.size,
        feed(x1Vecs)(annTombT(s"$scaleRoot/x1")))
      emit("ann_tombstone", "x10", x10Vecs.size,
        feed(x10Vecs)(annTombT(s"$scaleRoot/x1")))
    }
    if (sel("dws_trade")) {
      emit("dws_trade", evX1, x1Orders.size, feed(x1Orders)(dws))
      emit("dws_trade", evX10, x10Orders.size, feed(x10Orders)(dws))
    }
    if (sel("sketch")) {
      emit("sketch", "x1", x1Lens.size, feed(x1Lens)(sketchT))
      emit("sketch", "x10", x10Lens.size, feed(x10Lens)(sketchT))
    }
    if (sel("cluster")) {
      emit("cluster", "x1", x1Vecs.size, feed(x1Vecs)(clusterT(clusterModel)))
      emit("cluster", "x10", x10Vecs.size, feed(x10Vecs)(clusterT(clusterModel)))
    }
    if (sel("cluster_update")) {
      emit("cluster_update", "x1", x1Vecs.size,
        feed(x1Vecs)(clusterUpdT(clusterModel)))
      emit("cluster_update", "x10", x10Vecs.size,
        feed(x10Vecs)(clusterUpdT(clusterModel)))
    }
    spark.stop()
  }
}
