package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-18 additions: q182 video perceptual near-dup (the frame-payload
  * row completing the modality-dedup matrix). Structural facts the hash
  * oracle can't state: the decode walks the REAL sample table (both stsz
  * forms, both container layouts), every failure mode drops instead of
  * fingerprinting partially, and the planted near-dups sit where the
  * synthesis put them.
  */
class Round18OpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String, dir: String = sfDir) =
    graft.Registry.all.find(_.name == name).get.run(spark, dir)

  // ------------------------------------------------------------- q182

  test("q182: parseMp4FrameLuma walks the real sample table — both stsz " +
    "forms and both container layouts parse to exactly the synthesized " +
    "frames; truncation, garbage, and frame-less header MP4s drop") {
    import graft.queries.MultimodalOps._
    val rows = syntheticFramedMp4s(spark, sfDir)
      .filter(col("mediaId") < 30).collect().sortBy(_.mediaId)
    // the first 30 ids cover: constant-size stsz (even), per-sample
    // table stsz (odd), mdat-before-moov (≡0 mod 3), largesize free
    // boxes (≡0 mod 4) — every parser branch inside the hash-checked set
    assert(rows.exists(_.mediaId % 2 == 0) && rows.exists(_.mediaId % 2 == 1))
    assert(rows.exists(_.mediaId % 3 == 0) && rows.exists(_.mediaId % 4 == 0))
    for (r <- rows) {
      val parsed = parseMp4FrameLuma(r.content)
      assert(parsed.nonEmpty, s"doc ${r.mediaId} must parse")
      val (sizes, samples) = parsed.get
      assert(sizes.length == FpFrames && sizes.forall(_ == FrameLen),
        s"doc ${r.mediaId}: the stsz table must yield 57 × 64-byte frames")
      assert(samples.length == FpFrames * FrameLen)
    }
    // truncation on a moov-first container: the sample table parses but
    // the chunk's declared bytes exceed the payload present — drop,
    // never a partial fingerprint
    val moovFirst = rows.find(_.mediaId % 3 != 0).get.content
    assert(parseMp4FrameLuma(moovFirst.dropRight(10)).isEmpty,
      "a truncated mdat must drop")
    assert(parseMp4FrameLuma("garbage".getBytes("US-ASCII")).isEmpty)
    // q157's header-only fixtures are VALID containers (parseMp4 reads
    // their mvhd/tkhd) but carry no sample table → the frame path drops
    val headerOnly = syntheticMp4s(spark, sfDir).head().content
    assert(parseMp4(headerOnly).nonEmpty,
      "the header fixture stays a valid container")
    assert(parseMp4FrameLuma(headerOnly).isEmpty,
      "no stbl → no frames → drop from the fingerprint path")
  }

  test("q182: decoded fingerprints match a first-principles luma " +
    "recompute, planted id % 5 == 4 near-dups sit at Hamming <= 1 of " +
    "their predecessor, and the query surfaces every planted pair") {
    import spark.implicits._
    import graft.queries.MultimodalOps._
    val rows = syntheticFramedMp4s(spark, sfDir)
      .filter(col("mediaId") < 25).collect().sortBy(_.mediaId)
    val got = decodeVideoFingerprint(
      syntheticFramedMp4s(spark, sfDir).filter(col("mediaId") < 25))
      .collect().toMap
    for (r <- rows if r.mediaId % 3 != 0) {
      // moov-first layout: the payload is the LAST 3648 bytes of the
      // container — an independent read that never touches the box walk
      val px = r.content.takeRight(FpFrames * FrameLen).map(_ & 0xff)
      val e = (0 until FpFrames).map(f =>
        (0 until FrameLen).map(j => px(f * FrameLen + j).toLong).sum)
      var sig = 0L
      for (f <- 0 until FpFrames - 1) if (e(f + 1) > e(f)) sig |= 1L << f
      assert(got(r.mediaId) == sig,
        s"doc ${r.mediaId}: decoded fingerprint diverged from the " +
          "first-principles luma recompute")
    }
    for (r <- rows if r.mediaId % 3 == 0) {
      // mdat-before-moov layout: replay the synthesis arithmetic instead
      // (the payload is mid-container) — a second independent derivation
      val id = r.mediaId
      val base = if (id % 5 == 4) id - 1 else id
      def amp(f: Int): Long =
        (base * 37 + f * 11) % 251 + (if (id % 5 == 4 && f == 0) 1 else 0)
      var sig = 0L
      for (f <- 0 until FpFrames - 1) if (amp(f + 1) > amp(f)) sig |= 1L << f
      assert(got(id) == sig,
        s"doc $id (mdat-first): decoded fingerprint diverged from the " +
          "synthesis arithmetic")
    }
    val near = rows.filter(_.mediaId % 5 == 4)
    assert(near.nonEmpty)
    for (r <- near) {
      val d = java.lang.Long.bitCount(got(r.mediaId) ^ got(r.mediaId - 1))
      assert(d <= 1,
        s"planted pair (${r.mediaId - 1}, ${r.mediaId}) at Hamming $d > 1")
    }
    val out = run("q182_video_perceptual_neardup")
      .select(col("i"), col("j")).as[(Long, Long)].collect().toSet
    val planted = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long].collect()
      .filter(id => id % 5 == 4).map(id => (id - 1, id)).toSet
    assert(planted.nonEmpty && planted.subsetOf(out),
      s"missing planted pairs: ${(planted -- out).take(5)}")
  }

  // ----------------------------------- three-level scaled-K SemDeDup

  /** Hierarchy-consistent embeddings fixture: 64 DISTINCT centroid
    * vectors c_j = e_(j mod 16) + 0.2·(a+1)·e_(48+a), a = j div 16, and
    * 12 800 corpus vectors that are EXACT copies c_(i mod 64) — so
    * K = max(16, N/200) = 64, m = ⌈√(16·64)⌉ = 32, and every routing
    * argmax at every level has a strict margin: each vector's true
    * centroid lives under its routed super and mid, which is exactly
    * the regime where the three-level tree must reproduce the two-level
    * assignment bit-for-bit.
    */
  private lazy val hierFixtureDir: String = {
    import spark.implicits._
    val dim = 64
    def cent(j: Int): Seq[Float] = {
      val a = j / 16; val b = j % 16
      Seq.tabulate(dim)(i =>
        if (i == b) 1.0f
        else if (i == 48 + a) (0.2f * (a + 1))
        else 0.0f)
    }
    val rows = (0 until 12800).map(i => (i.toLong, cent(i % 64)))
    val dir = java.nio.file.Files.createTempDirectory("graft_hier_").toString
    rows.toDF("vec_id", "embedding")
      .coalesce(8).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("scaled-K SemDeDup: the three-level tree reproduces the two-level " +
    "assignment EXACTLY on hierarchy-consistent geometry, through " +
    "registered q131, with 64 clusters of 200 members each") {
    // an isolated session: conf changes must not leak into parallel
    // suites sharing the SparkContext
    val deep = spark.newSession()
    deep.conf.set("graft.semdedup.threeLevelMinK", "16")
    val q131 = graft.Registry.all.find(_.name == "q131_semantic_dedup_scaledk").get
    def rollup(s: org.apache.spark.sql.SparkSession) =
      q131.run(s, hierFixtureDir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
    val three = rollup(deep)
    val two = rollup(spark) // default threshold: two-level path
    assert(three == two,
      s"three-level assignment diverged from two-level on consistent " +
        s"geometry: ${(three.toSet -- two.toSet).take(3)} vs " +
        s"${(two.toSet -- three.toSet).take(3)}")
    assert(three.size == 64, s"expected 64 clusters, got ${three.size}")
    assert(three.values.forall(_._1 == 200L),
      "every cluster must hold exactly its 200 copies")
    // every copy is cosine-1 of its representative, so SemDeDup drops
    // all non-representative members — the rollup's semantic check
    assert(three.values.forall(v => v._2 == 199L),
      s"199 of 200 exact copies must drop per cluster: ${three.take(3)}")
  }

  // ------------------------------------------------------------- q183

  test("q183: four appends FRAGMENT the lists (measured precondition), " +
    "compaction rewrites every list to one file with the manifest " +
    "bit-unchanged and no list added or dropped, and a doctored " +
    "compacted tree still fails the gate") {
    import graft.streaming.StreamingAnn
    val m = SimilarityOps.annModel(spark, sfDir)
    val root = graft.Staging.scratchDir("graft_comp_spec_")
    val (path, _, _) = SimilarityOps.writeAnnIndex(spark,
      SimilarityOps.annIndexLists(spark, sfDir).limit(0), root,
      SimilarityOps.annModelFp(spark, sfDir))
    val in = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") >= 5)
    for (slice <- 0 until 4)
      StreamingAnn.appendBatch(
        in.filter(pmod(col("vec_id"), lit(4)) === slice),
        "vec_id", m, path)
    val before = SimilarityOps.annListFileCounts(spark, path)
    assert(before.nonEmpty && before.valuesIterator.max > 1,
      s"precondition: appends must fragment some list, got $before")
    val manifestBefore = SimilarityOps.readAnnManifest(spark, path)
    val (n, chk) = SimilarityOps.compactAnnIndex(spark, path)
    assert((n, chk) == manifestBefore,
      "compaction must return the manifest bit-unchanged")
    assert((n, chk) == SimilarityOps.readAnnManifest(spark, path),
      "the swapped-in tree must carry the same manifest")
    val after = SimilarityOps.annListFileCounts(spark, path)
    assert(after.valuesIterator.forall(_ == 1),
      s"every list must be one file after compaction: $after")
    assert(after.keySet == before.keySet,
      "compaction must neither add nor drop lists")
    SimilarityOps.verifyAnnIndex(spark, path)
    // no retired/stage residue survives a successful swap
    import org.apache.hadoop.fs.Path
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val residue = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(nm => nm.startsWith("index_retired_") ||
        nm.startsWith("compact_stage_"))
    assert(residue.isEmpty, s"swap residue left behind: ${residue.toSeq}")
    // the compacted tree is still corruption-detectable: drop one file
    val cidDir = fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .head.getPath
    val part = fs.listStatus(cidDir)
      .filter(st => !st.getPath.getName.startsWith("_")).head.getPath
    fs.delete(part, false)
    val lost = intercept[IllegalStateException] {
      SimilarityOps.verifyAnnIndex(spark, path)
    }
    assert(lost.getMessage.contains("fails verification"))
  }

  test("q183 equals q180 row-for-row (the lifecycle tree serves exactly " +
    "what the batch-written tree serves)") {
    def rows(name: String) = run(name).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val compacted = rows("q183_ann_index_compact")
    val batch = rows("q180_ann_index_write")
    assert(compacted == batch,
      s"lifecycle serve drifted: ${(compacted -- batch).take(3)} vs " +
        s"${(batch -- compacted).take(3)}")
  }
}
