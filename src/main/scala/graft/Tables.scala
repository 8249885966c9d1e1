package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All graft queries take `(SparkSession, sfDir)` and read through here so
  * the same code runs at any scale factor. At cluster scale the same
  * `spark.read.parquet(dir)` distributes across executors; nothing here is
  * local-mode-specific.
  *
  * `events.parquet`'s `ts` encoding has drifted across driver testdata
  * generations, so the loader normalizes it to session-TZ `TimestampType`
  * whatever the file says:
  *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it
  *     ([PARQUET_TYPE_ILLEGAL]) unless `spark.sql.legacy.parquet.nanosAsLong`
  *     is set, under which it surfaces as a raw nanos `LongType` — truncate
  *     to micros, matching DuckDB's `CAST(ts_ns AS TIMESTAMP)` truncation.
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it
  *     natively as `TimestampNTZType` — cast to `TimestampType`. The
  *     session TZ is UTC everywhere in this library, so the NTZ→LTZ cast is
  *     instant-preserving and agrees with the DuckDB oracles' naive
  *     `CAST(ts AS TIMESTAMP)`.
  *   - anything already `TimestampType` passes through.
  * Downstream code may assume `Tables(_, _, "events").schema("ts")` is
  * `TimestampType`; TablesSchemaSpec pins this across all three sf dirs so
  * the next silent regeneration fails in one named test.
  *
  * Resolution (file listing plus parquet schema inference, a Spark job) is
  * paid once per (session, dir, table): the resolved relation is kept in a
  * catalog keyed like `Staging`, stamped with the table path's
  * `FileStatus` (modification time, length), and re-resolved when the
  * stamp moves, so a rewritten table is never served stale. Each call
  * wraps the relation in a fresh `LogicalRelation` (new attribute ids), so
  * two reads of one table self-join like two independent reads. Only the
  * read-only inputs under `sfDir` come through here; artifacts that
  * queries write (ANN index trees, export shards, DWS tables) never do.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frame(spark, resolved(spark, sfDir, name))

  private def frame(spark: SparkSession, r: Resolved): DataFrame =
    normalizeTs(spark.baseRelationToDataFrame(r.relation))

  /** One catalog entry: the table's relation, valid while the path's
    * status matches `status`, and the [[parallel]] probes made on it.
    */
  private[graft] final class Resolved(val status: FileStatus,
      val relation: BaseRelation, fs: FileSystem) {
    // The scan's partition count as planned under the first caller's split
    // confs. A probe gone stale after a conf change can only cost time:
    // the floor's repartition never changes which rows are read.
    @volatile private var partitions = -1
    private[Tables] def scanPartitions(df: DataFrame): Int = {
      if (partitions < 0) partitions = df.rdd.getNumPartitions
      partitions
    }
    private[Tables] lazy val bytes: Long = fs.getContentSummary(status.getPath).getLength
  }

  private val catalog = TrieMap.empty[(SparkSession, String, String), Resolved]

  /** The catalog entry for `sfDir/name.parquet`: one `getFileStatus` on a
    * hit; a miss or a moved stamp resolves the table anew. Racing misses
    * may each resolve — both results are correct, the last one is kept.
    */
  private[graft] def resolved(spark: SparkSession, sfDir: String, name: String): Resolved = {
    // Set at SparkSession construction in the library mains; repeated here
    // (idempotent, runtime-settable) as a fallback for externally created
    // sessions (tests, user shells) — without it a NANOS-encoded events
    // read fails outright.
    ensureSessionConfs(spark)
    val path = new Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(path)
    val key = (spark, sfDir, name)
    catalog.get(key).filter { r =>
      r.status.getModificationTime == status.getModificationTime &&
        r.status.getLen == status.getLen
    }.getOrElse {
      val relation = spark.read.parquet(path.toString).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }
        .getOrElse(throw new IllegalStateException(
          s"$path did not resolve to a file-source relation"))
      val r = new Resolved(status, relation, fs)
      catalog.put(key, r)
      r
    }
  }

  /** [[apply]] with a parallelism floor — the entry scan for an expensive
    * STAGED build (gram explodes, envelope parses, the Lloyd lattice).
    *
    * Why it exists: a parquet file cannot split below row-group
    * granularity, and the driver testdata is written as ONE row group per
    * table — so the scan plans one task and every narrow transform
    * downstream (tokenize/ngram/hash/quantize) serializes on a single
    * core no matter how many the box has (round-11 PERF note: cold
    * grams3 at x100 was 182 s of single-thread work on 32 cores). On any
    * production layout (many files / many row groups) the scan already
    * yields >= the parallelism floor and this is a PASSTHROUGH — no
    * shuffle is ever added at real scale; below the floor it pays one
    * round-robin shuffle of the raw rows, which the one-time staged
    * build amortizes immediately by unlocking every core for the
    * expensive per-row work. Row order changes under round-robin, so
    * this is restricted to order-insensitive consumers — every staged
    * build qualifies (groupBy/explode/agg semantics).
    */
  def parallel(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parallel(spark, sfDir, name, minBytes = 0L)

  /** [[parallel]] with a size gate: below `minBytes` of on-disk input the
    * floor is skipped and the plain scan returned. For MODERATE per-row
    * work (q121's word split: one regex + one md5 per word) the
    * round-robin shuffle costs more than the unlocked cores save on a
    * tiny corpus, while at 10×+ it wins 3–5× (measured, round 13:
    * sf0.1 0.94 → 1.23 s floored vs x10 5.85 → 1.68 s) — the gate keeps
    * both regimes on their faster plan. HEAVY per-row sites (gram
    * explodes: ~50 md5s per doc) win at every measured size and use the
    * ungated [[parallel]] (= `minBytes = 0`, which also skips the
    * filesystem size probe). Same passthrough contract above the floor;
    * ONE implementation so the floor rule can never diverge between the
    * gated and ungated forms. Both probes (scan partitions, on-disk size)
    * are memoized in the table's catalog entry.
    */
  def parallel(spark: SparkSession, sfDir: String, name: String,
      minBytes: Long): DataFrame = {
    val r = resolved(spark, sfDir, name)
    val df = frame(spark, r)
    val floor = spark.sparkContext.defaultParallelism
    if (r.scanPartitions(df) >= floor) df
    else if (minBytes > 0L && r.bytes < minBytes) df
    else df.repartition(floor)
  }

  /** Session preconditions for reading the testdata tables, shared by the
    * batch loader and the streaming file source. `nanosAsLong` is set
    * (runtime-settable, idempotent — without it a NANOS-encoded events
    * read fails outright). The session TZ is REQUIRED to be UTC and
    * asserted with a clear error rather than silently set: the NTZ→LTZ
    * branch of [[normalizeTs]] is instant-preserving only under UTC, but
    * force-flipping the conf would also silently change the results of
    * every non-graft date/timestamp expression in a user's session — an
    * error names the one-line fix instead.
    */
  private def ensureSessionConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() ==
      java.time.ZoneOffset.UTC.normalized(),
      s"graft requires a UTC session (found spark.sql.session.timeZone=$tz): " +
        "event-time normalization and the DuckDB oracles are defined over " +
        "UTC instants. Set spark.sql.session.timeZone=UTC on the session " +
        "(graft.GraftSession does).")
  }

  /** Normalize a `ts` column to session-TZ `TimestampType` whatever the
    * parquet encoding surfaced (raw nanos long, TIMESTAMP_NTZ, or already
    * TimestampType) — the ONE dispatch site shared by the batch loader and
    * the streaming file source, so an encoding drift in the driver's
    * testdata is a one-place fix for batch and streaming alike. Frames
    * without a `ts` column pass through untouched.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Event-time extraction — the ONE definition site for turning `ts` into
    * an epoch number. Every query goes through these instead of calling
    * `unix_micros`/`unix_millis`/`cast(... as double)` inline, so the next
    * encoding drift is a loader-only fix instead of ten scattered analysis
    * errors. The defensive `TimestampType` cast is a no-op on the
    * already-normalized loader output (identical plans, identical hashes)
    * but keeps these total over any timestamp flavor.
    */
  def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))
  def tsMillis(c: Column): Column = unix_millis(c.cast(TimestampType))
  /** Epoch seconds as fractional double (the CEP gap comparisons' unit). */
  def tsSeconds(c: Column): Column =
    unix_micros(c.cast(TimestampType)).cast("double") / 1e6

  /** Register all tables as temp views for spark.sql use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
