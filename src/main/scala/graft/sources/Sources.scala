package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source adapters (SURVEY.md §2.1). The reference consumes Kafka topics;
  * here every unbounded input is a file-backed stream (the Kafka analog with
  * identical downstream semantics: an append-only partitioned log), plus
  * MemoryStream fixtures in tests (S6/S7).
  *
  *  - S1/S2/S3: `fileStream` — readStream over a parquet path; tombstone
  *    (null-value) records survive the read and are handled by `dirtySplit`.
  *  - S4/S5: `Snapshot` — a small config/lookup table re-read on demand
  *    (per microbatch inside foreachBatch), approximating the reference's
  *    lookup-cache TTL and FOR SYSTEM_TIME AS OF proc_time semantics.
  *  - K6: `dirtySplit` — unparseable JSON routed to a side output.
  */
object Sources {

  /** Stream a (single-file or directory) parquet table as an unbounded
    * source — the Kafka-topic analog (ref RT/util/MyKafkaUtil.java:25-51).
    */
  def fileStream(spark: SparkSession, dir: String, table: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // FileStreamSource requires its path to be a DIRECTORY. A
    // directory-backed table (dir/table.parquet/part-*.parquet) streams
    // directly; a single-file table streams its parent dir with a
    // pathGlobFilter on the leaf name (the filter matches only leaf FILE
    // names, which is exactly the single-file layout — it would silently
    // match nothing for the directory layout, hence the branch).
    // The schema and the file/directory status come from the batch
    // catalog entry (graft.Tables): no schema-inference job per stream
    // start, and the same session preconditions (nanosAsLong, the UTC
    // assertion normalizeTs depends on) as the batch loader.
    val resolved = graft.Tables.resolved(spark, dir, table)
    val reader = spark.readStream
      .schema(resolved.relation.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    val raw =
      if (resolved.status.isFile) reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
      else reader.parquet(s"$dir/$table.parquet")
    // Same ts normalization as the batch loader (graft.Tables.normalizeTs):
    // the streamed schema is the batch relation's, so it carries whatever
    // encoding the driver's testdata generation used — downstream
    // streaming code may assume session-TZ TimestampType.
    graft.Tables.normalizeTs(raw)
  }

  /** K6 dirty-data side output: split a JSON-string column into (clean,
    * dirty) by parse success against `schema` (ref
    * RT/app/dwd/log/DwdTrafficBaseLogSplit.java:76-100). Works on batch and
    * streaming frames alike. Permissive-mode `from_json` turns garbage into
    * an all-null struct rather than null, so "parsed" is judged by the
    * presence of `requiredField` (defaults to the schema's first field).
    */
  def dirtySplit(df: DataFrame, jsonCol: String, schema: StructType,
      requiredField: String = ""): (DataFrame, DataFrame) = {
    val req = if (requiredField.nonEmpty) requiredField else schema.fields.head.name
    val parsed = df.withColumn("env", from_json(col(jsonCol), schema))
    val ok = col("env").isNotNull && col("env")(req).isNotNull
    (parsed.filter(ok), parsed.filter(!ok).drop("env"))
  }

  /** S4/S5: a small slowly-changing table re-read at every call site (invoke
    * inside foreachBatch for per-microbatch snapshot semantics — the AS-OF-
    * proc-time approximation documented in SURVEY §7.5).
    */
  final case class Snapshot(spark: SparkSession, load: SparkSession => DataFrame) {
    def apply(): DataFrame = load(spark)
  }
}
