package graft.model

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Catalog of the driver testdata tables (TESTDATA.md / FIXTURES.md §1) and
  * of the reference-shaped export layout (FIXTURES.md §2).
  *
  * Plays the role of the reference's "dimension universe" — the component
  * that derives schemas from metadata instead of hand-writing them
  * (reference: python/lsst/dp1_data_wrangling/datasets_parquet.py:92-116).
  */
object Tables {

  /** TPC-H-ish star schema + events/documents/embeddings. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table. Plain columnar scan through [[parquet]]
    * (schema memoized per session, so a warm load launches no Spark
    * job) — Catalyst pushes any later select/filter into the parquet
    * reader (column pruning + predicate pushdown).
    *
    * Timestamp-unit normalization (FIXTURES.md caveat / SURVEY.md §7.6):
    * the testdata generator has shipped events.ts in several physical
    * encodings across regenerations, so normalize every one of them to
    * session-TZ TimestampType (micros), which is what the whole events
    * query family and the DuckDB oracle agree on:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read
    *     nanos as INT64 (legacy conf) and truncate to micros — the same
    *     truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *     TIMESTAMP_NTZ, which time functions like unix_micros reject at
    *     analysis. Session TZ is pinned UTC and DuckDB reads the same
    *     column as naive TIMESTAMP, so a cast to TimestampType preserves
    *     the instants the oracle compares.
    *   - TIMESTAMP(MICROS, UTC): already TimestampType; pass through.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // idempotent, but guard anyway: avoid re-setting session conf (and
    // invalidating conf-derived state) on every catalog call
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(nanosKey).forall(_ != "true"))
      spark.conf.set(nanosKey, "true")
    normalizeTs(parquet(spark, s"$dir/$name.parquet"))
  }

  /** Read the Parquet file or directory at `path` — the one read path of
    * the engine (tables, index segments, artifacts). The schema comes
    * from a per-session memo, so a warm read reads no footer and
    * launches no Spark job; Spark's own inference (one footer-reading
    * job per call) runs only on a memo miss, whose inferring read is
    * returned as is.
    *
    * Memo contract:
    *   - key: the path; the sorted (file path, length, mtime) listing of
    *     every file under it (a recursive Hadoop `listStatus` walk); and the
    *     session values of the confs in [[InferenceConfs]]. A file that
    *     is rewritten, added or removed, or a conf flip, misses and is
    *     inferred again — so the `ts` encoding [[normalizeTs]] sees is
    *     always the one on disk now.
    *   - value: the inferred schema, i.e. metadata only. No plan, no
    *     query output and no file listing is reused across reads: every
    *     call builds a fresh relation over the files present then.
    *   - scope: one memo per `SparkSession`, held weakly, so it is
    *     released with the session; least-recently-used entries past
    *     [[MemoEntries]] are dropped (a long-lived streaming session
    *     opens a new segment dir per batch).
    *   - a failed inference (missing path, dir with no data file) is
    *     not cached and throws exactly as `spark.read.parquet` does.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = SchemaKey(path, listing(spark, path),
      InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
    def memo = memos.computeIfAbsent(spark, _ => new SchemaMemo)
    memos.synchronized(Option(memo.get(key))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path) // infers; throws on failure
        memos.synchronized(memo.put(key, df.schema))
        df
    }
  }

  /** Session confs that change what Parquet schema inference returns
    * (partition-column type inference included: a partitioned dir's
    * partition columns take their types from the declared schema).
    */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val MemoEntries = 1024

  private final case class SchemaKey(path: String,
                                     files: Seq[(String, Long, Long)],
                                     confs: Seq[String])

  private final class SchemaMemo
      extends java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size > MemoEntries
  }

  /** Guarded by its own lock, which also guards every memo in it. */
  private val memos = new java.util.WeakHashMap[SparkSession, SchemaMemo]

  /** Sorted (path, length, mtime) of every file under `path` (the file
    * itself for a single-file table); empty when `path` is absent. A
    * `listStatus` walk: `listFiles` would build a `LocatedFileStatus`
    * per file, with block locations and a permission read (a process
    * launch per file on a local filesystem without `libhadoop`).
    */
  private def listing(spark: SparkSession,
                      path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap(walk).sorted
  }

  /** The `ts` normalization alone, for callers that build their own
    * scan — in particular `readStream` over an events-shaped directory
    * (a stream can't go through [[load]], but must apply the SAME
    * unit/zone rules or the r10 NTZ analysis failure reappears on the
    * streaming path).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Nullable nanosecond validity interval — the reference's Timespan
    * (datasets_parquet.py:119-121): a nullable struct of two int64
    * nanoseconds, open-ended bounds encoded as nulls.
    */
  val timespanType: StructType = StructType(Seq(
    StructField("begin_nsec", LongType, nullable = true),
    StructField("end_nsec", LongType, nullable = true)))

  /** Flattened datastore record (datastore_parquet.py:79-92). */
  val datastoreSchema: StructType = StructType(Seq(
    StructField("datastore_name", StringType, nullable = false),
    StructField("dataset_id", BinaryType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("formatter", StringType, nullable = true),
    StructField("storage_class", StringType, nullable = true),
    StructField("component", StringType, nullable = true),
    StructField("checksum", StringType, nullable = true),
    StructField("file_size", LongType, nullable = true)))

  /** Dataset table schema for a dataset type: UUID + run + one column per
    * data-ID dimension (datasets_parquet.py:92-116). Schema is computed
    * from the dimension list, never hand-written per type.
    */
  def datasetSchema(dataIdColumns: Seq[StructField]): StructType =
    StructType(
      StructField("dataset_id", BinaryType, nullable = false) +:
      StructField("run", StringType, nullable = false) +:
      dataIdColumns)

  /** Association table = dataset schema + collection + validity timespan
    * (datasets_parquet.py:39-49).
    */
  def associationSchema(dataIdColumns: Seq[StructField]): StructType =
    StructType(datasetSchema(dataIdColumns).fields :+
      StructField("collection", StringType, nullable = false) :+
      StructField("timespan", timespanType, nullable = true))
}
