package graft.model

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

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
    * (schema from a per-session memo or one driver-side footer read,
    * so a load launches no Spark job) — Catalyst pushes any later
    * select/filter into the parquet reader (column pruning + predicate
    * pushdown).
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
    * the engine (tables, index segments, artifacts). No read launches
    * Spark's schema-inference job unless it falls back (below): a warm
    * read takes the schema from a per-session memo, and a miss infers
    * it on the driver from one footer.
    *
    * Miss path: the same single-file inference Spark's one-task job
    * runs when schema merging is off.
    *   - file: of the files Spark's file index would list (no entry on
    *     the way down hidden by Spark's rule: a `_` or `.` prefix, except
    *     `_metadata`/`_common_metadata` and names containing `=`), sorted
    *     by path — `_common_metadata`, else `_metadata`, else the first
    *     data file. The listing is the one the memo key walks.
    *   - schema: that file's footer (row groups skipped), converted
    *     under the session's binaryAsString, int96AsTimestamp,
    *     inferTimestampNTZ, nanosAsLong and respectUnknownTypeAnnotation
    *     values, as Spark's inference does.
    *   - read: through `.schema(footer schema)`, so the file index still
    *     discovers and types the partition columns of a partitioned dir.
    * Fallback: a plain `spark.read.parquet` of the path (Spark's own
    * inference, one job) when schema merging is on, when there is no
    * data file (a missing path or a dir of only `_SUCCESS` and hidden
    * files — it throws Spark's own error) and when the footer cannot be
    * read or converted (Spark's inference then throws its own error, or
    * skips the file under `ignoreCorruptFiles`).
    *
    * Memo contract:
    *   - key: the path; the sorted (file path, length, mtime) listing of
    *     every file under it (a recursive Hadoop `listStatus` walk); and the
    *     session values of the confs in [[InferenceConfs]]. A file that
    *     is rewritten, added or removed, or a conf flip, misses and is
    *     inferred again — so the `ts` encoding [[normalizeTs]] sees is
    *     always the one on disk now.
    *   - value: the resulting schema, i.e. metadata only. No plan, no
    *     query output and no file listing is reused across reads: every
    *     call builds a fresh relation over the files present then.
    *   - scope: one memo per `SparkSession`, held weakly, so it is
    *     released with the session; least-recently-used entries past
    *     [[MemoEntries]] are dropped (a long-lived streaming session
    *     opens a new segment dir per batch).
    *   - a failed read is not cached and throws exactly as
    *     `spark.read.parquet` does.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = graft.Sessions.hadoopConf(spark)
    val files = listing(conf, path)
    val key = SchemaKey(path,
      files.map { case (s, _) =>
        (s.getPath.toString, s.getLen, s.getModificationTime) },
      InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
    def memo = memos.computeIfAbsent(spark, _ => new SchemaMemo)
    memos.synchronized(Option(memo.get(key))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val listed = files.collect { case (s, true) => s }
        val df = footerSchema(spark, conf, listed)
          .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
        memos.synchronized(memo.put(key, df.schema))
        df
    }
  }

  /** Rows in the Parquet file or directory at `path`: the row counts of
    * the footers of the files Spark's file index would read (see
    * [[parquet]]), summed on the driver — the answer of a `count()`
    * without its Spark job. 0 when `path` is absent; throws on an
    * unreadable footer.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = graft.Sessions.hadoopConf(spark)
    listing(conf, path).collect {
      case (f, true) if !SummaryFiles(f.getPath.getName) =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
          .map(_.getRowCount).sum
    }.sum
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
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
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

  /** Every file under `path` (the file itself for a single-file table),
    * sorted by path, each with whether Spark's file index lists it (see
    * [[parquet]]); empty when `path` is absent. A `listStatus` walk:
    * `listFiles` would build a `LocatedFileStatus` per file, with block
    * locations and a permission read (a process launch per file on a
    * local filesystem without `libhadoop`).
    */
  private def listing(conf: Configuration,
                      path: String): Seq[(FileStatus, Boolean)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def walk(s: FileStatus, listed: Boolean): Seq[(FileStatus, Boolean)] = {
      val l = listed && !hidden(s.getPath.getName)
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk(_, l))
      else Seq((s, l))
    }
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap(walk(_, listed = true))
      .sortBy(_._1.getPath.toString)
  }

  /** Whether Spark's file index skips an entry of this name (the rule
    * of Spark's `HadoopFSUtils.shouldFilterOutPathName`, which is not
    * public API).
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  private val SummaryFiles = Set(
    ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The data schema Spark's inference would return for the listed
    * `files` (sorted by path), read on the driver; None where
    * [[parquet]] falls back to Spark's own inference.
    */
  private def footerSchema(spark: SparkSession, conf: Configuration,
                           files: Seq[FileStatus]): Option[StructType] = {
    val sql = spark.sessionState.conf
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => SummaryFiles(f.getPath.getName))
    if (sql.isParquetSchemaMergingEnabled || data.isEmpty) None
    else {
      val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .getOrElse(data.head)
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          sql.parquetReaderRespectUnknownTypeAnnotation)
      try {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer), converter))
      } catch {
        case NonFatal(_) => None // Spark's own inference decides
      }
    }
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
