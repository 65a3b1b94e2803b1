package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LayoutFunctions
import graft.model.Tables

/** Multi-dimensional data-layout clustering (write optimization).
  *
  * Scale rationale: on a 100 TB table, a query like
  * `WHERE user BETWEEN ... AND day BETWEEN ...` is served by file/row-
  * group skipping, and skipping quality is decided when the table is
  * WRITTEN. Sorting by (user, day) prunes on user only — every file
  * spans the full day range. Clustering by the Morton z-value of both
  * columns tiles the space so each file covers a narrow range of EVERY
  * clustered dimension; min/max stats then prune on whichever predicate
  * the query brings (LayoutSpec pins the locality property
  * quantitatively, and against the lexicographic baseline).
  */
object Layout {

  /** Cluster `df` into `numPartitions` write tasks by the z-order of
    * `dims` (2 or 3 numeric columns; project dates/timestamps through
    * `unix_date`/`unix_micros` first).
    *
    * Each dimension is normalized to its global [min, max] range scaled
    * to the interleave width (31 bits for 2 dims, 21 for 3) — rank-free
    * linear normalization, which tiles well unless a dimension is
    * pathologically skewed (pre-bucket such a column by rank first).
    * The bounds aggregate is one tiny job collecting 2×dims scalars to
    * the driver (catalog-sized, like the corpus-count broadcasts); the
    * data path itself is a projection + one range exchange + per-
    * partition sort — no extra shuffle, nothing row-sized collected.
    *
    * Nulls in any dimension z-map to null and are routed to the FIRST
    * range partition (Spark range-partitions nulls first), keeping them
    * out of every data tile's min/max.
    */
  def clusterByZOrder(df: DataFrame, dims: Seq[String],
                      numPartitions: Int): DataFrame = {
    require(dims.size == 2 || dims.size == 3,
      s"clusterByZOrder takes 2 or 3 dimensions, got ${dims.size}")
    // 31 bits per dim for 2-D (not 32): repartitionByRange orders the z
    // column as a SIGNED long, so a 64-bit Morton value whose top bit is
    // dim-1's leading normalized bit would sort the upper half of the
    // curve BEFORE the lower half — curve contiguity breaks at the
    // midpoint and the straddling file spans nearly the full leading
    // dimension. 31+31 = 62-bit z stays non-negative (as 3x21 = 63 does
    // for 3-D), at the cost of one bit of resolution nothing needs.
    val bits = if (dims.size == 2) 31 else 21
    val scaleMax = (1L << bits) - 1
    val boundAggs = dims.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*).collect().head
    val normalized: Seq[Column] = dims.map { c =>
      val mn = bounds.getAs[Double](s"__mn_$c")
      val mx = bounds.getAs[Double](s"__mx_$c")
      val range = if (mx > mn) mx - mn else 1.0
      // explicit null gate: least/greatest IGNORE nulls (the
      // winsorizedMeans lesson), so without it a null dimension value
      // silently normalized to 0 — indistinguishable from the global
      // minimum, polluting data tiles' min/max instead of riding the
      // nulls-first range partition the scaladoc promises
      when(col(c).isNull, lit(null).cast("long"))
        .otherwise(least(lit(scaleMax), greatest(lit(0L),
          ((col(c).cast("double") - lit(mn)) / lit(range) * lit(scaleMax.toDouble))
            .cast("long"))))
    }
    val Z = "__graft_z"
    df.withColumn(Z, LayoutFunctions.zorder(normalized: _*))
      .repartitionByRange(numPartitions, col(Z))
      .sortWithinPartitions(Z)
      .drop(Z)
  }

  /** Cluster and write in one step: each output file is a Morton tile,
    * so parquet footer min/max stats prune multi-dimensional predicates
    * at read time (LayoutSpec proves the per-FILE spreads on the
    * written files, not just the in-memory partitions). One range
    * exchange, then a straight parquet write — the drop of the
    * temporary z column is a projection, which preserves the
    * within-partition order into the files.
    */
  def writeClustered(df: DataFrame, dims: Seq[String], path: String,
                     numPartitions: Int): Unit =
    clusterByZOrder(df, dims, numPartitions)
      .write.mode("overwrite").parquet(path)

  // ==================================================================
  // Bucketed durable artifacts (the co-located-join layout)
  // ==================================================================
  //
  // A hash-bucketed, bucket-sorted parquet table on a join key is the
  // layout that makes the STORED side of a recurring join exchange-free:
  // Spark's bucket hash is the same murmur3 the shuffle uses, so a scan
  // over the bucketed files reports HashPartitioning(key, buckets) and
  // a join against it shuffles only the other side. At 100 TB this is
  // the difference between "a refresh pays the batch's shuffle" and
  // "every refresh re-shuffles the corpus". One audited copy here —
  // the dup-graph index, the ANN code table, and the novelty
  // seen-shingle index all commit through these.

  private val bucketedLock = new Object
  private def bucketedName(dir: String): String =
    "graft_bkt_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Write `df` as a hash-bucketed, bucket-sorted parquet table on
    * `key` at exactly `dir` — Spark's bucketed layout needs a catalog
    * entry at write time, so this routes through a transient
    * external-table name and drops the entry afterwards (external drop
    * keeps the files; the bucket ids live in the file NAMES, which is
    * what the bucketed read resolves). The writer sorts each task's rows
    * by bucket id, then `key`, and starts a file per bucket it meets, so
    * a task emits one file per bucket among its rows: give it a
    * one-partition input (small data, [[Segments.write]] below
    * [[SmallPlan.fitsOneTask]]) or pre-partition the input on `key`
    * with the same bucket count (larger data) — either way one file per
    * bucket, with no writer-side fan-out of tasks × buckets files.
    *
    * The target must not exist (bucketed CTAS refuses a non-empty
    * location): artifact writers route the dir through
    * [[graft.ops.Staging.nextVersionDir]] or delete a deterministic
    * segment dir first — crash-retry then sees a clean target.
    */
  def writeBucketedTable(df: DataFrame, dir: String, key: String,
                         buckets: Int): Unit = {
    val spark = df.sparkSession
    val tmp = s"graft_bktw_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    df.write.bucketBy(buckets, key).sortBy(key)
      .option("path", dir).saveAsTable(tmp)
    spark.sql(s"DROP TABLE `$tmp`")
    // An EMPTY bucketed CTAS writes no data files at all (only
    // _SUCCESS) — a later read has no parquet footer to infer a schema
    // from and the artifact is bricked. Empty frames are legitimate
    // (a micro-batch of all-too-short docs contributes zero index
    // rows), so rewrite such a dir as one plain schema-bearing parquet
    // file plus a marker the reader keys on; partitioning is
    // irrelevant for zero rows. Detected from the write's own OUTPUT
    // (a metadata listing — the AnnIndex.writeCodeSegment discipline),
    // not a pre-write `df.isEmpty` probe: that probe was an extra
    // Spark job per segment commit that RE-EVALUATED the whole input
    // plan when the caller's delta was not yet materialized (the
    // day-1 build paid its corpus shingle scan twice).
    // Only a listing of nothing but `_SUCCESS` and hidden (`.crc`)
    // files counts as empty: an entry of any other name is output this
    // guard does not recognize (a committer that names files
    // differently, an incomplete listing), so fail loudly rather than
    // replace a possibly non-empty segment with an empty one.
    val entries = graft.ops.Staging.list(dir)
    if (!entries.exists(_.startsWith("part-"))) {
      val foreign = entries.filterNot(n => n == "_SUCCESS" || n.startsWith("."))
      if (foreign.nonEmpty)
        throw new IllegalStateException(s"bucketed write to $dir left " +
          s"unrecognized entries ${foreign.sorted.mkString(", ")} and no " +
          "part- file; refusing to rewrite it as an empty segment")
      graft.ops.Staging.deleteTree(dir)
      df.limit(0).coalesce(1).write.parquet(dir)
      graft.ops.Staging.writeString(s"$dir/$EmptyMarker", "")
    }
    ()
  }

  /** Marker file [[writeBucketedTable]] leaves in an EMPTY segment dir
    * (written plain — bucket-file-name resolution has nothing to parse
    * for zero rows); [[readBucketedTable]] reads such dirs as plain
    * parquet.
    */
  private val EmptyMarker = "_GRAFT_EMPTY"

  /** Open a bucketed table written by [[writeBucketedTable]]:
    * (re)register a deterministic external-table entry over `dir`
    * carrying the bucket spec, so the scan reports
    * HashPartitioning(`key`, buckets) and joins against it need no
    * Exchange on this side. The entry name is content-addressed by the
    * directory and the directory is immutable once committed, so an
    * existing entry is always a match — reads REUSE it instead of
    * drop+recreate (a drop would race a concurrent reader's in-flight
    * resolution), and creation is serialized per JVM. Entries for
    * GC'd artifact versions are dropped by the artifact writers via
    * [[dropBucketedEntry]].
    */
  def readBucketedTable(spark: org.apache.spark.sql.SparkSession,
                        dir: String, key: String, buckets: Int): DataFrame =
    bucketedLock.synchronized {
      if (graft.ops.Staging.exists(s"$dir/$EmptyMarker"))
        return Tables.parquet(spark, dir) // empty segment, written plain
      val name = bucketedName(dir)
      if (!spark.catalog.tableExists(name)) {
        // CLUSTERED BY requires an explicit column list — take it from
        // the parquet footers (id column type is caller-defined)
        val ddl = Tables.parquet(spark, dir).schema.toDDL
        spark.sql(s"CREATE TABLE `$name` ($ddl) USING parquet " +
          s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
          s"LOCATION '$dir'")
      }
      spark.table(name)
    }

  /** Drop the catalog entry [[readBucketedTable]] registered for `dir`
    * (no-op if none) — the GC hook artifact writers call when a
    * superseded version/segment directory is deleted, so entries never
    * accumulate across versions.
    */
  def dropBucketedEntry(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit =
    bucketedLock.synchronized {
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedName(dir)}`")
      ()
    }
}
