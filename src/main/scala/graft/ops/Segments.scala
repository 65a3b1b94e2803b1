package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.Tables

/** The one segment lifecycle of the durable indexes (DupGraph,
  * HammingIndex, NoveltyIndex, AnnIndex): immutable segments under
  * `root/segments/`, one manifest per version dir listing the live
  * segment ids of each family, and a versioned-pointer commit
  * ([[Staging]]) that publishes a version only after its segments and
  * manifest are on disk. An index declares its [[Kind]] once — its
  * segment families (manifest key, id prefix, on-disk shape) and its
  * format stamp — and keeps only its domain logic; resolving the
  * committed version, the stale-handle guard, segment write and open,
  * and the manifest → pointer → GC epilogue happen here and nowhere
  * else.
  */
object Segments {

  /** How a family's segments lie on disk. */
  sealed trait Shape

  /** Plain parquet. */
  case object Plain extends Shape

  /** Hash-bucketed and bucket-sorted on `key` when the artifact's
    * bucket count is positive, plain parquet otherwise: the stored side
    * of a recurring join on `key`, which then reads its bucket files
    * with no Exchange ([[Layout.writeBucketedTable]]).
    */
  final case class Bucketed(key: String) extends Shape

  /** One directory per `key` value, so a probe join prunes whole
    * directories.
    */
  final case class Partitioned(key: String) extends Shape

  /** One file: catalog-sized tables, whose every later open reads one
    * footer.
    */
  case object OneFile extends Shape

  /** One segment family: the manifest key listing its live segment ids
    * (comma-separated), the id prefix (the segment a version `v`
    * writes is `prefix + v`, so a crash-retry of the same version
    * targets exactly its own debris) and its shape.
    */
  final case class Family(key: String, prefix: String, shape: Shape = Plain)

  /** One kind of segmented artifact. `name` is what errors call it,
    * `owner` the class whose `write` a stale handle calls. Its one
    * readable layout is what its writer stamps: `formatKey` naming
    * `format`, a value for each build parameter in `params`, and a
    * non-empty segment list for each family ([[resolve]] refuses
    * anything else).
    */
  final case class Kind(name: String, owner: String, formatKey: String,
                        format: String, params: Seq[String],
                        families: Family*) {
    def keys: Seq[String] = families.map(_.key)
  }

  /** A committed version's manifest. */
  final case class Version(manifest: Map[String, String]) {
    def segs(key: String): Seq[String] = Staging.segList(manifest, key)
  }

  def dir(root: String, sid: String): String = s"$root/segments/$sid"

  private def committedManifest(root: String,
                                store: PointerStore): Option[Map[String, String]] =
    Staging.currentVersion(root, store).map(v =>
      Staging.readManifest(Staging.versionDir(root, v)))

  /** Resolve the version `root`'s pointer names and read its manifest:
    * the one place that decides whether a layout is readable. The
    * manifest must name the kind's current format and carry every
    * build parameter and every family's segment list; anything else (a
    * foreign format, a pre-segment or pre-manifest layout) is refused
    * with a rebuild error (`action` names what the caller must not do
    * with it). Throws when nothing was ever committed ([[exists]]
    * probes).
    */
  def resolve(kind: Kind, root: String, store: PointerStore,
              action: String = "refresh"): Version = {
    val n = Staging.currentVersion(root, store).getOrElse(
      sys.error(s"no committed ${kind.name} at $root (missing LATEST)"))
    val mf = Staging.readManifest(Staging.versionDir(root, n))
    val fmt = mf.get(kind.formatKey)
    val missing = (kind.params ++ kind.keys).filterNot(k => mf.get(k).exists(_.nonEmpty))
    if (!fmt.contains(kind.format) || missing.nonEmpty)
      sys.error(s"${kind.name} at $root written under " +
        fmt.fold("no format")(f => s"'$f'") +
        (if (missing.isEmpty) "" else s" without ${missing.mkString(", ")}") +
        s"; this build speaks '${kind.format}' — rebuild, do not $action")
    Version(mf)
  }

  /** True iff a complete committed version exists at `root` — the
    * restart probe of incremental loops (the pointer is written only
    * after every segment and the manifest are on disk).
    */
  def exists(root: String, store: PointerStore = PointerStore.File): Boolean =
    Staging.currentVersion(root, store).isDefined

  /** The last streaming batch id folded into the committed version, if
    * its writer recorded one — the replay guard of the streaming
    * maintainers: a micro-batch re-delivered after a crash between the
    * artifact's pointer commit and the stream's checkpoint commit must
    * not be folded twice.
    */
  def lastBatchId(root: String,
                  store: PointerStore = PointerStore.File): Option[Long] =
    committedManifest(root, store).flatMap(_.get("batchId")).map(_.toLong)

  /** Live segment count of the committed version: the largest of the
    * `keys` lists, 0 when nothing is committed. Metadata only.
    */
  def segmentCount(root: String, keys: Seq[String],
                   store: PointerStore = PointerStore.File): Int =
    committedManifest(root, store)
      .fold(0)(mf => keys.map(Staging.segList(mf, _).size).max)

  /** Write `df` as segment `sid` of family `f`. The dir is cleaned first
    * (segment ids are deterministic per version, so this is a
    * crash-retry's own debris; bucketed CTAS refuses a non-empty
    * location).
    *
    * An input that fits one task ([[SmallPlan.fitsOneTask]]: Spark's
    * size estimate within what AQE's coalescing always merges into one
    * partition, and no operator that can outgrow its estimate) is
    * written by one task with no shuffle (`coalesce(1)`): a plain
    * segment as one file, a bucketed one as one file per bucket (the
    * writer sorts by bucket id, then `key`, inside the task), a
    * partitioned one as one file per `key` value. Any other input is
    * repartitioned on its key first when bucketed or partitioned, so
    * each task writes one bucket or cell instead of fanning out tasks ×
    * buckets small files, and a plain one is written one file per input
    * split. Either way the files lie as the shape's readers expect.
    */
  def write(f: Family, df: DataFrame, root: String, sid: String,
            buckets: Int = 0): Unit = {
    val d = dir(root, sid)
    Staging.deleteTree(d)
    // `df` in one task when it fits one, else `spread`
    def tasks(spread: => DataFrame): DataFrame =
      if (SmallPlan.fitsOneTask(df.queryExecution.sparkPlan,
          df.sparkSession.sessionState.conf)) df.coalesce(1)
      else spread
    f.shape match {
      case Plain => tasks(df).write.mode("overwrite").parquet(d)
      case OneFile => df.coalesce(1).write.parquet(d)
      case Bucketed(key) =>
        Layout.dropBucketedEntry(df.sparkSession, d)
        if (buckets > 0)
          Layout.writeBucketedTable(tasks(df.repartition(buckets, col(key))), d,
            key, buckets)
        else tasks(df).write.mode("overwrite").parquet(d)
      case Partitioned(key) =>
        tasks(df.repartition(col(key))).write.partitionBy(key).parquet(d)
        // An EMPTY partitioned write leaves no data file (only
        // _SUCCESS), which no later read can open. Empty deltas are
        // legitimate but rare, so detect one from the write's own
        // listing instead of probing the input first (an extra job on
        // every commit), and rewrite it as zero-row plain parquet: the
        // full schema, `key` as a regular column.
        if (!Staging.list(d).exists(_.startsWith(s"$key="))) {
          Staging.deleteTree(d)
          df.limit(0).coalesce(1).write.parquet(d)
        }
    }
  }

  /** Open segment `sid` of family `f` as its shape reads: through the
    * bucketed catalog entry when bucketed, else a plain scan.
    */
  def open(spark: SparkSession, f: Family, root: String, sid: String,
           buckets: Int = 0): DataFrame = f.shape match {
    case Bucketed(key) if buckets > 0 =>
      Layout.readBucketedTable(spark, dir(root, sid), key, buckets)
    case _ => Tables.parquet(spark, dir(root, sid))
  }

  /** Plain scans of segments `sids`, unioned by name — what a compaction
    * folds.
    */
  def union(spark: SparkSession, root: String, sids: Seq[String]): DataFrame =
    sids.map(sid => Tables.parquet(spark, dir(root, sid))).reduce(_.unionByName(_))

  /** Stage the next version of `root` ([[Staging.nextVersionDir]]: lease
    * checked, stale dir cleared). `handle` lists the stored segments a
    * commit from an opened handle re-references instead of rewriting:
    * if any was swept (the handle was held past the writers' retention,
    * the artifact compacted or retrained meanwhile) the commit refuses
    * here, before any write, rather than publish a manifest that names
    * missing files. O(segments) metadata.
    */
  def begin(kind: Kind, root: String, store: PointerStore,
            handle: Seq[String] = Nil): Commit = {
    val (d, n) = Staging.nextVersionDir(root, store)
    val missing = handle.filterNot(sid => Staging.exists(dir(root, sid)))
    require(missing.isEmpty,
      s"${kind.owner}.write: this handle references segments " +
        s"[${missing.mkString(", ")}] that no longer exist at $root — the " +
        "artifact was compacted or retrained past this reader's retention " +
        "window. Re-read it and re-apply the batch.")
    new Commit(kind, root, d, n, store)
  }

  /** A version being committed: segments [[add]]ed, then [[publish]]ed. */
  final class Commit private[Segments] (kind: Kind, root: String,
                                        dir: String, n: Long,
                                        store: PointerStore) {
    private val jobs = Seq.newBuilder[() => Unit]
    private def id(f: Family): String = s"${f.prefix}$n"

    /** Queue `df` (evaluated by the write job) as this version's segment
      * of `f`; returns its id.
      */
    def add(f: Family, df: => DataFrame, buckets: Int = 0): String = {
      jobs += (() => write(f, df, root, id(f), buckets))
      id(f)
    }

    /** Write the queued segments (concurrently: independent jobs over
      * materialized inputs, [[Staging.parJobs]]), then the manifest,
      * then swing the pointer keeping `retain` superseded versions
      * (`retain = 2` for the second commit of one streaming fold, so a
      * reader current at fold start still resolves complete segments),
      * then sweep the segments no retained manifest references,
      * dropping a swept bucketed segment's catalog entry.
      */
    def publish(manifest: Map[String, String], retain: Int = 1): Unit = {
      Staging.parJobs(jobs.result(): _*)
      Staging.writeManifest(dir, manifest)
      Staging.commitVersion(root, n, retain, store)
      Staging.gcSegments(root, kind.keys, { d =>
        val sid = d.drop(d.lastIndexOf('/') + 1)
        if (kind.families.exists(f => f.shape.isInstanceOf[Bucketed] &&
            sid.startsWith(f.prefix)))
          Layout.dropBucketedEntry(SparkSession.active, d)
      }, store)
    }
  }
}
