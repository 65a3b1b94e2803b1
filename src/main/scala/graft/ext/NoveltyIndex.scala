package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Durable seen-shingle index — the artifact behind
  * [[TextAnalysis.noveltyRateIncremental]]'s production loop: the set
  * of every shingle hash the corpus has contributed so far, stored as
  * immutable segments BUCKETED on `sh` so each batch's novelty
  * anti-join is exchange-free on the (corpus-sized) index side, and
  * committed with the segment-incremental versioned-pointer discipline
  * shared with [[DupGraph]] and [[AnnIndex]] — per-batch commit bytes
  * follow the batch's NEW shingles, never the accumulated set.
  *
  * Loop shape (daily crawl / `foreachBatch`): `read → novelty(batch)
  * → update(batch) → write` — processing a corpus in id-ordered
  * batches reproduces the full-corpus [[TextAnalysis.noveltyRate]]
  * exactly (the pinned equivalence property, now held across the
  * durable round trip too).
  */
final class NoveltyIndex private[ext] (
    mkSegs: () => Seq[DataFrame], // (sh: bigint) per ingested batch
    val n: Int,
    val buckets: Int,
    private[ext] val lineage: Option[NoveltyIndex.Lineage] = None) {

  private[ext] lazy val segs: Seq[DataFrame] = mkSegs()

  /** Union view of the seen-shingle set (one `sh` column). */
  lazy val seen: DataFrame = segs.reduce(_.unionByName(_))

  /** Per-doc novelty of a NEW batch against everything seen so far —
    * [[TextAnalysis.noveltyRateIncremental]] over the stored segments
    * (chained anti-joins; the index side never shuffles).
    */
  def novelty(newDocs: DataFrame, text: Column, id: Column): DataFrame =
    TextAnalysis.noveltyReportSegs(newDocs, text, id, n, segs)

  /** Fold the batch in: the delta segment is the batch's distinct
    * shingles ABSENT from every stored segment (so segments stay
    * disjoint and `seen` is an exact set union — no segment ever
    * needs deduplication against another at read time).
    */
  def update(newDocs: DataFrame, text: Column, id: Column): NoveltyIndex = {
    val batch = newDocs.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(text, n))).as("sh"))
      .distinct()
    val delta = segs.foldLeft(batch)((acc, s) =>
      acc.join(s, Seq("sh"), "left_anti"))
    // The READ path (seen/novelty on the un-committed handle)
    // checkpoints the delta so repeated consumers materialize the batch
    // shingle projection + anti-join chain once — but LAZILY, inside
    // the segment closure: constructing even a lazy checkpoint costs
    // driver-side planning + codegen compilation the update→write fast
    // path must not pay (write() evaluates the plan exactly once into
    // the segment file; its returned committed view re-opens from
    // disk). The lineage closure hands write() the checkpointed frame
    // IF anything already forced it (a CHAINED update builds its
    // anti-join over it — raw there would evaluate this delta twice in
    // one commit), else the raw plan. localCheckpoint, not persist:
    // the CacheManager dedupes persisted plans ACROSS invocations,
    // which falsifies benchmarks — the repo-wide rule.
    @volatile var ckForced = false
    lazy val deltaCk = { ckForced = true; delta.localCheckpoint(false) }
    new NoveltyIndex(() => segs :+ deltaCk, n, buckets,
      lineage = lineage.map(l =>
        l.copy(deltas = l.deltas :+ (() => if (ckForced) deltaCk else delta))))
  }

  /** Commit under `path`: an index whose lineage roots here emits only
    * its unwritten delta segments (bucketed on `sh` via
    * [[graft.ops.Layout.writeBucketedTable]]); otherwise the whole set
    * as one segment. Manifest records n/buckets/hash-version/segments;
    * GC sweeps segments with their last referencing version.
    *
    * Returns the COMMITTED view (segments re-opened from the files just
    * written, no pending deltas) — equal to an immediate
    * [[NoveltyIndex.read]], so an update→score pipeline skips the
    * re-open round trip.
    */
  def write(path: String, batchId: Option[Long] = None,
            store: graft.ops.PointerStore =
              graft.ops.PointerStore.File): NoveltyIndex = {
    val spark = SparkSession.active
    val (dir, v) = graft.ops.Staging.nextVersionDir(path, store)
    // stale-handle guard (the AnnIndex.write rule): a handle held past
    // the writers' retention must refuse BEFORE the pointer swap, not
    // publish a manifest referencing swept segments
    lineage.filter(_.root == path).foreach { l =>
      val missing = l.ssegs.filterNot(sid =>
        graft.ops.Staging.exists(NoveltyIndex.segDir(path, sid)))
      require(missing.isEmpty,
        s"NoveltyIndex.write: this handle references segments " +
          s"[${missing.mkString(", ")}] that no longer exist at $path — " +
          "the artifact was compacted past this reader's retention " +
          "window. Re-read the index and re-apply the batch.")
    }
    val ssegs = lineage.filter(_.root == path) match {
      case Some(l) =>
        if (l.deltas.nonEmpty) {
          NoveltyIndex.writeSegment(
            l.deltas.map(_()).reduce(_.unionByName(_)), path, s"s$v", buckets)
          l.ssegs :+ s"s$v"
        } else l.ssegs
      case None =>
        NoveltyIndex.writeSegment(seen, path, s"s$v", buckets)
        Seq(s"s$v")
    }
    graft.ops.Staging.writeManifest(dir,
      Map("n" -> n.toString, "buckets" -> buckets.toString,
        "hash" -> NoveltyIndex.HashVersion, "ssegs" -> ssegs.mkString(",")) ++
        batchId.map("batchId" -> _.toString))
    graft.ops.Staging.commitVersion(path, v, store = store)
    graft.ops.Staging.gcSegments(path, Seq("ssegs"),
      d => graft.ops.Layout.dropBucketedEntry(spark, d), store)
    new NoveltyIndex(
      () => ssegs.map(sid => NoveltyIndex.openSegment(spark, path, sid, buckets)),
      n, buckets,
      lineage = Some(NoveltyIndex.Lineage(path, ssegs, deltas = Seq.empty)))
  }
}

object NoveltyIndex {

  /** Same 48-bit shingle kernel contract as the dup-graph's — an index
    * hashed under a different scheme must fail loudly on read.
    */
  val HashVersion: String = DupGraph.HashVersion

  private[ext] final case class Lineage(root: String,
                                        ssegs: Seq[String],
                                        deltas: Seq[() => DataFrame])

  private def segDir(root: String, segId: String): String =
    s"$root/segments/$segId"

  private def writeSegment(df: DataFrame, root: String, segId: String,
                           buckets: Int): Unit = {
    val dir = segDir(root, segId)
    graft.ops.Staging.deleteTree(dir) // deterministic id: retry-safe
    graft.ops.Layout.dropBucketedEntry(df.sparkSession, dir)
    if (buckets > 0)
      graft.ops.Layout.writeBucketedTable(
        df.repartition(buckets, col("sh")), dir, "sh", buckets)
    else df.write.mode("overwrite").parquet(dir)
  }

  /** Build the initial index from the day-1 corpus. */
  def build(docs: DataFrame, text: Column, id: Column, n: Int,
            buckets: Int = 32): NoveltyIndex = {
    val firsts = docs.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(text, n))).as("sh"))
      .distinct()
    new NoveltyIndex(() => Seq(firsts), n, buckets)
  }

  /** Re-open the LATEST committed version (the shared versioned-pointer
    * reader contract — see [[DupGraph.read]]).
    */
  def read(spark: SparkSession, path: String,
           store: graft.ops.PointerStore =
             graft.ops.PointerStore.File): NoveltyIndex = {
    val v = graft.ops.Staging.currentVersion(path, store).getOrElse(
      sys.error(s"no committed novelty index at $path (missing LATEST)"))
    val dir = graft.ops.Staging.versionDir(path, v)
    val mf = graft.ops.Staging.readManifest(dir)
    mf.get("hash").filter(_ != HashVersion).foreach(h =>
      sys.error(s"novelty index at $path hashed under '$h'; this build " +
        s"speaks '$HashVersion' — rebuild, do not refresh"))
    val buckets = mf("buckets").toInt
    val ssegs = graft.ops.Staging.segList(mf, "ssegs")
    new NoveltyIndex(
      () => ssegs.map(sid => openSegment(spark, path, sid, buckets)),
      n = mf("n").toInt, buckets = buckets,
      lineage = Some(Lineage(path, ssegs, deltas = Seq.empty)))
  }

  private def openSegment(spark: SparkSession, root: String, sid: String,
                          buckets: Int): DataFrame = {
    val d = segDir(root, sid)
    if (buckets > 0) graft.ops.Layout.readBucketedTable(spark, d, "sh", buckets)
    else Tables.parquet(spark, d)
  }

  /** True iff a complete committed version exists at `path`. */
  def exists(path: String,
             store: graft.ops.PointerStore =
               graft.ops.PointerStore.File): Boolean =
    graft.ops.Staging.currentVersion(path, store).isDefined

  /** The last streaming batch id folded into the committed index, if
    * the writer recorded one ([[DupGraph.lastBatchId]]'s contract —
    * the replay guard for exactly-once `foreachBatch` maintenance).
    */
  def lastBatchId(path: String,
                  store: graft.ops.PointerStore =
                    graft.ops.PointerStore.File): Option[Long] =
    graft.ops.Staging.currentVersion(path, store).flatMap { v =>
      graft.ops.Staging.readManifest(graft.ops.Staging.versionDir(path, v))
        .get("batchId").map(_.toLong)
    }

  /** Fold segments back to one ([[DupGraph.compact]] discipline).
    * `retain = 2` when compaction runs in the same fold as an ingest
    * commit (see [[DupGraph.compact]]).
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit = {
    val v0 = graft.ops.Staging.currentVersion(path, store).getOrElse(
      sys.error(s"no committed novelty index at $path (missing LATEST)"))
    val mf = graft.ops.Staging.readManifest(
      graft.ops.Staging.versionDir(path, v0))
    val ssegs = graft.ops.Staging.segList(mf, "ssegs")
    if (ssegs.size <= 1) return
    val (dir, v) = graft.ops.Staging.nextVersionDir(path, store)
    writeSegment(
      ssegs.map(sid => Tables.parquet(spark, segDir(path, sid)))
        .reduce(_.unionByName(_)),
      path, s"s$v", mf("buckets").toInt)
    graft.ops.Staging.writeManifest(dir, (mf - "ssegs") + ("ssegs" -> s"s$v"))
    graft.ops.Staging.commitVersion(path, v, retain, store)
    graft.ops.Staging.gcSegments(path, Seq("ssegs"),
      d => graft.ops.Layout.dropBucketedEntry(spark, d), store)
  }
}
