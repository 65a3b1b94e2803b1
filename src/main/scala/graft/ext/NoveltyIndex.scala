package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Segments

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
    import NoveltyIndex.Segs
    val lin = lineage.filter(_.root == path)
    val c = Segments.begin(NoveltyIndex.Artifact, path, store, lin.toSeq.flatMap(_.ssegs))
    val ssegs = lin match {
      case Some(l) if l.deltas.isEmpty => l.ssegs
      case Some(l) =>
        l.ssegs :+ c.add(Segs, l.deltas.map(_()).reduce(_.unionByName(_)), buckets)
      case None => Seq(c.add(Segs, seen, buckets))
    }
    c.publish(Map("n" -> n.toString, "buckets" -> buckets.toString,
      "hash" -> NoveltyIndex.HashVersion, "ssegs" -> ssegs.mkString(",")) ++
      batchId.map("batchId" -> _.toString))
    NoveltyIndex.open(SparkSession.active, path, ssegs, n, buckets)
  }
}

object NoveltyIndex {

  /** Same 48-bit shingle kernel contract as the dup-graph's — an index
    * hashed under a different scheme must fail loudly on read.
    */
  val HashVersion: String = DupGraph.HashVersion

  /** The seen-shingle segments, bucketed on `sh`. */
  private val Segs = Segments.Family("ssegs", "s", Segments.Bucketed("sh"))

  private[graft] val Artifact =
    Segments.Kind("novelty index", "NoveltyIndex", "hash", HashVersion,
      Seq("n", "buckets"), Segs)

  private[ext] final case class Lineage(root: String,
                                        ssegs: Seq[String],
                                        deltas: Seq[() => DataFrame])

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
    val v = Segments.resolve(Artifact, path, store)
    open(spark, path, v.segs("ssegs"), v.manifest("n").toInt,
      v.manifest("buckets").toInt)
  }

  private def open(spark: SparkSession, path: String, ssegs: Seq[String],
                   n: Int, buckets: Int): NoveltyIndex =
    new NoveltyIndex(
      () => ssegs.map(sid => Segments.open(spark, Segs, path, sid, buckets)),
      n, buckets, lineage = Some(Lineage(path, ssegs, deltas = Seq.empty)))

  /** Fold segments back to one ([[DupGraph.compact]] discipline).
    * `retain = 2` when compaction runs in the same fold as an ingest
    * commit (see [[DupGraph.compact]]).
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit = {
    val v0 = Segments.resolve(Artifact, path, store, "compact")
    val ssegs = v0.segs("ssegs")
    if (ssegs.size <= 1) return
    val c = Segments.begin(Artifact, path, store)
    val s = c.add(Segs, Segments.union(spark, path, ssegs),
      v0.manifest("buckets").toInt)
    c.publish(v0.manifest + ("ssegs" -> s), retain)
  }
}
