package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the durable banded-hamming fingerprint index: refresh ==
  * rebuild held across the durable round trip, segment-incremental
  * commits, committed-view equality, compaction invisibility, and the
  * zero-Exchange contract on the stored side of every cross-pair join
  * (the 100 TB refresh cost).
  */
class HammingIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic near-dup fingerprints: the media fixtures' group
  // geometry (targetFp — id-triples within hamming <= 3, groups ~32
  // bits apart), so every batch split carries both internal AND
  // cross-batch true pairs (triples straddle the batch boundaries)
  private def mkFps(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Multimodal.targetFp(i))).toDF("doc_id", "fp")

  private def pairSet(df: DataFrame) =
    df.select("da", "db", "hamming").as[(Long, Long, Long)].collect().toSet

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("durable 3-batch loop: pairs == one-shot simhashHammingPairs of " +
      "the union (refresh == rebuild); commits are segment-incremental; " +
      "committed view == immediate read; batchId recorded") {
    val dir = tmp("hamidx")
    val all = mkFps(0L until 90L)
    val Seq(b1, b2, b3) =
      Seq(0L until 29L, 29L until 61L, 61L until 90L).map(r => mkFps(r))
    val truth = pairSet(Dedup.simhashHammingPairs(all, maxDist = 3,
      bands = 4, bits = 64))
    assert(truth.nonEmpty, "test premise: the corpus must carry pairs")

    HammingIndex.build(b1, maxDist = 3, bands = 4, bits = 64, buckets = 8)
      .write(dir, batchId = Some(0L))
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i1", "p1"))

    val committed = HammingIndex.read(spark, dir).refresh(b2)
      .write(dir, batchId = Some(1L))
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i1", "p1", "i2", "p2"),
      "day-2 commit must add exactly one segment pair")
    assert(graft.ops.Segments.lastBatchId(dir).contains(1L))
    // committed view == an immediate re-open (the write() rule)
    assert(pairSet(committed.pairs) ==
      pairSet(HammingIndex.read(spark, dir).pairs))

    HammingIndex.read(spark, dir).refresh(b3).write(dir, batchId = Some(2L))
    val idx = HammingIndex.read(spark, dir)
    assert(pairSet(idx.pairs) == truth,
      "durable incremental loop diverged from the one-shot rebuild")
    // the fingerprint view recovers exactly the ingested frame
    assert(idx.fingerprints.as[(Long, Long)].collect().toSet ==
      all.as[(Long, Long)].collect().toSet)
    // a straddling triple really did land as a CROSS pair: 28 is in b1
    // only, 29 in b2 only (group 9 = {27, 28, 29})
    assert(truth.exists(p => p._1 == 28L && p._2 == 29L),
      "test premise: a cross-batch true pair must exist")
  }

  test("an EMPTY batch folds cleanly: readable segments, pairs " +
      "unchanged, later refreshes unaffected") {
    val dir = tmp("hamidx_empty")
    val b1 = mkFps(0L until 12L)
    HammingIndex.build(b1, maxDist = 3, bands = 4, bits = 64, buckets = 8)
      .write(dir)
    val before = pairSet(HammingIndex.read(spark, dir).pairs)
    HammingIndex.read(spark, dir)
      .refresh(Seq.empty[(Long, Long)].toDF("doc_id", "fp")).write(dir)
    val afterEmpty = HammingIndex.read(spark, dir)
    assert(pairSet(afterEmpty.pairs) == before)
    assert(afterEmpty.fingerprints.count() == 12)
    afterEmpty.refresh(mkFps(12L until 24L)).write(dir)
    assert(pairSet(HammingIndex.read(spark, dir).pairs) ==
      pairSet(Dedup.simhashHammingPairs(mkFps(0L until 24L), 3, 4, 64)))
  }

  test("compact folds both families to one segment each, pairs " +
      "unchanged (compaction invisibility); superseded segments sweep " +
      "with their versions") {
    val dir = tmp("hamidx_cmp")
    val Seq(b1, b2, b3) =
      Seq(0L until 20L, 20L until 40L, 40L until 60L).map(r => mkFps(r))
    HammingIndex.build(b1, maxDist = 3, bands = 4, bits = 64, buckets = 8)
      .write(dir)
    HammingIndex.read(spark, dir).refresh(b2).write(dir)
    val truth = pairSet(Dedup.simhashHammingPairs(
      mkFps(0L until 40L), 3, 4, 64))
    HammingIndex.compact(spark, dir) // v3: i3 + p3
    val idx = HammingIndex.read(spark, dir)
    assert(pairSet(idx.pairs) == truth, "compaction changed the pairs")
    val mf = graft.ops.Staging.readManifest(
      graft.ops.Staging.versionDir(dir, 3L))
    assert(mf("isegs") == "i3" && mf("psegs") == "p3")
    // a second compact is a no-op (already compact)
    HammingIndex.compact(spark, dir)
    assert(graft.ops.Staging.currentVersion(dir).contains(3L))
    // the next ingest commit ages the pre-compact version out and its
    // segments sweep (retain = 1)
    HammingIndex.read(spark, dir).refresh(b3).write(dir)
    val segs = graft.ops.Staging.list(s"$dir/segments").toSet
    assert(segs == Set("i3", "p3", "i4", "p4"), segs)
    assert(pairSet(HammingIndex.read(spark, dir).pairs) ==
      pairSet(Dedup.simhashHammingPairs(mkFps(0L until 60L), 3, 4, 64)))
  }

  test("compact(rebucket) re-lays the index at a new bucket count: " +
      "pairs and fingerprints unchanged, manifest records the new " +
      "count, and a later refresh joins the new bucket space") {
    val dir = tmp("hamidx_rb")
    HammingIndex.build(mkFps(0L until 30L), maxDist = 3, bands = 4,
      bits = 64, buckets = 4).write(dir)
    HammingIndex.read(spark, dir).refresh(mkFps(30L until 60L)).write(dir)
    val before = pairSet(HammingIndex.read(spark, dir).pairs)
    // widen 4 -> 16 (the grown-corpus move a refresh-time parameter
    // change deliberately cannot make)
    HammingIndex.compact(spark, dir, rebucket = Some(16))
    val idx = HammingIndex.read(spark, dir)
    assert(idx.buckets == 16)
    assert(pairSet(idx.pairs) == before, "rebucket changed the pairs")
    assert(idx.fingerprints.count() == 60)
    // rebucket on an ALREADY-compact artifact still rewrites (the
    // size<=1 early-out must not skip a bucket-count change)...
    HammingIndex.compact(spark, dir, rebucket = Some(8))
    assert(HammingIndex.read(spark, dir).buckets == 8)
    // ...but a same-count compact of a compact artifact stays a no-op
    val v = graft.ops.Staging.currentVersion(dir)
    HammingIndex.compact(spark, dir, rebucket = Some(8))
    assert(graft.ops.Staging.currentVersion(dir) == v)
    // day-3 refresh against the re-laid index: still == rebuild
    HammingIndex.read(spark, dir).refresh(mkFps(60L until 90L)).write(dir)
    assert(pairSet(HammingIndex.read(spark, dir).pairs) ==
      pairSet(Dedup.simhashHammingPairs(mkFps(0L until 90L), 3, 4, 64)))
  }

  test("stale handle refuses to commit over swept segments; format " +
      "guard refuses a foreign banding scheme") {
    val dir = tmp("hamidx_stale")
    HammingIndex.build(mkFps(0L until 12L), maxDist = 3, bands = 4,
      bits = 64, buckets = 8).write(dir)
    val stale = HammingIndex.read(spark, dir)
    HammingIndex.read(spark, dir).refresh(mkFps(12L until 24L)).write(dir)
    HammingIndex.compact(spark, dir)
    HammingIndex.read(spark, dir).refresh(mkFps(24L until 36L)).write(dir)
    assert(!graft.ops.Staging.exists(s"$dir/segments/i1"),
      "test premise: the stale handle's segments must be gone")
    // refresh on the stale handle fails LOUDLY at segment open (the
    // swept bucket files are gone) — even earlier than the write
    // guard, and before anything is published
    intercept[Exception] { stale.refresh(mkFps(36L until 48L)).write(dir) }
    // the no-delta re-commit path cannot fail at a segment read (it
    // writes nothing) — the explicit manifest guard must catch it
    // BEFORE publishing a manifest that points at swept files
    val e = intercept[IllegalArgumentException] { stale.write(dir) }
    assert(e.getMessage.contains("retention"), e.getMessage)
    // artifact untouched and serviceable
    assert(HammingIndex.read(spark, dir).fingerprints.count() == 36)
    // format guard
    val v = graft.ops.Staging.currentVersion(dir).get
    val d = graft.ops.Staging.versionDir(dir, v)
    val mf = graft.ops.Staging.readManifest(d)
    graft.ops.Staging.writeManifest(d, mf + ("fmt" -> "hamming/v0"))
    val e2 = intercept[RuntimeException] { HammingIndex.read(spark, dir) }
    assert(e2.getMessage.contains("hamming/v0"), e2.getMessage)
  }

  test("plan: the STORED side of every cross-pair join reads its bucket " +
      "files with NO Exchange (the 100 TB refresh cost)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = tmp("hamidx_plan")
    val Seq(b1, b2, b3) =
      Seq(0L until 20L, 20L until 40L, 40L until 60L).map(r => mkFps(r))
    HammingIndex.build(b1, maxDist = 3, bands = 4, bits = 64, buckets = 8)
      .write(dir)
    HammingIndex.read(spark, dir).refresh(b2).write(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = HammingIndex.read(spark, dir)
      assert(idx.idxSegs.size == 2)
      // audit the cross-pair plan PRE-checkpoint (the refresh path
      // wraps its deltas in lazy localCheckpoints, whose plans print
      // as RDD scans) — same builder, same stored frames
      val delta = HammingIndex.crossPairs(
        HammingIndex.banded(b3, bands = 4, bits = 64),
        idx.idxSegs, maxDist = 3).get
      val plan = delta.queryExecution.executedPlan
      val joins = plan.collect { case j: BaseJoinExec => j }
      val crosses = joins.filter(
        _.right.collectFirst { case f: FileSourceScanExec => f }.isDefined)
      assert(crosses.size == 2, s"expected one cross join per stored " +
        s"segment:\n$plan")
      crosses.foreach { j =>
        assert(j.right.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
          s"stored side re-shuffled:\n${j.right}")
        val scan = j.right.collectFirst { case f: FileSourceScanExec => f }.get
        assert(scan.bucketedScan, s"stored scan not bucketed:\n$scan")
      }
      // and the refresh over the bucketed reads stays correct
      assert(pairSet(idx.refresh(b3).write(dir).pairs) ==
        pairSet(Dedup.simhashHammingPairs(mkFps(0L until 60L), 3, 4, 64)))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
