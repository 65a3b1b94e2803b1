package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the durable IVF-PQ index lifecycle: artifact search ==
  * the in-plan [[Similarity.ivfPqTopK]] composition, incremental
  * refresh == full re-encode (exactly — encoding is pure per-vector),
  * and the segment-incremental commit discipline shared with
  * [[DupGraph]] (batch-sized commits, immutable day-1 segments,
  * compaction, segment GC).
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val (m, subDim) = (4, 16)

  // the synthetic embeddings table (dim 64, dense bigint vec_ids) —
  // same source and norm frame as the suite's ANN queries
  private lazy val norms = Similarity.withNorm(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
    col("vec_id"), col("embedding")).localCheckpoint(false)

  // day-1 / day-2 split with disjoint ids; the seed conventions
  // (vec_id % 100 == 0) must select from day-1 only, so train sees them
  private lazy val day1 = norms.filter(col("vec_id") % 3 =!= 2 ||
    col("vec_id") % 100 === 0).localCheckpoint(false)
  private lazy val day2 = norms.filter(col("vec_id") % 3 === 2 &&
    col("vec_id") % 100 =!= 0).localCheckpoint(false)

  private def queries = norms.filter(col("vec_id").isin(1, 2, 3, 4))

  private def topk(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "vec_id", "rnk", "score")
      .as[(Long, Long, Long, Long)].collect().toSet

  test("artifact search == in-plan ivfPqTopK with the same trained inputs " +
      "(bit-identical ranks and scores, nprobe 1 and 3)") {
    val idx = AnnIndex.train(norms, m, subDim)
    // ivfPqTopK takes centroids in raw (vec_id, v, nm) form
    val centRaw = idx.centroids.select(col("icell").as("vec_id"),
      col("cv").as("v"), col("cn").as("nm"))
    val codesFlat = idx.codes.select("vec_id", "s", "cid")
    for (nprobe <- Seq(1, 3)) {
      val art = topk(idx.search(queries, k = 5, nprobe = nprobe))
      val plan = topk(Similarity.ivfPqTopK(norms, centRaw, queries,
        idx.pqCent, codesFlat, m, subDim, k = 5, nprobe = nprobe))
      assert(art == plan, s"nprobe=$nprobe")
      assert(art.nonEmpty)
    }
  }

  test("refresh == full re-encode, exactly (encoding is pure per-vector)") {
    val idx = AnnIndex.train(day1, m, subDim)
    val refreshed = idx.refresh(day2)
    val full = AnnIndex.encode(day1.unionByName(day2),
      idx.centroids, idx.pqCent, m, subDim)
    assert(refreshed.codes.as[(Long, Long, Long, Long)].collect().toSet ==
      full.as[(Long, Long, Long, Long)].collect().toSet)
    // and at nprobe >= nlist the refreshed index's search equals the
    // in-plan composition over the UNION corpus with the same frozen
    // artifacts (cell pruning off ⇒ any assignment still agrees)
    val nlist = idx.centroids.count().toInt
    val centRaw = idx.centroids.select(col("icell").as("vec_id"),
      col("cv").as("v"), col("cn").as("nm"))
    val art = topk(refreshed.search(queries, k = 5, nprobe = nlist))
    val plan = topk(Similarity.ivfPqTopK(day1.unionByName(day2), centRaw,
      queries, idx.pqCent, refreshed.codes.select("vec_id", "s", "cid"),
      m, subDim, k = 5, nprobe = nlist))
    assert(art == plan && art.nonEmpty)
  }

  test("durable lifecycle: write/read round trip; an incremental commit " +
      "emits ONLY the batch's code segment; compact folds; GC sweeps") {
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val idx = AnnIndex.train(day1, m, subDim)
    idx.write(dir)
    assert(graft.ops.Segments.exists(dir))
    val r1 = AnnIndex.read(spark, dir)
    assert(r1.m == m && r1.subDim == subDim)
    assert(topk(r1.search(queries, k = 5, nprobe = 2)) ==
      topk(idx.search(queries, k = 5, nprobe = 2)))

    // day-2 fold: read → refresh → write back is segment-incremental
    def fileSet(p: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(q => q.toString ->
          java.nio.file.Files.getLastModifiedTime(q).toMillis)
        .map(_.toString).toSet
      finally s.close()
    }
    val c1Before = fileSet(s"$dir/segments/c1")
    val catBefore = fileSet(s"$dir/segments/n1") ++ fileSet(s"$dir/segments/b1")
    val committed = r1.refresh(day2).write(dir)
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("c1", "c2", "n1", "b1"))
    assert(fileSet(s"$dir/segments/c1") == c1Before,
      "day-1 code segment rewritten by the incremental commit")
    assert(fileSet(s"$dir/segments/n1") ++ fileSet(s"$dir/segments/b1") ==
      catBefore,
      "frozen catalog segments rewritten by the incremental commit")
    val mf2 = graft.ops.Staging.readManifest(s"$dir/v2")
    assert(mf2("csegs") == "c1,c2", mf2)
    assert(mf2("centseg") == "n1" && mf2("pqseg") == "b1",
      "ingest commit must REFERENCE the train generation's catalogs")
    // write's returned handle IS the committed view — serving from it
    // equals an immediate re-read (the refresh→serve pipelines skip the
    // re-open round trip on this contract)
    assert(topk(committed.search(queries, k = 5, nprobe = 2)) ==
      topk(AnnIndex.read(spark, dir).search(queries, k = 5, nprobe = 2)))

    // the read-back union equals a one-shot encode over the union
    val r2 = AnnIndex.read(spark, dir)
    val full = AnnIndex.encode(day1.unionByName(day2),
      r2.centroids, r2.pqCent, m, subDim)
    assert(r2.codes.select("vec_id", "icell", "s", "cid")
      .as[(Long, Long, Long, Long)].collect().toSet ==
      full.as[(Long, Long, Long, Long)].collect().toSet)

    // compact → one segment; v2 still pins c1/c2 until it ages out
    AnnIndex.compact(spark, dir)
    assert(graft.ops.Staging.readManifest(s"$dir/v3")("csegs") == "c3")
    val r3 = AnnIndex.read(spark, dir)
    assert(r3.codes.count() == r2.codes.count())
    AnnIndex.compact(spark, dir) // no-op when already compact
    assert(graft.ops.Staging.currentVersion(dir).contains(3L))
    // one more commit ages v2 out — the pre-compaction segments sweep
    // (the generation's catalog segments stay: every live manifest of
    // the generation references them)
    AnnIndex.read(spark, dir).write(dir) // delta-free incremental commit
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("c3", "n1", "b1"), "pre-compaction segments not swept")
    // format guard: a foreign format fails loudly
    graft.ops.Staging.writeManifest(s"$dir/v4",
      graft.ops.Staging.readManifest(s"$dir/v4") + ("fmt" -> "other/v9"))
    intercept[RuntimeException] { AnnIndex.read(spark, dir) }
  }

  test("empty-delta commit: refreshing with a batch that encodes nothing " +
      "never bricks the stored index (empty code segments stay readable)") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_empty").toString
    AnnIndex.train(day1, m, subDim).write(dir)
    // an empty batch (all rows filtered by withNorm's null/zero-norm
    // gate, or an empty micro-batch) — pre-fix the empty partitioned
    // write emitted zero data files and every later read threw
    val r1 = AnnIndex.read(spark, dir)
    r1.refresh(day2.limit(0)).write(dir)
    val r2 = AnnIndex.read(spark, dir) // must not throw
    assert(r2.codes.count() == r1.codes.count())
    assert(topk(r2.search(queries, k = 5, nprobe = 2)) ==
      topk(r1.search(queries, k = 5, nprobe = 2)))
    // and a real refresh continues on top
    r2.refresh(day2).write(dir)
    assert(AnnIndex.read(spark, dir).codes.count() > r1.codes.count())
  }

  test("plan: probe-restricted search never scans unprobed cells' code " +
      "rows as candidates, and nothing corpus-sized shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_plan").toString
    AnnIndex.train(norms, m, subDim).write(dir)
    val idx = AnnIndex.read(spark, dir)
    val df = idx.search(queries, k = 5, nprobe = 1)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codes meet only broadcast frames (probes, LUT) — a sort-merge or
    // shuffled-hash join here would re-shuffle the corpus per query
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the code segments are partitioned by icell on disk, so the scan
    // carries icell as a partition column — candidate row pruning rides
    // the directory layout, not a full-file filter
    assert(p.contains("PartitionFilters") || p.contains("dynamicpruning"), p)
  }

  test("retrain: full new generation from caller-supplied vectors — " +
      "codes re-encoded under fresh centroids, batchId preserved, " +
      "old reader stays serviceable within retention") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_rt").toString
    AnnIndex.train(day1, m, subDim).write(dir, batchId = Some(7L))
    AnnIndex.read(spark, dir).refresh(day2).write(dir, batchId = Some(8L))
    val oldIdx = AnnIndex.read(spark, dir)
    val oldTop = topk(oldIdx.search(queries, k = 5, nprobe = 2))
    val union = day1.unionByName(day2)
    val returned = AnnIndex.retrain(spark, dir, union)
    // the retrained artifact is one full-generation segment whose codes
    // equal a fresh encode of the corpus under the NEW artifacts
    val idx = AnnIndex.read(spark, dir)
    // retrain returns the COMMITTED view (the write() rule): serving
    // from it equals an immediate re-open
    assert(topk(returned.search(queries, k = 5, nprobe = 2)) ==
      topk(idx.search(queries, k = 5, nprobe = 2)))
    val v = graft.ops.Staging.currentVersion(dir).get
    val mf = graft.ops.Staging.readManifest(
      graft.ops.Staging.versionDir(dir, v))
    assert(mf("csegs") == s"c$v", "retrain must commit ONE full segment")
    assert(mf("batchId") == "8", "retrain must preserve the replay guard")
    val fresh = AnnIndex.encode(union, idx.centroids, idx.pqCent, m, subDim)
    assert(idx.codes.as[(Long, Long, Long, Long)].collect().toSet ==
      fresh.as[(Long, Long, Long, Long)].collect().toSet)
    // retraining actually moved the centroids (day-2 vectors now vote)
    assert(idx.centroids.as[(Long, Seq[Double], Double)].collect().toSet !=
      oldIdx.centroids.as[(Long, Seq[Double], Double)].collect().toSet)
    // search serves from the new generation; the pre-retrain reader's
    // lazily-held result is still computable (retention keeps its
    // version's segments for one commit)
    assert(idx.search(queries, k = 5, nprobe = 2).count() == 20)
    assert(topk(oldIdx.search(queries, k = 5, nprobe = 2)) == oldTop)
    // and the streaming loop continues: batch 9 folds normally
    graft.streaming.StreamingAnn.foldBatch(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(col("vec_id") === 0).select(col("vec_id") + 100000L,
          col("embedding")).toDF("vec_id", "embedding"),
      dir, 9L, m, subDim)
    assert(graft.ops.Segments.lastBatchId(dir).contains(9L))
  }

  test("stale-handle guard: a handle held past the writers' retention " +
      "refuses to commit a manifest referencing swept segments — the " +
      "artifact stays healthy instead of bricking on the pointer swap") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_stale").toString
    AnnIndex.train(day1, m, subDim).write(dir) // v1: c1 + n1/b1
    val stale = AnnIndex.read(spark, dir)
    AnnIndex.retrain(spark, dir, day1.unionByName(day2)) // v2: new generation
    AnnIndex.read(spark, dir).write(dir) // v3 ages v1 out; c1/n1/b1 swept
    assert(!graft.ops.Staging.exists(s"$dir/segments/c1"),
      "test premise: the stale handle's segments must be gone")
    // pre-guard, this PUBLISHED a manifest pointing at the swept c1/n1/
    // b1 (catalog reuse writes nothing) — every later read then threw
    // FileNotFound: a bricked artifact. Now it refuses BEFORE any write.
    val e = intercept[IllegalArgumentException] {
      stale.refresh(day2).write(dir)
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
    // the artifact is untouched and fully serviceable
    assert(AnnIndex.read(spark, dir)
      .search(queries, k = 5, nprobe = 2).count() == 20)
  }

  test("train refuses an empty seed set loudly — an empty-trained " +
      "artifact would 'work' while every search returns nothing") {
    val e = intercept[IllegalArgumentException] {
      AnnIndex.train(norms, m, subDim,
        ivfSeedPred = col("vec_id") === -1L)
    }
    assert(e.getMessage.contains("ivfSeedPred"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.train(norms, m, subDim,
        pqSeedPred = col("vec_id") === -1L)
    }
    assert(e2.getMessage.contains("pqSeedPred"), e2.getMessage)
  }
}
