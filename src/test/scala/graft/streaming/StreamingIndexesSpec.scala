package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ext.{AnnIndex, NoveltyIndex, Similarity, TextAnalysis}

/** Pins the streamed maintenance loops for the two r15 durable
  * artifacts: batches folded through `foreachBatch` leave EXACTLY the
  * artifact a one-shot build over the union produces (the streamed
  * refresh==rebuild contract [[StreamingDedupSpec]] pins for the dup
  * graph), and the shared exactly-once replay discrimination holds
  * (exact-last replay inert; below-stored id fails loudly).
  */
class StreamingIndexesSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(ids: Seq[Long]) = ids.map(i =>
    (i, s"w${i % 6} w${(i + 1) % 6} w${(i + 2) % 6} w${i % 4} w${i % 9}"))

  test("StreamingNovelty.maintain: the stored seen set after 3 batches " +
      "equals the union corpus's distinct shingles; versions advance") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("snov").toString
    val batches = Seq(1L to 10L, 11L to 20L, 21L to 30L).map(mkDocs)
    val input = MemoryStream[(Long, String)]
    val q = StreamingNovelty.maintain(
      input.toDS().toDF("doc_id", "text"), path, n = 3)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val idx = NoveltyIndex.read(spark, path)
    val all = batches.flatten.toDF("doc_id", "text")
    val expect = all.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(col("text"), 3))).as("sh"))
      .distinct().count()
    assert(idx.seen.count() == expect)
    // one segment per micro-batch
    assert(graft.ops.Staging.readManifest(s"$path/v3")("ssegs") == "s1,s2,s3")
    assert(graft.ops.Staging.currentVersion(path).contains(3L))
    // a fresh batch scores correctly against the streamed index
    val b4 = mkDocs(31L to 35L).toDF("doc_id", "text")
    val viaIdx = idx.novelty(b4, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = TextAnalysis.noveltyRateIncremental(b4, col("text"),
        col("doc_id"), 3, idx.seen)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaIdx == direct)
  }

  /** One maintainer's fold of one micro-batch into `path`, the batches
    * it folds (day 0 and day 1), and a row count of what is stored.
    */
  private case class Maintainer(name: String,
                                      fold: (DataFrame, String, Long) => Unit,
                                      batches: () => (DataFrame, DataFrame),
                                      rows: String => Long)

  private lazy val maintainers = Seq(
    Maintainer("StreamingNovelty",
      (b, p, id) => StreamingNovelty.foldBatch(b, p, id, n = 3, buckets = 32),
      () => (mkDocs(1L to 10L).toDF("doc_id", "text"),
        mkDocs(11L to 20L).toDF("doc_id", "text")),
      p => NoveltyIndex.read(spark, p).seen.count()),
    Maintainer("StreamingDedup",
      (b, p, id) => StreamingDedup.foldBatch(b, p, id),
      () => (mkDocs(1L to 10L).toDF("doc_id", "text"),
        mkDocs(11L to 20L).toDF("doc_id", "text")),
      p => graft.ext.DupGraph.read(spark, p).index.count()),
    Maintainer("StreamingHamming",
      (b, p, id) => StreamingHamming.foldBatch(b, p, id),
      () => {
        def fps(ids: Seq[Long]) =
          ids.map(i => (i, graft.ext.Multimodal.targetFp(i))).toDF("doc_id", "fp")
        (fps(0L until 20L), fps(20L until 40L))
      },
      p => graft.ext.HammingIndex.read(spark, p).fingerprints.count()),
    Maintainer("StreamingAnn",
      (b, p, id) => StreamingAnn.foldBatch(b, p, id, m = 4, subDim = 16),
      () => (embScaled.filter(col("vec_id") % 3 =!= 2 || col("vec_id") % 100 === 0),
        embScaled.filter(col("vec_id") % 3 === 2 && col("vec_id") % 100 =!= 0)),
      p => AnnIndex.read(spark, p).codes.count()))

  // the committed version, its whole manifest (segment lists, the
  // last-applied batch id) and what it stores
  private def committed(mt: Maintainer, path: String) = {
    val v = graft.ops.Staging.currentVersion(path).get
    (v, graft.ops.Staging.readManifest(graft.ops.Staging.versionDir(path, v)),
      mt.rows(path))
  }

  maintainers.foreach { mt =>
    test(s"${mt.name} replay: exact-last inert, below-stored throws") {
      val path = java.nio.file.Files.createTempDirectory(s"rp_${mt.name}").toString
      val (b0, b1) = mt.batches()
      mt.fold(b0, path, 0L)
      mt.fold(b1, path, 1L)
      val before = committed(mt, path)
      assert(before._2.get("batchId").contains("1"), before)
      mt.fold(b1, path, 1L) // replay
      assert(committed(mt, path) == before)
      val e = intercept[IllegalStateException](mt.fold(b0, path, 0L))
      assert(e.getMessage.contains("checkpoint"), e.getMessage)
      assert(committed(mt, path) == before)
    }
  }

  private lazy val embScaled = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("StreamingAnn: batches folded through foldBatch equal a one-shot " +
      "encode over the union with the same frozen artifacts; replay " +
      "guard holds") {
    val path = java.nio.file.Files.createTempDirectory("sann").toString
    val b0 = embScaled.filter(col("vec_id") % 3 =!= 2 ||
      col("vec_id") % 100 === 0) // must contain the seed ids
    val b1 = embScaled.filter(col("vec_id") % 3 === 2 &&
      col("vec_id") % 100 =!= 0)
    StreamingAnn.foldBatch(b0, path, 0L, m = 4, subDim = 16)
    StreamingAnn.foldBatch(b1, path, 1L, m = 4, subDim = 16)
    val idx = AnnIndex.read(spark, path)
    assert(graft.ops.Staging.readManifest(s"$path/v2")("csegs") == "c1,c2")
    val union = Similarity.withNorm(embScaled, col("vec_id"), col("embedding"))
    val full = AnnIndex.encode(union, idx.centroids, idx.pqCent, 4, 16)
    assert(idx.codes.select("vec_id", "icell", "s", "cid")
      .as[(Long, Long, Long, Long)].collect().toSet ==
      full.as[(Long, Long, Long, Long)].collect().toSet)
    // exact-last replay inert; below-stored id throws
    val before = graft.ops.Staging.currentVersion(path).get
    StreamingAnn.foldBatch(b1, path, 1L, m = 4, subDim = 16)
    assert(graft.ops.Staging.currentVersion(path).contains(before))
    val e = intercept[IllegalStateException] {
      StreamingAnn.foldBatch(b0, path, 0L, m = 4, subDim = 16)
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
  }

  test("StreamingAnn bootstrap: a first batch the default modulo seeds " +
      "MISS falls back to deterministic smallest-id seeds — never an " +
      "empty-trained artifact") {
    val path = java.nio.file.Files.createTempDirectory("sann_boot").toString
    // ids 1..60 with no multiple of 100: the default vec_id % 100 == 0
    // predicate selects nothing here
    val b0 = embScaled.filter(col("vec_id").between(1, 60))
    StreamingAnn.foldBatch(b0, path, 0L, m = 4, subDim = 16)
    val idx = AnnIndex.read(spark, path)
    assert(idx.centroids.count() > 0 && idx.pqCent.count() > 0,
      "bootstrap fallback must train non-empty artifacts")
    // the fallback is deterministic in the batch: smallest 16 vec_ids
    val norms = Similarity.withNorm(b0, col("vec_id"), col("embedding"))
    val seedPred = col("vec_id").between(1, 16)
    val expect = AnnIndex.train(norms, 4, 16,
      ivfSeedPred = seedPred, pqSeedPred = seedPred)
    assert(idx.codes.as[(Long, Long, Long, Long)].collect().toSet ==
      expect.codes.as[(Long, Long, Long, Long)].collect().toSet)
    // and searching the bootstrapped artifact returns real rows
    val q = norms.filter(col("vec_id") === 20)
    assert(idx.search(q, k = 5, nprobe = 2).count() == 5)
  }

  test("StreamingNovelty onReport: each folded batch hands the consumer " +
      "its novelty vs the PRE-fold stored set — identical to the direct " +
      "incremental score") {
    val path = java.nio.file.Files.createTempDirectory("snov_rep").toString
    val b0 = mkDocs(1L to 10L).toDF("doc_id", "text")
    val b1 = mkDocs(8L to 15L map (_ * 3)).toDF("doc_id", "text")
    var got = Vector.empty[(Long, Set[(Long, Long, Long, Long)])]
    val hook = Some((b: Long, df: org.apache.spark.sql.DataFrame) => {
      got :+= ((b, df.as[(Long, Long, Long, Long)].collect().toSet)); ()
    })
    StreamingNovelty.foldBatch(b0, path, 0L, 3, 8, onReport = hook)
    assert(got.isEmpty, "first batch has no stored set to score against")
    val preFold = NoveltyIndex.read(spark, path)
    StreamingNovelty.foldBatch(b1, path, 1L, 3, 8, onReport = hook)
    assert(got.map(_._1) == Vector(1L))
    val direct = preFold.novelty(b1, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.head._2 == direct)
  }

  test("StreamingAnn: an EMPTY first micro-batch is skipped (no commit, " +
      "no batchId) and the next non-empty batch bootstraps") {
    val path = java.nio.file.Files.createTempDirectory("sann_empty").toString
    val empty = embScaled.filter(col("vec_id") < 0)
    StreamingAnn.foldBatch(empty, path, 0L, m = 4, subDim = 16)
    assert(!graft.ops.Segments.exists(path), "empty bootstrap batch must not commit")
    // replay of the skipped batch is a harmless re-skip
    StreamingAnn.foldBatch(empty, path, 0L, m = 4, subDim = 16)
    assert(!graft.ops.Segments.exists(path))
    StreamingAnn.foldBatch(embScaled.filter(col("vec_id") < 100), path, 1L,
      m = 4, subDim = 16)
    assert(graft.ops.Segments.exists(path) && graft.ops.Segments.lastBatchId(path).contains(1L))
    assert(AnnIndex.read(spark, path).centroids.count() > 0)
  }

  test("StreamingAnn onInertia: every refreshed batch reports its mean " +
      "batch-to-stored-centroid cosine (the retrain trigger signal)") {
    val path = java.nio.file.Files.createTempDirectory("sann_in").toString
    val b0 = embScaled.filter(col("vec_id") < 200)
    val b1 = embScaled.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    var seen = Vector.empty[(Long, Double)]
    val hook = Some((b: Long, v: Double) => { seen :+= ((b, v)); () })
    StreamingAnn.foldBatch(b0, path, 0L, 4, 16, onInertia = hook)
    assert(seen.isEmpty, "bootstrap train has no stored centroids to drift from")
    StreamingAnn.foldBatch(b1, path, 1L, 4, 16, onInertia = hook)
    assert(seen.map(_._1) == Vector(1L))
    val direct = StreamingAnn.batchInertia(
      AnnIndex.read(spark, path),
      Similarity.withNorm(b1, col("vec_id"), col("embedding")))
    assert(seen.head._2 == direct)
    assert(direct > 0.0 && direct <= 1.0, s"cosine out of range: $direct")
  }

  test("StreamingNovelty 21-batch soak with auto-compaction: segment " +
      "count stays bounded and the folded index equals the union build") {
    val path = java.nio.file.Files.createTempDirectory("snov_soak").toString
    val k = 4
    val batches = (0 until 21).map(i => mkDocs(i * 10 + 1L to i * 10 + 10L))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingNovelty.foldBatch(b.toDF("doc_id", "text"), path, i.toLong,
        n = 3, buckets = 8, compactEvery = k)
      assert(graft.ops.Segments.segmentCount(path, Seq("ssegs")) <= k,
        s"batch $i: segment count exceeded the compaction threshold")
    }
    val idx = NoveltyIndex.read(spark, path)
    val all = batches.flatten.toDF("doc_id", "text")
    val expect = all.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(col("text"), 3))).as("sh"))
      .distinct().count()
    assert(idx.seen.count() == expect)
    // compaction preserved the replay guard (manifest batchId survives)
    assert(graft.ops.Segments.lastBatchId(path).contains(20L))
    // and a fresh batch still scores identically to the direct path
    val b = mkDocs(400L to 405L).toDF("doc_id", "text")
    assert(idx.novelty(b, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSet ==
      TextAnalysis.noveltyRateIncremental(b, col("text"), col("doc_id"), 3,
        idx.seen).as[(Long, Long, Long, Long)].collect().toSet)
  }

  test("StreamingAnn retrainBelowInertia: injected drift triggers exactly " +
      "one in-fold retrain; search continuity holds across it; the " +
      "batchId replay guard survives; NaN batches never trigger") {
    // the policy without a corpus source is refused up front (PQ codes
    // are lossy — only the caller can re-read the vectors)
    val e0 = intercept[IllegalArgumentException] {
      StreamingAnn.foldBatch(embScaled.limit(1), "/tmp/never", 0L, 4, 16,
        retrainBelowInertia = Some(0.5))
    }
    assert(e0.getMessage.contains("retrainCorpus"), e0.getMessage)
    val path = java.nio.file.Files.createTempDirectory("sann_drift").toString
    // the "lake": every raw batch folded so far (what retrainCorpus
    // re-reads — PQ codes are lossy, vectors must come from here)
    var lake = Vector.empty[org.apache.spark.sql.DataFrame]
    val corpusSrc = () => lake.reduce(_.unionByName(_))
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      lake :+= b
      StreamingAnn.foldBatch(b, path, id, 4, 16,
        retrainBelowInertia = Some(0.0), retrainCorpus = Some(corpusSrc))
    }
    // the raw synthetic embeddings are zero-mean noise (any batch's
    // inertia vs any centroids is ~0.1), so build a CLUSTERED base
    // distribution: every vector = shared direction + damped per-row
    // noise. Same-cluster batches score ~0.9 to the trained cells;
    // the drift batches are the NEGATED cluster (~-0.9 — below 0)
    val baseVec = broadcast(embScaled.filter(col("vec_id") === 0)
      .select(col("embedding").as("bv")))
    def clustered(lo: Long, hi: Long, off: Long, sign: Double) = embScaled
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .crossJoin(baseVec)
      .select((col("vec_id") + off).as("vec_id"),
        zip_with(col("bv"), col("embedding"),
          (b, e) => lit(sign) * (b + e * lit(0.2))).as("embedding"))
    val b0 = clustered(0, 200, 0L, 1.0)
    val b1 = clustered(200, 300, 0L, 1.0)
    def drifted(lo: Long, hi: Long, off: Long) = clustered(lo, hi, off, -1.0)
    fold(b0, 0L) // bootstrap train (v1)
    fold(b1, 1L) // same distribution: inertia > 0, NO retrain (v2)
    assert(graft.ops.Staging.currentVersion(path).contains(2L),
      "a same-distribution fold must commit exactly once")
    val preReader = AnnIndex.read(spark, path)
    val preCent = preReader.centroids
      .as[(Long, Seq[Double], Double)].collect().toSet
    val q = Similarity.withNorm(b0, col("vec_id"), col("embedding"))
      .filter(col("vec_id").isin(1, 2, 3, 4))
    val preTop = preReader.search(q, k = 5, nprobe = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    fold(drifted(0, 100, 10000L), 2L) // drift → ingest (v3) + retrain (v4)
    assert(graft.ops.Staging.currentVersion(path).contains(4L),
      "a drifted fold must commit twice: ingest then retrain")
    val mf4 = graft.ops.Staging.readManifest(s"$path/v4")
    assert(mf4("csegs") == "c4", "retrain must recommit ONE full segment")
    assert(mf4("batchId") == "2", "retrain must preserve the replay guard")
    val postIdx = AnnIndex.read(spark, path)
    assert(postIdx.centroids.as[(Long, Seq[Double], Double)].collect().toSet
      != preCent, "retrain must actually move the centroids")
    // search continuity: the fold-current reader (2 commits behind
    // after the double-commit fold, retain = 2) is still evaluable
    assert(preReader.search(q, k = 5, nprobe = 2)
      .as[(Long, Long, Long, Long)].collect().toSet == preTop)
    // a SECOND drifted batch scores against the RETRAINED cells (which
    // now cover the negated cluster): inertia back above threshold —
    // exactly one retrain per drift event, not one per batch
    fold(drifted(100, 200, 20000L), 3L)
    assert(graft.ops.Staging.currentVersion(path).contains(5L),
      "post-retrain fold must commit exactly once (no second retrain)")
    assert(graft.ops.Staging.readManifest(s"$path/v5")("csegs") == "c4,c5")
    // NaN guard: an all-invalid batch (null embeddings) never triggers
    fold(b0.limit(3).select((col("vec_id") + 30000L).as("vec_id"),
      lit(null).cast("array<double>").as("embedding")), 4L)
    assert(graft.ops.Staging.currentVersion(path).contains(6L),
      "a NaN-inertia fold must commit exactly once")
    // replay guard survives the retrain: exact-last replay is inert
    fold(drifted(100, 200, 20000L), 4L)
    assert(graft.ops.Staging.currentVersion(path).contains(6L))
    // and the final artifact equals a one-shot encode of the whole
    // lake under the final (retrained) generation
    val union = Similarity.withNorm(
      lake.take(5).reduce(_.unionByName(_)),
      col("vec_id"), col("embedding"))
    val full = AnnIndex.encode(union, postIdx.centroids, postIdx.pqCent, 4, 16)
    assert(AnnIndex.read(spark, path).codes
      .select("vec_id", "icell", "s", "cid")
      .as[(Long, Long, Long, Long)].collect().toSet ==
      full.as[(Long, Long, Long, Long)].collect().toSet)
  }

  test("StreamingAnn 20-batch soak with auto-compaction: segment count " +
      "bounded; codes equal a one-shot encode of the union; search serves") {
    val path = java.nio.file.Files.createTempDirectory("sann_soak").toString
    val k = 3
    (0 until 20).foreach { i =>
      val b = embScaled.filter(
        col("vec_id") >= i * 25 && col("vec_id") < (i + 1) * 25)
      val vPre = graft.ops.Staging.currentVersion(path)
      StreamingAnn.foldBatch(b, path, i.toLong, m = 4, subDim = 16,
        compactEvery = k)
      assert(graft.ops.Segments.segmentCount(path, Seq("csegs")) <= k,
        s"batch $i: segment count exceeded the compaction threshold")
      // fold-current reader survives a double-commit trigger fold
      vPre.foreach(v => assert(graft.ops.Staging.exists(
        graft.ops.Staging.versionDir(path, v)),
        s"batch $i: fold-current reader's version v$v was collected"))
    }
    val idx = AnnIndex.read(spark, path)
    assert(graft.ops.Segments.lastBatchId(path).contains(19L))
    val union = Similarity.withNorm(embScaled, col("vec_id"), col("embedding"))
    val full = AnnIndex.encode(union, idx.centroids, idx.pqCent, 4, 16)
    assert(idx.codes.select("vec_id", "icell", "s", "cid")
      .as[(Long, Long, Long, Long)].collect().toSet ==
      full.as[(Long, Long, Long, Long)].collect().toSet)
    assert(idx.search(union.filter(col("vec_id") === 7), k = 5,
      nprobe = 2).count() == 5)
  }

  test("StreamingHamming 18-batch soak with auto-compaction: segment " +
      "count bounded; pairs equal a one-shot pair search of the union; " +
      "replay inert") {
    import graft.ext.{Dedup, HammingIndex, Multimodal}
    val path = java.nio.file.Files.createTempDirectory("sham_soak").toString
    def fps(ids: Seq[Long]) = ids.map(i =>
      (i, Multimodal.targetFp(i))).toDF("doc_id", "fp")
    val k = 3
    (0 until 18).foreach { i =>
      val b = fps(i * 10L until (i + 1) * 10L)
      val vPre = graft.ops.Staging.currentVersion(path)
      StreamingHamming.foldBatch(b, path, i.toLong, buckets = 8,
        compactEvery = k)
      assert(graft.ops.Segments.segmentCount(path, Seq("isegs", "psegs")) <= k,
        s"batch $i: segment count exceeded the compaction threshold")
      // fold-current reader survives a double-commit trigger fold
      vPre.foreach(v => assert(graft.ops.Staging.exists(
        graft.ops.Staging.versionDir(path, v)),
        s"batch $i: fold-current reader's version v$v was collected"))
    }
    assert(graft.ops.Segments.lastBatchId(path).contains(17L))
    // exact-last replay is inert; an id below the stored one throws
    val vEnd = graft.ops.Staging.currentVersion(path)
    StreamingHamming.foldBatch(fps(170L until 180L), path, 17L, buckets = 8)
    assert(graft.ops.Staging.currentVersion(path) == vEnd, "replay committed")
    intercept[IllegalStateException] {
      StreamingHamming.foldBatch(fps(0L until 1L), path, 3L, buckets = 8)
    }
    val idx = HammingIndex.read(spark, path)
    val truth = Dedup.simhashHammingPairs(fps(0L until 180L),
        maxDist = 3, bands = 4, bits = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(idx.pairs.as[(Long, Long, Long)].collect().toSet == truth &&
      truth.nonEmpty)
    assert(idx.fingerprints.count() == 180)
  }

  test("StreamingHamming is modality-agnostic: AUDIO fingerprints " +
      "(real WAV decode) folded in two batches equal the one-shot pair " +
      "search — the artifact never knows which decoder fed it") {
    import graft.ext.{Dedup, HammingIndex, Multimodal}
    val path = java.nio.file.Files.createTempDirectory("sham_audio").toString
    def fps(lo: Long, hi: Long) = Multimodal.audioFingerprints(
        Multimodal.synthesizeAudio((lo until hi).toDF("doc_id"),
          col("doc_id")))
      .filter(_.fp.isDefined)
      .map(r => (r.media_id, r.fp.get)).toDF("doc_id", "fp")
    StreamingHamming.foldBatch(fps(0L, 40L), path, 0L, buckets = 8)
    StreamingHamming.foldBatch(fps(40L, 80L), path, 1L, buckets = 8)
    val truth = Dedup.simhashHammingPairs(fps(0L, 80L),
        maxDist = 3, bands = 4, bits = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test premise: audio corpus must carry pairs")
    assert(HammingIndex.read(spark, path).pairs
      .as[(Long, Long, Long)].collect().toSet == truth)
  }
}
