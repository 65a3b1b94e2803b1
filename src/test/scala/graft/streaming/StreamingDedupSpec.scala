package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ext.{Dedup, DupGraph}

/** Pins the streamed refresh==rebuild contract: maintaining the durable
  * dup graph over micro-batches yields EXACTLY the graph a one-shot
  * build over the union corpus produces — clusters, pairs, and index.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch graph maintenance equals the one-shot union build " +
      "after the last micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("sdedup").toString
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all"))
    val b2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // joins {1,2}
      (11L, "fresh pair of near identical day two documents"),
      (12L, "fresh pair of near identical day two documents"))
    val b3 = Seq(
      (20L, "fresh pair of near identical day two documents"), // joins {11,12}
      (21L, "a third batch singleton nothing matches here"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.maintain(
      input.toDS().toDF("doc_id", "text"), path)
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = DupGraph.read(spark, path)
    val full = Dedup.dupGraph(
      (b1 ++ b2 ++ b3).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(streamed.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
      assert(streamed.pairs.select("da", "db").as[(Long, Long)]
        .collect().toSet ==
        full.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
      assert(streamed.index.count() == full.index.count())
      // the expected merged shape: {1,2,10} and {11,12,20}
      val c = streamed.clusters.as[(Long, Long)].collect().toMap
      assert(c == Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
        11L -> 11L, 12L -> 11L, 20L -> 11L))
      // versioned-pointer commits: three batches → three versions,
      // LATEST points at the last, superseded dirs garbage-collected
      assert(graft.ops.Staging.currentVersion(path).contains(3L))
      // cluster deltas are segments since r15 (one layer per batch)
      assert(graft.ops.Staging.readManifest(s"$path/v3")("clsegs") ==
        "k1,k2,k3")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/v1")))
    } finally full.unpersist()
  }

  test("replayed micro-batch is a no-op: same batch delivered twice " +
      "leaves the stored graph unchanged (exactly-once under crash replay)") {
    val path = java.nio.file.Files.createTempDirectory("sdedup_rp").toString
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a singleton nothing matches in either batch"))
      .toDF("doc_id", "text")

    StreamingDedup.foldBatch(b0, path, batchId = 0L)
    StreamingDedup.foldBatch(b1, path, batchId = 1L)
    def state() = {
      val g = DupGraph.read(spark, path)
      (graft.ops.Staging.currentVersion(path).get,
        g.clusters.as[(Long, Long)].collect().toSet,
        g.pairs.select("da", "db").as[(Long, Long)].collect().toSet,
        g.index.count())
    }
    val before = state()
    assert(before._2 == Set((1L, 1L), (2L, 1L), (10L, 1L)))

    // crash between the graph's pointer commit and the streaming
    // checkpoint commit ⇒ batch 1 re-delivered on restart. Without the
    // batchId guard its ids (already in the stored index) would
    // self-pair and duplicate index rows — silent durable corruption.
    StreamingDedup.foldBatch(b1, path, batchId = 1L)
    assert(state() == before, "replayed batch mutated the stored graph")
    // a batch id BELOW the stored one cannot happen under the graph's
    // own checkpoint (only the exact last batch replays) — it means the
    // stream was restarted with a DIFFERENT checkpoint whose ids
    // restart at 0. Skipping those would silently drop every real
    // batch until the new counter caught up, so the fold fails loudly
    // instead (and leaves the stored graph untouched).
    val mismatch = intercept[IllegalStateException] {
      StreamingDedup.foldBatch(b0, path, batchId = 0L)
    }
    assert(mismatch.getMessage.contains("checkpoint"), mismatch.getMessage)
    assert(state() == before)
    // and the loop resumes normally on the next fresh batch
    StreamingDedup.foldBatch(
      Seq((20L, "a singleton nothing matches in either batch"))
        .toDF("doc_id", "text"), path, batchId = 2L)
    val after = state()
    assert(after._1 == before._1 + 1)
    assert(after._2 == before._2 + ((11L -> 11L)) + ((20L -> 11L)))
  }

  test("compact(keepPairs=false) prunes the pairs table to a " +
      "schema-bearing shell; clusters survive and a later refresh " +
      "still equals the union rebuild") {
    val path = java.nio.file.Files.createTempDirectory("sdedup_kp").toString
    val Seq(b0, b1, b2) = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog")),
      Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "fresh pair of near identical day two documents")),
      Seq((20L, "fresh pair of near identical day two documents"),
        (21L, "the quick brown fox jumps over the lazy dog")))
      .map(_.toDF("doc_id", "text"))
    StreamingDedup.foldBatch(b0, path, 0L)
    StreamingDedup.foldBatch(b1, path, 1L)
    val preClusters = DupGraph.read(spark, path).clusters
      .as[(Long, Long)].collect().toSet
    DupGraph.compact(spark, path, keepPairs = false)
    val pruned = DupGraph.read(spark, path)
    assert(pruned.pairs.isEmpty, "pairs must be pruned")
    assert(pruned.pairs.columns.toSeq == Seq("da", "db", "jacc"),
      "the shell must keep the real schema")
    assert(pruned.clusters.as[(Long, Long)].collect().toSet == preClusters)
    // a repeated prune on the already-pruned artifact is a no-op — a
    // scheduled periodic prune must not pay a corpus rewrite for
    // nothing (one cheap emptiness probe instead)
    val vPruned = graft.ops.Staging.currentVersion(path)
    DupGraph.compact(spark, path, keepPairs = false)
    assert(graft.ops.Staging.currentVersion(path) == vPruned,
      "repeat prune must not commit a new version")
    // day-3 fold on the pruned artifact: clusters still == rebuild
    StreamingDedup.foldBatch(b2, path, 2L)
    val streamed = DupGraph.read(spark, path)
    val full = Dedup.dupGraph(
      Seq(b0, b1, b2).reduce(_.unionByName(_)), col("text"), col("doc_id"))
    try {
      assert(streamed.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
      // the pairs view reflects only post-prune ingests (batch 2's
      // cross pairs), a strict subset of the rebuild's
      val post = streamed.pairs.select("da", "db")
        .as[(Long, Long)].collect().toSet
      val rebuild = full.pairs.select("da", "db")
        .as[(Long, Long)].collect().toSet
      assert(post.nonEmpty && post.subsetOf(rebuild) && post != rebuild)
    } finally full.unpersist()
  }

  test("21-batch soak with auto-compaction: segment count stays bounded " +
      "and the folded graph equals the one-shot union build") {
    val path = java.nio.file.Files.createTempDirectory("sdedup_soak").toString
    val k = 4
    // 6 token-disjoint near-dup families recurring across every batch,
    // so clusters keep growing ACROSS compaction boundaries — the
    // property a compaction bug (dropped pair/index/cluster rows)
    // cannot survive
    def doc(id: Long) = {
      val f = id % 6
      (id, s"alpha$f beta$f gamma$f delta$f epsilon$f zeta$f eta$f")
    }
    val batches = (0 until 21).map(i => (0L until 4L).map(j => doc(i * 10 + j)))
    batches.zipWithIndex.foreach { case (b, i) =>
      val vPre = graft.ops.Staging.currentVersion(path)
      StreamingDedup.foldBatch(b.toDF("doc_id", "text"), path, i.toLong,
        compactEvery = k)
      assert(graft.ops.Segments.segmentCount(path,
        Seq("isegs", "psegs", "clsegs")) <= k,
        s"batch $i: segment count exceeded the compaction threshold")
      // fold-current reader contract: a reader that resolved LATEST at
      // fold start must still find its version dir at fold end, even
      // on trigger batches that commit twice (ingest + compact)
      vPre.foreach(v => assert(graft.ops.Staging.exists(
        graft.ops.Staging.versionDir(path, v)),
        s"batch $i: fold-current reader's version v$v was collected"))
    }
    val streamed = DupGraph.read(spark, path)
    val full = Dedup.dupGraph(batches.flatten.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(streamed.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
      assert(streamed.pairs.select("da", "db").as[(Long, Long)]
        .collect().toSet ==
        full.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
      assert(streamed.index.count() == full.index.count())
      assert(graft.ops.Segments.lastBatchId(path).contains(20L),
        "compaction must preserve the replay guard's batchId")
    } finally full.unpersist()
  }
}
