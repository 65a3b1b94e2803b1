package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{AnnIndex, HammingIndex, NoveltyIndex, Similarity}

/** The one micro-batch fold of the four `foreachBatch` artifact
  * maintainers (StreamingDedup, StreamingNovelty, StreamingHamming,
  * StreamingAnn): each keeps only its build/refresh step, its
  * parameter-mismatch refusal and its hooks.
  */
private[graft] object Maintenance {

  /** Fold one micro-batch into the artifact of `kind` at `path`:
    *
    *  - '''Writer lease''' ([[graft.ops.Staging.acquireWriter]]): a
    *    second uncoordinated maintainer on the same artifact fails at
    *    acquire, BEFORE reading state or staging a version dir. Every
    *    commit inside the fold re-extends the lease
    *    ([[graft.ops.Staging.nextVersionDir]]); it is released when the
    *    fold ends, crash or not, and a holder that dies between folds
    *    blocks a replacement for at most
    *    [[graft.ops.Staging.DefaultLeaseTtlMs]]. Exclusion strength
    *    follows the store ([[graft.ops.PointerStore]]).
    *  - '''Exactly-once replay''': every committed version records the
    *    last-applied `batchId`. The exact last batch re-delivered after
    *    a crash is SKIPPED (idempotent sink); an id BELOW the stored one
    *    fails loudly — under a single checkpoint only the last batch
    *    can replay, so a smaller id means a restart with a fresh
    *    checkpoint (ids restart at 0), and skipping would drop every
    *    real batch until the new counter caught up. The probe is the
    *    COMMIT POINTER, not a table dir: a crash mid-write can never
    *    make a restarted loop mistake a partial artifact for "nothing
    *    stored" and rebuild from one batch.
    *  - `step(stored)` builds (nothing committed yet) or refreshes, and
    *    commits with `batchId`.
    *  - '''Auto-compaction''', when `step` returns true: one manifest
    *    read counts the live segments of `kind`, and `compact` runs when
    *    any family's list exceeds `compactEvery` (`<= 0` disables).
    *    Without it, segment count, read amplification (one scan per
    *    segment) and fold cost (one anti-join / probe-join per stored
    *    segment) grow one step per batch forever; with it, one
    *    corpus-sized rewrite every ~`compactEvery` batches. A trigger
    *    fold commits TWICE, so `compact` must pass `retain = 2`: a
    *    reader current at fold start is two commits stale by fold end
    *    and must still resolve complete segments.
    */
  def fold(what: String, kind: graft.ops.Segments.Kind, path: String,
           batchId: Long, compactEvery: Int, store: graft.ops.PointerStore)
          (step: Boolean => Boolean)(compact: => Unit): Unit = {
    val lease =
      try graft.ops.Staging.acquireWriter(path, store)
      catch {
        case e: IllegalStateException => throw new IllegalStateException(
          s"$what: cannot fold into $path — ${e.getMessage}", e)
      }
    try {
      val stored = graft.ops.Segments.exists(path, store)
      val last = if (stored) graft.ops.Segments.lastBatchId(path, store) else None
      last.filter(batchId < _).foreach(l => throw new IllegalStateException(
        s"$what: micro-batch id $batchId is below the artifact's " +
          s"last-applied batch id $l at $path — the stream's checkpoint " +
          "does not match this artifact (restarted with a fresh " +
          "checkpoint?). Resume the original checkpoint or start a new " +
          "artifact path."))
      if (!last.contains(batchId) && step(stored) && compactEvery > 0 &&
        graft.ops.Segments.segmentCount(path, kind.keys, store) > compactEvery)
        compact
    } finally lease.release()
  }

  /** Default segment-count threshold for [[fold]]'s auto-compaction:
    * high enough that the corpus rewrite amortizes to ~1/16 of a full
    * rebuild per batch, low enough that read amplification (segments
    * scanned per novelty/probe/refresh join) stays single-digit-small.
    */
  val DefaultCompactEvery = 16
}

/** Streaming maintenance of the durable seen-shingle index
  * ([[NoveltyIndex]]): each micro-batch of (`doc_id`, `text`) rows is
  * folded into the index at `path` — build on first contact, update
  * after — so between batches any consumer can read the index and
  * score a candidate batch's novelty against everything ingested so
  * far. Commits are segment-incremental (batch-sized bytes), replay
  * is exactly-once ([[Maintenance]]).
  *
  * Per-batch novelty REPORTS stay consumer-owned (the index is the
  * shared artifact), but the loop offers an OPTIONAL `onReport` hook:
  * for each folded batch past the first it receives (batchId, the
  * batch's per-doc novelty frame scored against everything stored
  * BEFORE the fold) — exactly what a dashboard / ingest-gate consumer
  * would otherwise recompute with its own read of the artifact, priced
  * only when requested (one extra anti-join chain over the stored
  * segments per batch — a separate scan from the fold's own delta
  * chain, not a shared one).
  *
  * ==Hook contract==
  * EVALUATE the frame INSIDE the hook (collect/write it before
  * returning): it lazily reads the pre-fold version's segment files,
  * which later folds' retention sweeps may delete — a frame parked for
  * async evaluation can hit swept paths. And the hook is AT-LEAST-ONCE
  * under crash replay (a crash between the hook's side effect and the
  * fold's commit redelivers the batch and re-fires the hook), unlike
  * the artifact fold itself — key any non-idempotent consumer side
  * effect by `batchId`.
  */
object StreamingNovelty {

  def maintain(docs: DataFrame, path: String, n: Int = 3,
               buckets: Int = 32,
               compactEvery: Int = Maintenance.DefaultCompactEvery,
               onReport: Option[(Long, DataFrame) => Unit] = None,
               store: graft.ops.PointerStore =
                 graft.ops.PointerStore.File): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.toDF(), path, batchId, n, buckets, compactEvery,
          onReport, store)
      }
      .start()

  private[graft] def foldBatch(batch: DataFrame, path: String,
                               batchId: Long, n: Int, buckets: Int,
                               compactEvery: Int =
                                 Maintenance.DefaultCompactEvery,
                               onReport: Option[(Long, DataFrame) => Unit] =
                                 None,
                               store: graft.ops.PointerStore =
                                 graft.ops.PointerStore.File): Unit =
    Maintenance.fold("StreamingNovelty", NoveltyIndex.Artifact, path, batchId,
      compactEvery, store) { stored =>
      val idx =
        if (!stored)
          NoveltyIndex.build(batch, col("text"), col("doc_id"), n, buckets)
        else {
          val stored = NoveltyIndex.read(batch.sparkSession, path, store)
          // mixing shingle widths joins incompatible spaces — the same
          // loud refusal refreshDupGraph makes; silently folding with
          // the stored width while the caller believes they changed it
          // would diverge without an error. (`buckets` is a build-time
          // layout property: the stored artifact's count always wins.)
          require(n == stored.n,
            s"StreamingNovelty: shingle width $n != stored index's " +
              s"${stored.n} at $path — rebuild, do not mix widths")
          onReport.foreach(f =>
            f(batchId, stored.novelty(batch, col("text"), col("doc_id"))))
          stored.update(batch, col("text"), col("doc_id"))
        }
      idx.write(path, batchId = Some(batchId), store = store)
      true
    }(NoveltyIndex.compact(batch.sparkSession, path, retain = 2, store = store))
}

/** Streaming maintenance of the durable IVF-PQ index ([[AnnIndex]]):
  * the FIRST micro-batch of (`vec_id`, `embedding`) rows trains the
  * artifact (the bootstrap-train convention — centroids/codebooks are
  * frozen until an explicit retrain); every later batch is assigned +
  * encoded against the frozen artifacts and appended as one code
  * segment. Incremental == full re-encode exactly (AnnIndexSpec), so
  * the stream's ingest order never changes a search result. Replay is
  * exactly-once ([[Maintenance]]); watch
  * [[Similarity.kmeansInertia]] for the retrain signal.
  */
object StreamingAnn {

  /** `onInertia` is the RETRAIN TRIGGER signal: per folded batch it
    * receives (batchId, mean batch-to-stored-centroid cosine —
    * [[batchInertia]], already evaluated: a plain Double, safe to
    * keep). By default the maintainer never retrains on its own
    * (retraining replaces the code space and its timing is an operator
    * decision); the caller logs/alerts and runs [[AnnIndex.retrain]]
    * when the signal drifts below the artifact's train-time inertia.
    * Delivery is AT-LEAST-ONCE under crash replay (see
    * StreamingNovelty's hook contract) — key non-idempotent side
    * effects by `batchId`.
    *
    * ==Opt-in automatic retrain==
    * `retrainBelowInertia` turns the signal into a policy: when a
    * folded batch's inertia drops BELOW the threshold (drifted data —
    * the frozen cells no longer describe the batch; NaN, an
    * all-invalid batch, never triggers), the maintainer ingests the
    * batch FIRST (so the corpus is complete), then calls
    * [[AnnIndex.retrain]] with `retrainCorpus()` — the caller's
    * corpus source, the lake table of ALL (vec_id, embedding) rows
    * ingested so far INCLUDING this batch (PQ codes are lossy, so
    * vectors cannot come from the artifact). The retrain is the second
    * commit of the fold and passes `retain = 2`, so a fold-current
    * reader keeps resolving complete segments (the reader-retention
    * contract); the streaming `batchId` is preserved, so replay
    * guards survive. Post-retrain the artifact is one full segment —
    * compaction has nothing to fold — and the fresh centroids restore
    * the inertia signal, so the policy self-arms for the NEXT drift
    * instead of retraining every batch. Under a crash between the
    * ingest and retrain commits the replayed batch is skipped whole
    * (the batchId guard), deferring the retrain until the signal next
    * crosses — at-least-eventually, not exactly-once.
    */
  def maintain(vectors: DataFrame, path: String, m: Int = 4,
               subDim: Int = 16,
               compactEvery: Int = Maintenance.DefaultCompactEvery,
               onInertia: Option[(Long, Double) => Unit] = None,
               retrainBelowInertia: Option[Double] = None,
               retrainCorpus: Option[() => DataFrame] = None,
               store: graft.ops.PointerStore =
                 graft.ops.PointerStore.File): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.toDF(), path, batchId, m, subDim, compactEvery,
          onInertia, retrainBelowInertia, retrainCorpus, store)
      }
      .start()

  private[graft] def foldBatch(batch: DataFrame, path: String,
                               batchId: Long, m: Int, subDim: Int,
                               compactEvery: Int =
                                 Maintenance.DefaultCompactEvery,
                               onInertia: Option[(Long, Double) => Unit] =
                                 None,
                               retrainBelowInertia: Option[Double] = None,
                               retrainCorpus: Option[() => DataFrame] =
                                 None,
                               store: graft.ops.PointerStore =
                                 graft.ops.PointerStore.File): Unit = {
    require(retrainBelowInertia.isEmpty || retrainCorpus.isDefined,
      "StreamingAnn: retrainBelowInertia needs retrainCorpus — PQ codes " +
        "are lossy, so a retrain must re-read the corpus VECTORS from " +
        "the lake, which only the caller can supply")
    val spark = batch.sparkSession
    Maintenance.fold("StreamingAnn", AnnIndex.Artifact, path, batchId,
      compactEvery, store) { stored =>
      val norms = Similarity.withNorm(batch, col("vec_id"), col("embedding"))
      var drifted = false
      val idx =
        if (!stored) bootstrapTrain(norms, m, subDim)
        else {
          val storedIdx = AnnIndex.read(spark, path, store)
          require(m == storedIdx.m && subDim == storedIdx.subDim,
            s"StreamingAnn: (m=$m, subDim=$subDim) != stored index's " +
              s"(m=${storedIdx.m}, subDim=${storedIdx.subDim}) at $path " +
              "— retrain, do not mix code spaces")
          if (onInertia.nonEmpty || retrainBelowInertia.nonEmpty) {
            val inertia = batchInertia(storedIdx, norms)
            onInertia.foreach(f => f(batchId, inertia))
            // NaN < threshold is false: an all-invalid batch never triggers
            drifted = retrainBelowInertia.exists(inertia < _)
          }
          Some(storedIdx.refresh(norms))
        }
      // a bootstrap batch with no trainable vectors commits NOTHING
      // (not even the batchId): the next non-empty batch bootstraps,
      // and a replay of the skipped batch is a harmless re-skip
      idx.foreach(_.write(path, batchId = Some(batchId), store = store))
      if (idx.isDefined && drifted) {
        // ingest-first, then the full-generation recommit: second
        // commit of this fold ⇒ retain = 2 (reader-retention rule).
        // Seeds get the bootstrap fallback — an id space the default
        // modulo predicate misses must defer gracefully (next drifted
        // batch re-arms), never kill the stream on the empty-seed
        // require. The retrained artifact is one segment: nothing to
        // compact.
        val corpusNorms = Similarity.withNorm(retrainCorpus.get(),
          col("vec_id"), col("embedding"))
        fallbackSeedPred(corpusNorms).foreach(p =>
          AnnIndex.retrain(spark, path, corpusNorms,
            ivfSeedPred = p, pqSeedPred = p, retain = 2, store = store))
      }
      idx.isDefined && !drifted
    }(AnnIndex.compact(spark, path, retain = 2, store = store))
  }

  /** Mean batch-to-stored-centroid cosine ([[Similarity.kmeansInertia]]
    * over the batch, aggregated across cells with exact-BIGINT
    * arithmetic) — the drift signal behind `onInertia`: a batch whose
    * vectors sit far from every frozen cell scores LOW, meaning the
    * cells no longer describe the data and assignment quality (and
    * with it recall) is degrading. NaN for a batch with no valid
    * vectors. Cost: one broadcast assignment pass over the batch.
    */
  def batchInertia(idx: AnnIndex, norms: DataFrame): Double = {
    val r = Similarity.kmeansInertia(norms,
        idx.centroids.select(col("icell").as("cid"), col("cv"), col("cn")))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n")).head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) Double.NaN
    else r.getLong(0).toDouble / (r.getLong(1) * 1000000L)
  }

  /** Bootstrap training for the first micro-batch: the library-default
    * modulo seed predicate assumes nothing about the stream's id
    * space, so when it selects NOTHING from this batch (ids 1..99, a
    * UUID-derived / non-numeric id space, …) fall back to a
    * deterministic sample — the batch's [[BootstrapSeeds]] smallest
    * `vec_id`s, collected in their NATIVE type and ordering (a cast to
    * long would null out string ids and NPE) — instead of committing
    * an artifact trained on empty seeds (which [[AnnIndex.train]]
    * refuses loudly). Deterministic in the batch contents, so a
    * crash-replayed batch retrains identically. None when the batch
    * has no trainable vectors at ALL (an empty recovery/availableNow
    * batch 0): the fold SKIPS — no commit, no batchId — and the next
    * non-empty batch bootstraps instead of the stream dying on the
    * empty-seed require.
    */
  private[graft] def bootstrapTrain(norms: DataFrame, m: Int,
                                    subDim: Int): Option[AnnIndex] =
    fallbackSeedPred(norms).map(p =>
      AnnIndex.train(norms, m, subDim, ivfSeedPred = p, pqSeedPred = p))

  /** The seed predicate [[bootstrapTrain]] and the automatic-retrain
    * policy train with: the library-default modulo predicate when it
    * selects anything from `norms`, else a deterministic sample — the
    * [[BootstrapSeeds]] smallest `vec_id`s, collected in their NATIVE
    * type and ordering (a cast to long would null out string ids and
    * NPE). None when `norms` has no valid vectors at all.
    */
  private[graft] def fallbackSeedPred(norms: DataFrame): Option[Column] = {
    val defaultPred = col("vec_id") % 100 === 0
    if (!norms.filter(defaultPred).isEmpty) Some(defaultPred)
    else {
      val seedIds = norms.select(col("vec_id")).na.drop()
        .orderBy("vec_id").limit(BootstrapSeeds).collect().map(_.get(0))
      if (seedIds.isEmpty) None
      else Some(col("vec_id").isin(seedIds.toIndexedSeq: _*))
    }
  }

  /** Fallback seed-sample size: enough cells/codes for a useful index
    * off one micro-batch, small enough to broadcast trivially.
    */
  private val BootstrapSeeds = 16
}

/** Streaming maintenance of the durable banded-hamming fingerprint
  * index ([[HammingIndex]]): each micro-batch of (`doc_id`, `fp`)
  * rows — perceptual fingerprints from any modality (image dHash,
  * audio spectro-temporal hash, video keyframe hash, text SimHash) —
  * is folded into the index at `path`: build on first contact,
  * refresh after, so between batches any consumer reads the
  * accumulated near-dup pair table without re-enumerating the corpus.
  * Commits are segment-incremental (batch-sized bytes + the batch's
  * TRUE new pairs), replay is exactly-once and the fold runs under
  * the artifact's writer lease ([[Maintenance]]); auto-compaction
  * bounds segment count like the other three maintainers.
  *
  * `buckets` applies at BUILD time only: once the artifact exists,
  * the stored index's bucket count wins (refresh segments must join
  * the committed bucket space) — raising it for a grown corpus takes
  * effect through [[graft.ext.HammingIndex.compact]]/rebuild, not a
  * parameter change (unlike `maxDist`/`bands`/`bits`, which define
  * the PAIR SEMANTICS and fail loudly on mismatch).
  */
object StreamingHamming {

  def maintain(fps: DataFrame, path: String, maxDist: Int = 3,
               bands: Int = 4, bits: Int = 64, buckets: Int = 32,
               compactEvery: Int = Maintenance.DefaultCompactEvery,
               store: graft.ops.PointerStore =
                 graft.ops.PointerStore.File): StreamingQuery =
    fps.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.toDF(), path, batchId, maxDist, bands, bits,
          buckets, compactEvery, store)
      }
      .start()

  private[graft] def foldBatch(batch: DataFrame, path: String,
                               batchId: Long, maxDist: Int = 3,
                               bands: Int = 4, bits: Int = 64,
                               buckets: Int = 32,
                               compactEvery: Int =
                                 Maintenance.DefaultCompactEvery,
                               store: graft.ops.PointerStore =
                                 graft.ops.PointerStore.File): Unit =
    Maintenance.fold("StreamingHamming", HammingIndex.Artifact, path, batchId,
      compactEvery, store) { stored =>
      val idx =
        if (!stored)
          HammingIndex.build(batch, maxDist, bands, bits, buckets)
        else {
          val storedIdx = HammingIndex.read(batch.sparkSession, path, store)
          // mixing banding schemes joins incompatible bucket spaces —
          // the StreamingNovelty width rule, applied to all three
          // parameters that define the pair semantics
          require(maxDist == storedIdx.maxDist &&
              bands == storedIdx.bands && bits == storedIdx.bits,
            s"StreamingHamming: (maxDist=$maxDist, bands=$bands, " +
              s"bits=$bits) != stored index's (${storedIdx.maxDist}, " +
              s"${storedIdx.bands}, ${storedIdx.bits}) at $path — " +
              "rebuild, do not mix banding schemes")
          storedIdx.refresh(batch)
        }
      idx.write(path, batchId = Some(batchId), store = store)
      true
    }(HammingIndex.compact(batch.sparkSession, path, retain = 2, store = store))
}
