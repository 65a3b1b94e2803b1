package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy cat"),    // near dup
    (4L, "completely different text with no overlap at all"),
    (5L, "xy")                                            // < 3 tokens
  ).toDF("doc_id", "text")

  test("exact dedup: identical texts collapse, min id survives") {
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash signatures: identical texts agree; short docs drop out") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), k = 4)
    val rows = sig.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L)) // doc 5 has no 3-shingles
    assert(rows(1L) == rows(2L))               // dup docs, same signature
    assert(rows(1L) != rows(4L))               // unrelated docs differ
  }

  test("LSH pairs: exact dups estimated at 1.0; est_sim within [0,1]") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), k = 8)
    val pairs = Dedup.minhashLshPairs(sig, k = 8, bands = 4)
      .select("da", "db", "est_sim").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(pairs.forall { case (a, b, s) => a < b && s >= 0.0 && s <= 1.0 })
  }

  test("ngram Jaccard: exact dups at 1.0, near dups in (0,1), da < db") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        n = 3, threshold = 0.1)
      .select("da", "db", "jacc").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m.contains((1L, 3L)) && m((1L, 3L)) > 0.0 && m((1L, 3L)) < 1.0)
    assert(!m.keySet.exists { case (a, b) => a >= b })
    assert(!m.keys.exists { case (a, b) => a == 4L || b == 4L }) // no overlap
  }

  test("connectedComponents merges transitively, labels by component min") {
    // chain 1-2-3-4 (one component), isolated pair 10-11, chain 20-22-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 22L), (21L, 22L))
      .toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents and survivors handle an empty pair graph") {
    val noPairs = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.connectedComponents(noPairs).isEmpty)
    val kept = Dedup.survivors(docs, col("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
    assert(kept.count() == docs.count()) // nothing clustered: all kept
  }

  test("canonicalSurvivors elects the best-scoring member, min id on ties") {
    // cluster 1 = {1: 10, 2: 30, 3: 30} -> score tie at 30 -> id 2 wins;
    // doc 4 is unclustered and passes through with a null cluster_id
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L))
      .toDF("doc_id", "sc")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.canonicalSurvivors(scored, col("doc_id"), clusters,
        col("sc"))
      .select("doc_id", "cluster_id", "score")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    assert(kept == Set((2L, Some(1L), 30L), (4L, None, 5L)), kept)
    // min-id policy (survivors) would have kept doc 1 instead
    val minId = Dedup.survivors(scored, col("doc_id"), clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 4L))
  }

  test("connectedComponents converges on a long path (jump beats diameter)") {
    // path 0-1-2-...-9: diameter 9; hook+jump must still converge well
    // within maxIter and label everything 0
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs, maxIter = 8)
      .as[(Long, Long)].collect().toMap
    assert(cc == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("small-graph fast path == distributed hook+jump ladder, exactly " +
      "(random graphs; localThreshold=0 forces the ladder)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val edges = (0 until 400).map(_ =>
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter { case (a, b) => a != b }.distinct
      val pairs = edges.toDF("da", "db").localCheckpoint()
      val fast = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
      val ladder = Dedup.connectedComponents(pairs, localThreshold = 0L)
        .as[(Long, Long)].collect().toSet
      assert(fast == ladder, s"trial $trial diverged")
    }
  }

  test("mixed-width id pairs keep the ladder (fast path needs matched " +
      "types — casting back to the narrow side would wrap 64-bit labels)") {
    val pairs = Seq((1, 5000000001L), (2, 5000000001L))
      .toDF("da", "db")
      .select(col("da").cast("int").as("da"), col("db"))
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 5000000001L -> 1L), cc)
  }

  test("string-id pairs keep the ladder (fast path is integral-ids only) " +
      "and still label by component min") {
    // the q_entity_resolution shape: fuzzy name pairs
    val pairs = Seq(("alpha", "beta"), ("beta", "gamma"), ("x", "y"))
      .toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(cc == Map("alpha" -> "alpha", "beta" -> "alpha",
      "gamma" -> "alpha", "x" -> "x", "y" -> "x"))
  }

  test("changedCount falls back to the exact probe when the observation never fills") {
    // an Observation that was never attached to a query: getRowOrEmpty
    // stays None, the deadline expires, and the probe compares the two
    // label frames exactly — no unbounded wait
    val obs = org.apache.spark.sql.Observation("never-filled")
    val prev = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
    val sameLabels = prev
    val moved = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("node", "label")
    val t0 = System.nanoTime()
    assert(Dedup.changedCount(obs, sameLabels, prev, timeoutMs = 300L) == 0L)
    assert(Dedup.changedCount(obs, moved, prev, timeoutMs = 300L) == 1L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, f"fallback must be bounded, took $secs%.1f s")
  }

  test("simhash: identical texts share fingerprints; 16-bit range") {
    val fp = Dedup.simhash16(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.forall(v => v >= 0L && v < (1L << 16)))
  }

  test("simhash64: dup fingerprints agree; near dups closer than strangers") {
    val fp = Dedup.simhash64(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)),
      s"near-dup should be hamming-closer: ${ham(fp(1L), fp(3L))} vs ${ham(fp(1L), fp(4L))}")
  }

  test("simhash64 pair-search finds the dup pair exactly once at dist <= 3") {
    val pairs = Dedup.simhashHammingPairs(
      Dedup.simhash64(docs, col("text"), col("doc_id")),
      maxDist = 3, bands = 4, bits = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.forall { case (da, db, h) => da < db && h <= 3 })
  }

  test("group minhash is a mergeable sketch: union == element-wise min, dup-insensitive") {
    val k = 4
    // one group holding everything == element-wise min of the per-group rows
    val perGroup = Dedup.groupMinhashSignature(docs, col("doc_id") % 2, col("text"), k)
    val asOne = Dedup.groupMinhashSignature(docs, lit(0), col("text"), k)
      .collect().head
    val mins = (1 to k).map(i =>
      perGroup.agg(min(col(s"h${i - 1}"))).collect().head.getLong(0))
    assert((1 to k).map(i => asOne.getLong(i)) == mins)
    // duplicating the corpus changes nothing (set semantics)
    val doubled = Dedup.groupMinhashSignature(
      docs.union(docs), lit(0), col("text"), k).collect().head
    assert((1 to k).map(doubled.getLong) == (1 to k).map(asOne.getLong))
    // identical groups estimate similarity 1.0
    val sim = Dedup.groupMinhashSimilarity(
      Dedup.groupMinhashSignature(
        docs.union(docs.withColumn("doc_id", col("doc_id") + 100)),
        when(col("doc_id") < 100, "a").otherwise("b"), col("text"), k), k)
      .collect().head
    assert(sim.getDouble(2) == 1.0)
  }

  test("fuzzyPairs matches within blocks only, at the distance cap") {
    val rows = Seq(
      (1L, "blue ring"), (2L, "blue ring"),  // duplicate value: one vocab entry
      (3L, "blu ring"),                       // dist 1 from "blue ring"
      (4L, "cold ring"),                      // dist 4 from "blue", 3 from "blu"
      (5L, "blue bolt"))                      // other block, never compared
      .toDF("id", "name")
    val out = Dedup.fuzzyPairs(rows, col("name"),
      substring_index(col("name"), " ", -1), maxDist = 2)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // "cold ring" is above the cap from both; "blue bolt" shares no block
    assert(out.toSeq == Seq(("blu ring", "blue ring", 1L)))
  }

  test("fuzzyPairs plan: candidate join is on the block key, no cartesian") {
    val rows = Seq((1L, "a b")).toDF("id", "name")
    val p = Dedup.fuzzyPairs(rows, col("name"),
      substring_index(col("name"), " ", -1), 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("degenerate corpus: unbounded LSH goes quadratic (documented hazard)") {
    // an all-identical corpus puts every document in ONE bucket per
    // band — pair count is n(n-1)/2 regardless of join strategy. This
    // property pins the hazard the bounded variant exists for.
    val n = 40
    val degenerate = (1 to n)
      .map(i => (i.toLong, "the same boilerplate text appears everywhere"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(degenerate, col("text"), col("doc_id"), k = 8)
    assert(Dedup.minhashLshPairs(sig, k = 8, bands = 4).count() ==
      n.toLong * (n - 1) / 2)
  }

  test("bounded LSH excludes oversized buckets and reports them, never silently") {
    val n = 40
    val degenerate = (1 to n)
      .map(i => (i.toLong, "the same boilerplate text appears everywhere"))
    val normal = Seq(
      (100L, "a perfectly ordinary document about spark physical plans"),
      (101L, "a perfectly ordinary document about spark physical plans"),
      (102L, "completely unrelated content on audio codecs and sampling"))
    val docs = (degenerate ++ normal).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), k = 8)
    val (pairs, overflow) = Dedup.minhashLshPairsBounded(
      sig, k = 8, bands = 4, maxBucket = 10)
    val got = pairs.select("da", "db").as[(Long, Long)].collect().toSet
    // the normal near-dup pair survives; no degenerate pair leaks out
    assert(got == Set((100L, 101L)), got.toString)
    // every degenerate band bucket is REPORTED with its size (4 bands,
    // all n docs agree on every band key)
    val over = overflow.select("bucket_rows").as[Long].collect()
    assert(over.length == 4, over.mkString(","))
    assert(over.forall(_ == n.toLong), over.mkString(","))
  }

  test("bounded LSH equals unbounded when no bucket exceeds the cap") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), k = 8)
    val unbounded = Dedup.minhashLshPairs(sig, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (pairs, overflow) = Dedup.minhashLshPairsBounded(
      sig, k = 8, bands = 4, maxBucket = 1000L)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == unbounded)
    assert(overflow.count() == 0)
  }

  test("asymmetric LSH pairs the new batch against the corpus only") {
    // docs 1-3 are the corpus (1 and 2 identical); 4 duplicates 1, and
    // 5 duplicates... nothing. New batch = {4, 5}.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "unrelated brand new content nothing shared here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(
        Dedup.minhashSignature(fresh, col("text"), col("doc_id"), k = 8),
        Dedup.minhashSignature(corpus, col("text"), col("doc_id"), k = 8),
        k = 8, bands = 4)
      .as[(Long, Long, Double)].collect()
    // da is always new-side, db corpus-side; the dup is found both ways
    assert(pairs.forall { case (da, db, _) => da >= 4L && db <= 3L })
    assert(pairs.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet ==
      Set((4L, 1L), (4L, 2L)))
    assert(!pairs.exists(_._1 == 5L))
  }

  test("df cap bounds the exact-pair family on a boilerplate corpus") {
    // 40 docs: unique content + one shared boilerplate trigram. Uncapped,
    // the shared shingle alone generates C(40,2) = 780 candidate pairs;
    // capped at df<=3 the boilerplate is excluded and nothing pairs.
    val docs = (1L to 40L).map(i =>
      (i, s"unique$i token$i word$i common boiler plate")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.0)
    assert(uncapped.count() == 780L, "shared boilerplate goes quadratic")
    val capped = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      n = 3, threshold = 0.0, maxDf = Some(3L))
    assert(capped.count() == 0L, "df cap excludes the boilerplate shingle")
    // capped scores are lower bounds of uncapped on a real near-dup pair
    val pair = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(pair, col("text"), col("doc_id"),
      n = 3, threshold = 0.0).select("jacc").as[Double].collect().head
    val low = Dedup.ngramJaccardPairs(pair, col("text"), col("doc_id"),
      n = 3, threshold = 0.0, maxDf = Some(1L)) // every shared shingle pruned
    assert(low.count() == 0L || low.select("jacc").as[Double].collect().head <= full)
  }

  test("incremental ingest equivalence: against(new, kept) IS the cross-set slice of the self-join") {
    // The contract a daily-ingest pipeline relies on: banding the new
    // batch against the kept corpus finds exactly the pairs the full
    // self-join would have reported BETWEEN the two sets (banding is
    // deterministic in the signatures, so this is set equality, not
    // just coverage). Random corpora over a small token pool force
    // real band collisions; random splits cover empty/full new sides.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val docGen = for {
      n <- Gen.choose(5, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(pool))
    } yield toks.mkString(" ")
    val corpusGen = for {
      m <- Gen.choose(6, 14)
      texts <- Gen.listOfN(m, docGen)
      isNew <- Gen.listOfN(m, Gen.oneOf(true, false))
    } yield texts.zip(isNew).zipWithIndex
      .map { case ((t, nw), i) => (i.toLong + 1, t, nw) }
    val prop = Prop.forAll(corpusGen) { rows =>
      val all = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      val newIds = rows.filter(_._3).map(_._1).toSet
      val cross = Dedup.minhashLshPairs(
          Dedup.minhashSignature(all, col("text"), col("doc_id"), k = 8),
          k = 8, bands = 4)
        .select("da", "db").as[(Long, Long)].collect().toSet
        .filter(p => newIds.contains(p._1) ^ newIds.contains(p._2))
      val newDf = rows.filter(_._3).map(r => (r._1, r._2)).toDF("doc_id", "text")
      val keptDf = rows.filterNot(_._3).map(r => (r._1, r._2)).toDF("doc_id", "text")
      val against = Dedup.minhashLshPairsAgainst(
          Dedup.minhashSignature(newDf, col("text"), col("doc_id"), k = 8),
          Dedup.minhashSignature(keptDf, col("text"), col("doc_id"), k = 8),
          k = 8, bands = 4)
        .select("da", "db").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      cross == against
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: refreshDupGraph == full rebuild on random corpora and splits") {
    // The durable-lifecycle contract under randomized stress: any
    // corpus over a small token pool (forcing real near-dup clusters
    // and shared shingles) split at any point into day-1/day-2 must
    // refresh to EXACTLY the one-shot union graph — clusters and pair
    // sets. Random splits cover empty day-1 (nothing stored — skipped,
    // the build path), empty day-2, singleton batches, and clusters
    // straddling the split (the merge path the fixed-case test aims at
    // deliberately).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val docGen = for {
      n <- Gen.choose(4, 10)
      toks <- Gen.listOfN(n, Gen.oneOf(pool))
    } yield toks.mkString(" ")
    val corpusGen = for {
      m <- Gen.choose(4, 10)
      texts <- Gen.listOfN(m, docGen)
      cut <- Gen.choose(1, m) // day-1 is never empty (read() requires a store)
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }, cut)
    val prop = Prop.forAll(corpusGen) { case (rows, cut) =>
      val (d1, d2) = rows.splitAt(cut)
      val dir = java.nio.file.Files.createTempDirectory("dg_prop").toString
      val g1 = Dedup.dupGraph(d1.toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      try g1.write(dir) finally g1.unpersist()
      val g2 =
        if (d2.isEmpty) DupGraph.read(spark, dir)
        else Dedup.refreshDupGraph(DupGraph.read(spark, dir),
          d2.toDF("doc_id", "text"), col("text"), col("doc_id"))
      val full = Dedup.dupGraph(rows.toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      try {
        val cOk = g2.clusters.as[(Long, Long)].collect().toSet ==
          full.clusters.as[(Long, Long)].collect().toSet
        val pOk = g2.pairs.select("da", "db").as[(Long, Long)]
          .collect().toSet ==
          full.pairs.select("da", "db").as[(Long, Long)].collect().toSet
        cOk && pOk
      } finally { g2.unpersist(); full.unpersist() }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("duplicatePassageStats: shared passages counted, unique docs at zero") {
    // docs 1/2 share their first 4-token passage verbatim; doc 3 is
    // disjoint. win=4 → doc 1 has passages [a b c d]["e1 f1 g1 h1"],
    // doc 2 [a b c d]["e2 f2"], doc 3 one unique passage.
    val d = Seq(
      (1L, "a b c d e1 f1 g1 h1"),
      (2L, "a b c d e2 f2"),
      (3L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.duplicatePassageStats(d, col("doc_id"), col("text"), win = 4)
      .select("doc_id", "n_passages", "n_dup_passages", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
  }

  test("dedupPassagesCorpus: first occurrence survives, later copies cut, " +
      "text reassembled in order") {
    // doc 1 owns [a b c d]; doc 2 repeats it (cut) but keeps its own
    // tail passage; doc 3 is entirely a copy of doc 1's first passage
    // → reassembles to empty. Within-doc repetition (doc 4) also
    // collapses to the first occurrence.
    val d = Seq(
      (1L, "a b c d e1 f1 g1 h1"),
      (2L, "a b c d e2 f2"),
      (3L, "a b c d"),
      (4L, "p q r s p q r s")).toDF("doc_id", "text")
    val out = Dedup.dedupPassagesCorpus(d, col("doc_id"), col("text"), win = 4)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((2L, "a b c d e1 f1 g1 h1")))
    assert(out(2L) == ((1L, "e2 f2")))
    assert(out(3L) == ((0L, "")))
    assert(out(4L) == ((1L, "p q r s")))
  }

  test("dedupPassagesCorpus: null and empty text pass through with n_kept=0") {
    // a null text column used to make size(tokens) negative and blow up
    // the passage sequence(); both shapes must ride the left-join
    // re-attach path instead
    val d = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.dedupPassagesCorpus(d, col("doc_id"), col("text"), win = 4)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, "a b c d")))
    assert(out(2L) == ((0L, "")))
    assert(out(3L) == ((0L, "")))
  }

  test("dedupSpansCorpus keepFirst: later copies cut at arbitrary offsets, " +
      "first copy protected, short docs untouched") {
    val d = Seq(
      (1L, "p q r s"),            // first occurrence: elected, intact
      (2L, "x p q r s"),          // dup span at off 1 — cut despite the
                                  // unique "x p q r" window overlapping it
      (3L, "a a a a a"),          // self-overlap: first window protects
                                  // tokens 0-3, token 4 is a later copy
      (4L, "u v w")               // 3 tokens < spanLen: no windows, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpansCorpus(d, col("doc_id"), col("text"),
        spanLen = 4)
      .select("doc_id", "n_tokens", "n_cut", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((4L, 0L, "p q r s")))
    assert(out(2L) == ((5L, 4L, "x")))
    assert(out(3L) == ((5L, 1L, "a a a a")))
    assert(out(4L) == ((3L, 0L, "u v w")))
  }

  test("dedupSpansCorpus keepFirst=false removes every copy; null text at zero") {
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpansCorpus(d, col("doc_id"), col("text"),
        spanLen = 4, keepFirst = false)
      .select("doc_id", "n_tokens", "n_cut", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((4L, 4L, "")))
    assert(out(2L) == ((4L, 4L, "")))
    assert(out(3L) == ((0L, 0L, "")))
  }

  test("triangleStats: oriented edges count each triangle exactly once") {
    // K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("u", "v")
    val r = Dedup.triangleStats(edges, col("u"), col("v")).collect().head
    assert(r.getLong(0) == 2L, "n_triangles")
    assert(r.getLong(1) == 5L, "n_edges")
    // triangle-free graph (a path) counts zero
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val r2 = Dedup.triangleStats(path, col("u"), col("v")).collect().head
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 3L)
  }

  test("dupGraph: five consumers, one pair enumeration (scan-count audited)") {
    // accumulator-instrumented corpus source, GraphSpec-style: every
    // partition evaluation bumps the counter, so acc = source scans x
    // partitions (1 partition here). The enumeration's self-join +
    // contraction fill may read the source a small constant number of
    // times; the audit pins that AFTER the build, graph-only consumers
    // (clusters, sizes) add ZERO further scans and corpus/canonical add
    // exactly the ONE probe each inherently needs.
    val acc = spark.sparkContext.longAccumulator("docs-source-evals")
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over a lazy cat"),
      (4L, "completely different text with no overlap at all"),
      (5L, "another unrelated document about spark plans"))
      .toDF("doc_id", "text").coalesce(1)
      .as[(Long, String)].mapPartitions { it => acc.add(1); it }
      .toDF("doc_id", "text")
    val g = Dedup.dupGraph(base, col("text"), col("doc_id"))
    val fillScans = acc.value
    try {
      // graph-only consumers: zero additional source scans
      val clusters = g.clusters.as[(Long, Long)].collect().toMap
      val sizes = g.sizes.as[(Long, Long, Long)].collect().toSet
      assert(acc.value == fillScans,
        s"graph-only consumers re-scanned the corpus (${acc.value - fillScans} extra)")
      // corpus + canonical: one probe scan each
      val corpus = g.corpus(base, col("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      val canon = g.canonical(base, col("doc_id"), length(col("text")))
        .select("doc_id").as[Long].collect().toSet
      assert(acc.value <= fillScans + 2,
        s"corpus/canonical consumers cost ${acc.value - fillScans} scans (expected <= 2)")
      // results identical to the per-query (re-enumerating) formulations
      // (1-2 exact dup clusters; 3 at jacc ~0.4 < 0.5 stays unique)
      assert(clusters == Map(1L -> 1L, 2L -> 1L))
      assert(sizes == Set((2L, 1L, 2L)))
      assert(corpus == Set(1L, 3L, 4L, 5L))
      assert(canon == Set(1L, 3L, 4L, 5L)) // equal lengths tie -> min id
      // fifth consumer: the leakage-safe split rides the same cluster
      // table (one probe scan), and cluster members land together
      val split = Sampling.leakageSafeSplit(base, col("doc_id"),
          g.clusters, Seq("train" -> 0.5, "val" -> 0.5))
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      assert(acc.value <= fillScans + 3,
        s"split consumer re-enumerated (${acc.value - fillScans} scans)")
      assert(split(1L) == split(2L), "cluster {1,2} straddled the split")
      assert(split.size == 5)
    } finally g.unpersist()
  }

  test("dupGraph: clusters survive unpersist; consumers agree with direct ops") {
    val g = Dedup.dupGraph(docs, col("text"), col("doc_id"))
    val direct = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        n = 3, threshold = 0.5)).as[(Long, Long)].collect().toSet
    g.unpersist() // clusters are checkpoint-backed, not cache-backed
    assert(g.clusters.as[(Long, Long)].collect().toSet == direct)
  }

  test("dupGraph: write/read round trip preserves pairs, clusters, index") {
    val g = Dedup.dupGraph(docs, col("text"), col("doc_id"))
    val dir = java.nio.file.Files.createTempDirectory("dupgraph").toString
    try {
      g.write(dir)
      val r = DupGraph.read(spark, dir)
      assert(r.clusters.as[(Long, Long)].collect().toSet ==
        g.clusters.as[(Long, Long)].collect().toSet)
      assert(r.pairs.select("da", "db").as[(Long, Long)].collect().toSet ==
        g.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
      assert(r.index.count() == g.index.count())
      // a read graph's consumers work without any in-session build
      assert(r.sizes.count() >= 0)
    } finally g.unpersist()
  }

  test("dupGraph refresh: day-2 ingest equals a full rebuild on the union corpus") {
    // day-1: two exact dups + a unique; day-2 adds a copy of day-1 text
    // (cross-batch edge), an intra-batch dup pair, and a unique doc —
    // every merge shape: extend an old cluster, create a new one, none
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all"))
      .toDF("doc_id", "text")
    val day2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // joins {1,2}
      (11L, "fresh pair of near identical day two documents"),
      (12L, "fresh pair of near identical day two documents"),
      (13L, "nothing like anything else in either batch"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_inc").toString
    val g1 = Dedup.dupGraph(day1, col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()

    // day-2 path: read the stored graph, fold the new batch in — the
    // day-1 corpus frame is NOT an input (nothing re-enumerates it)
    val stored = DupGraph.read(spark, dir)
    val g2 = Dedup.refreshDupGraph(stored, day2, col("text"), col("doc_id"))
    val full = Dedup.dupGraph(day1.unionByName(day2), col("text"), col("doc_id"))
    try {
      // THE property: refreshed == rebuilt-from-scratch on the union
      assert(g2.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
      assert(g2.pairs.select("da", "db").as[(Long, Long)].collect().toSet ==
        full.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
      // and the expected shape: {1,2,10} under label 1, {11,12} under 11
      val c = g2.clusters.as[(Long, Long)].collect().toMap
      assert(c == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 11L, 12L -> 11L))
      // the refreshed graph is itself durable (day-3 continues the loop)
      val dir3 = java.nio.file.Files.createTempDirectory("dupgraph_d3").toString
      g2.write(dir3)
      assert(DupGraph.read(spark, dir3).index.count() == full.index.count())
    } finally { g2.unpersist(); full.unpersist() }
  }

  test("dedupBySource: duplicated source loses mass, clean source untouched") {
    val docs = Seq(
      (1L, "the cat sat on the mat today fine", "A"),
      (2L, "the cat sat on the mat today fine", "A"), // exact dup of 1
      (3L, "completely different text in this row", "B"),
      (4L, "another unrelated document body here now", "B")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupBySource(docs, col("text"), col("doc_id"),
        col("source"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("lost_bps"), r.getAs[Long]("n_tok"),
          r.getAs[Long]("tok_kept"))).toMap
    assert(out("A") == ((2L, 1L, 5000L, 16L, 8L)), out)
    assert(out("B") == ((2L, 2L, 0L, 12L, 12L)), out)
  }

  test("bbitMinhashPairs: low-bit masking and the Li-Konig correction, exactly") {
    // synthetic signatures, band 0 = (h0, h1) shared by all three docs:
    // doc 2's components agree with doc 1 ONLY in the low 8 bits,
    // doc 3's differ everywhere past the band
    def sig(id: Long, hi: Long, lo: Long) =
      (id, 10L, 20L, hi * 0x100 + lo, (hi + 1) * 0x100 + lo,
        (hi + 2) * 0x100 + lo, (hi + 3) * 0x100 + lo,
        (hi + 4) * 0x100 + lo, (hi + 5) * 0x100 + lo)
    val sigs = Seq(sig(1L, 1L, 5L), sig(2L, 9L, 5L), sig(3L, 17L, 77L))
      .toDF("doc_id", "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7")
    val out = Dedup.bbitMinhashPairs(sigs, k = 8, bands = 4, b = 8)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        (r.getAs[Long]("est_full_micro"), r.getAs[Long]("est_b_micro"))).toMap
    // (1,2): full matches only the 2 band components -> 250000; the low
    // 8 bits agree on all 8 -> p=1 -> corrected estimate exactly 1
    assert(out((1L, 2L)) == ((250000L, 1000000L)), out)
    // (1,3)/(2,3): 2 matches both ways -> p=0.25,
    // corrected (0.25 - 1/256)/(1 - 1/256) = 0.24705882... -> 247059
    assert(out((1L, 3L)) == ((250000L, 247059L)), out)
    assert(out((2L, 3L)) == ((250000L, 247059L)), out)
  }

  test("bucketed stored index: day-2 cross join has NO Exchange on the " +
      "corpus side (the 100 TB refresh cost)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all"))
      .toDF("doc_id", "text")
    val day2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "fresh pair of near identical day two documents"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_bkt").toString
    val g1 = Dedup.dupGraph(day1, col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    val stored = DupGraph.read(spark, dir)
    // plan shape is a static property — audit the non-adaptive plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cross = Dedup.indexCrossIntersections(
        Dedup.shingleIndex(day2, col("text"), col("doc_id"), 3),
        stored.index)
      val plan = cross.queryExecution.executedPlan
      val shj = plan.collectFirst { case j: ShuffledHashJoinExec => j }
        .getOrElse(fail(s"no shuffled-hash join in\n$plan"))
      // batch = hinted build (left); stored index = streamed probe (right)
      val streamed = shj.right
      val scan = streamed.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"no file scan on the streamed side\n$streamed"))
      assert(scan.bucketedScan, s"stored index scan not bucketed:\n$scan")
      assert(streamed.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus-sized stored side re-shuffled on refresh:\n$streamed")
      // and the refresh result over the bucketed read stays correct
      val pairs = cross.select("da", "db").as[(Long, Long)].collect().toSet
      assert(pairs == Set((10L, 1L), (10L, 2L)), pairs)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("manifest: refresh with mismatched parameters is refused; " +
      "read restores the stored build parameters") {
    val d1 = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val d2 = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_mf").toString
    val g = Dedup.dupGraph(d1, col("text"), col("doc_id"), n = 4, threshold = 0.7)
    try g.write(dir) finally g.unpersist()
    val stored = DupGraph.read(spark, dir)
    assert(stored.n == 4 && stored.threshold == 0.7)
    // explicit matching params pass; mismatched shingle width / threshold throw
    Dedup.refreshDupGraph(stored, d2, col("text"), col("doc_id"),
      n = 4, threshold = 0.7).unpersist()
    intercept[IllegalArgumentException] {
      Dedup.refreshDupGraph(stored, d2, col("text"), col("doc_id"), n = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.refreshDupGraph(stored, d2, col("text"), col("doc_id"),
        threshold = 0.5)
    }
    // defaults derive FROM the stored graph (no params needed on day 2)
    val r = Dedup.refreshDupGraph(stored, d2, col("text"), col("doc_id"))
    try assert(r.n == 4 && r.threshold == 0.7) finally r.unpersist()
  }

  /** (file name → (size, mtime)) fingerprint of a segment dir — the
    * "this commit did not rewrite day-1" immutability probe.
    */
  private def segFiles(root: String, segId: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$root/segments/$segId"))
    try s.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.getFileName.toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally s.close()
  }

  private val day1Docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "completely different text with no overlap at all"))
  private val day2Docs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "fresh pair of near identical day two documents"),
    (12L, "fresh pair of near identical day two documents"))
  private val day3Docs = Seq(
    (20L, "fresh pair of near identical day two documents"),
    (21L, "a third batch singleton nothing matches here"))

  test("segmented commits: a refresh write emits ONLY the batch segments; " +
      "day-1's segment files are never rewritten (100 TB commit cost)") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_seg").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    val i1Before = segFiles(dir, "i1")
    val p1Before = segFiles(dir, "p1")
    assert(i1Before.nonEmpty && p1Before.nonEmpty)

    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day2Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist()

    // the incremental commit added exactly the batch segments…
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i1", "p1", "k1", "i2", "p2", "k2"))
    // …and did not touch a byte of day-1's (immutability, not just
    // correctness: at 100 TB the corpus-sized i1 rewrite IS the cost)
    assert(segFiles(dir, "i1") == i1Before, "day-1 index segment rewritten")
    assert(segFiles(dir, "p1") == p1Before, "day-1 pairs segment rewritten")
    // the cluster layer is a CHANGE delta: doc 10 joins {1,2} (new row)
    // and 11/12 form a new cluster, but docs 1 and 2 keep their labels
    // — their rows are NOT re-committed (labels are monotone
    // non-increasing, so the layered read reconstructs with min())
    val k2 = spark.read.parquet(s"$dir/segments/k2")
      .as[(Long, Long)].collect().toSet
    assert(k2 == Set((10L, 1L), (11L, 11L), (12L, 11L)), k2)
    // manifest lists both, in ingest order
    val mf = graft.ops.Staging.readManifest(s"$dir/v2")
    assert(mf("isegs") == "i1,i2" && mf("psegs") == "p1,p2" &&
      mf("clsegs") == "k1,k2", mf)

    // and the read-back graph equals the one-shot union build
    val r = DupGraph.read(spark, dir)
    val full = Dedup.dupGraph((day1Docs ++ day2Docs).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(r.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
      assert(r.pairs.select("da", "db").as[(Long, Long)].collect().toSet ==
        full.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
      assert(r.index.count() == full.index.count())
    } finally full.unpersist()
  }

  test("merge relabel rides the cluster delta: an old cluster absorbed " +
      "by a smaller-label one re-commits exactly its own rows") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_merge").toString
    // two disjoint day-1 clusters: {5,6} labeled 5 and {10,11} labeled 10
    val day1 = Seq((5L, "p q r s"), (6L, "p q r s"),
      (10L, "s t u v"), (11L, "s t u v")).toDF("doc_id", "text")
    val g1 = Dedup.dupGraph(day1, col("text"), col("doc_id"),
      threshold = 0.3)
    try g1.write(dir) finally g1.unpersist()
    // the bridge doc is 0.4-similar to a member of EACH cluster at the
    // artifact's 0.3 threshold — the union component relabels {10,11}
    // down to 5 (labels are monotone non-increasing: the merged min)
    val bridge = Seq((100L, "p q r s t u v")).toDF("doc_id", "text")
    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      bridge, col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist()
    // the delta layer: the absorbed cluster's rows + the new doc —
    // NOT the surviving cluster's (5 and 6 kept label 5)
    val k2 = spark.read.parquet(s"$dir/segments/k2")
      .as[(Long, Long)].collect().toSet
    assert(k2 == Set((10L, 5L), (11L, 5L), (100L, 5L)), k2)
    // and the layered read reconstructs the merged view exactly
    val r = DupGraph.read(spark, dir)
    assert(r.clusters.as[(Long, Long)].collect().toSet ==
      Set(5L -> 5L, 6L -> 5L, 10L -> 5L, 11L -> 5L, 100L -> 5L))
    assert(r.threshold == 0.3)
  }

  test("crash-retry: stale uncommitted version + segment debris is " +
      "cleaned, the retried commit succeeds and rows are not doubled") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_crash").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    // crash simulation: a previous fold died after laying index/pairs
    // segment files and partial clusters for v2, before the pointer
    // swap. Restart targets the SAME version number and the SAME
    // deterministic segment ids — the old non-segmented bucketed CTAS
    // wedged permanently here (non-empty location).
    graft.ops.Staging.writeString(s"$dir/v2/manifest", "junk-no-equals")
    graft.ops.Staging.writeString(s"$dir/segments/i2/part-junk.parquet", "junk")
    graft.ops.Staging.writeString(s"$dir/segments/p2/part-junk.parquet", "junk")
    graft.ops.Staging.writeString(s"$dir/segments/k2/part-junk.parquet", "junk")
    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day2Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist() // must not throw
    val r = DupGraph.read(spark, dir)
    val full = Dedup.dupGraph((day1Docs ++ day2Docs).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(r.index.count() == full.index.count(), "index rows doubled/lost")
      assert(r.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
    } finally full.unpersist()
  }

  test("compact folds segments to one pair; equality holds and the " +
      "ingest loop continues; unreferenced segments are swept with " +
      "their last referencing version") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_cpt").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day2Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist()

    DupGraph.compact(spark, dir) // v3: isegs=i3 — but v2 still pins i1,i2
    val mf3 = graft.ops.Staging.readManifest(s"$dir/v3")
    assert(mf3("isegs") == "i3" && mf3("psegs") == "p3" &&
      mf3("clsegs") == "k3", mf3)
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i1", "p1", "k1", "i2", "p2", "k2", "i3", "p3", "k3"))
    // compacted graph == one-shot union build
    val r3 = DupGraph.read(spark, dir)
    val full12 = Dedup.dupGraph((day1Docs ++ day2Docs).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(r3.clusters.as[(Long, Long)].collect().toSet ==
        full12.clusters.as[(Long, Long)].collect().toSet)
      assert(r3.index.count() == full12.index.count())
    } finally full12.unpersist()
    // compacting an already-compact artifact is a no-op
    DupGraph.compact(spark, dir)
    assert(graft.ops.Staging.currentVersion(dir).contains(3L))

    // day-3 fold on top of the compacted artifact: once v2 (the last
    // manifest referencing i1/i2) ages out, the pre-compaction
    // segments are swept
    val g4 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day3Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g4.write(dir) finally g4.unpersist()
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i3", "p3", "k3", "i4", "p4", "k4"),
      "pre-compaction segments not swept")
    val r4 = DupGraph.read(spark, dir)
    val fullAll = Dedup.dupGraph(
      (day1Docs ++ day2Docs ++ day3Docs).toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(r4.clusters.as[(Long, Long)].collect().toSet ==
        fullAll.clusters.as[(Long, Long)].collect().toSet)
      assert(r4.pairs.select("da", "db").as[(Long, Long)].collect().toSet ==
        fullAll.pairs.select("da", "db").as[(Long, Long)].collect().toSet)
    } finally fullAll.unpersist()
  }

  test("prune on a compact artifact: pairs are pruned once; a repeat " +
      "prune reads the empty pairs segment's footers and launches no job") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_prune").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    assert(!DupGraph.read(spark, dir).pairs.isEmpty)
    DupGraph.compact(spark, dir, keepPairs = false) // v1 is compact, pairs not
    assert(graft.ops.Staging.currentVersion(dir).contains(2L))
    assert(DupGraph.read(spark, dir).pairs.isEmpty)
    val jobs = org.apache.spark.JobCounter.count(spark.sparkContext)(
      DupGraph.compact(spark, dir, keepPairs = false))
    assert(jobs == 0, s"$jobs jobs")
    assert(graft.ops.Staging.currentVersion(dir).contains(2L))
  }

  test("empty-delta commit: a micro-batch contributing zero shingles " +
      "never bricks the stored artifact (empty bucketed segments are " +
      "written schema-bearing)") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_empty").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    // every doc under 3 tokens ⇒ zero shingles, zero pairs — the empty
    // delta class (a re-crawl of boilerplate stubs). Pre-fix, the empty
    // bucketed CTAS wrote NO data files and every later read threw
    // UNABLE_TO_INFER_SCHEMA — a permanently bricked artifact.
    val tiny = Seq((100L, "xy"), (101L, "a b")).toDF("doc_id", "text")
    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      tiny, col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist()
    val r = DupGraph.read(spark, dir) // must not throw
    val full = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try {
      assert(r.index.count() == full.index.count())
      assert(r.clusters.as[(Long, Long)].collect().toSet ==
        full.clusters.as[(Long, Long)].collect().toSet)
    } finally full.unpersist()
    // and the loop continues: a real batch folds on top of the empty one
    val g3 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day2Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g3.write(dir) finally g3.unpersist()
    assert(DupGraph.read(spark, dir).clusters.count() > 0)
  }

  test("reader lifetime across compact: a graph resolved BEFORE a " +
      "compaction stays fully evaluable for `retain` later commits " +
      "(its manifest pins its segments)") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_rl").toString
    val g1 = Dedup.dupGraph(day1Docs.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    try g1.write(dir) finally g1.unpersist()
    val g2 = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
      day2Docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
    try g2.write(dir) finally g2.unpersist() // v2: two segments per family
    val held = DupGraph.read(spark, dir) // lazy reader at v2
    val expectClusters = held.clusters.as[(Long, Long)].collect().toSet
    DupGraph.compact(spark, dir) // v3 commits; v2 retained (retain=1)
    // the held reader's manifest (v2) still pins i1/i2/p1/p2/k1/k2 —
    // every frame stays evaluable after the compaction commit, and
    // because the cluster view is a pure lazy plan (no checkpoint),
    // this re-collect genuinely re-reads the pinned k1/k2 FILES
    assert(held.clusters.as[(Long, Long)].collect().toSet == expectClusters)
    assert(held.pairs.count() > 0, "cross-day dup pairs must survive")
    assert(held.index.count() > 0)
    // one MORE commit ages v2 out and sweeps its segments — the
    // documented end of the reader-lifetime window (re-read past it)
    DupGraph.read(spark, dir).write(dir) // v4, delta-free
    assert(graft.ops.Staging.list(s"$dir/segments").toSet ==
      Set("i3", "p3", "k3"), "pre-compaction segments outlived retention")
    val fresh = DupGraph.read(spark, dir)
    assert(fresh.clusters.as[(Long, Long)].collect().toSet == expectClusters)
  }

  test("one readable layout: a pre-segment artifact, and a manifest " +
      "without a build parameter, a segment family or the format key, " +
      "are refused with the rebuild error, and nothing is committed") {
    import graft.ops.Staging
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def refused(action: String)(body: => Any)
               (implicit pos: org.scalactic.source.Position): Unit = {
      val e = intercept[RuntimeException](body)
      assert(e.getMessage.contains(s"rebuild, do not $action"), e.getMessage)
    }
    /** Rewrite the committed manifest of `root` through `f`. */
    def edit(root: String)(f: Map[String, String] => Map[String, String]): Unit = {
      val d = Staging.versionDir(root, Staging.currentVersion(root).get)
      Staging.writeManifest(d, f(Staging.readManifest(d)))
    }
    val d1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val d2 = Seq((3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")

    // the pre-segment, pre-manifest DupGraph layout: three plain tables
    // in the version dir, the pointer, no manifest
    val legacy = tmp("dupgraph_legacy")
    val g = Dedup.dupGraph(d1, col("text"), col("doc_id"), n = 4, threshold = 0.7)
    try {
      g.pairs.write.parquet(s"$legacy/v1/pairs")
      g.clusters.write.parquet(s"$legacy/v1/clusters")
      g.index.write.parquet(s"$legacy/v1/index")
    } finally g.unpersist()
    Staging.writeString(s"$legacy/LATEST", "1")
    refused("refresh")(DupGraph.read(spark, legacy))
    refused("refresh")(Dedup.refreshDupGraph(DupGraph.read(spark, legacy), d2,
      col("text"), col("doc_id"), n = 4, threshold = 0.7))
    refused("compact")(DupGraph.compact(spark, legacy, keepPairs = true))
    refused("compact")(DupGraph.compact(spark, legacy, keepPairs = false))
    assert(Staging.currentVersion(legacy).contains(1L))
    assert(Staging.list(legacy).toSet == Set("LATEST", "v1"),
      "a refused artifact must not be written to")

    // a segmented DupGraph whose manifest lost its build parameters, or
    // whose pairs list is empty
    val seg = tmp("dupgraph_noparams")
    val g2 = Dedup.dupGraph(d1, col("text"), col("doc_id"), n = 4, threshold = 0.7)
    try g2.write(seg, buckets = 4) finally g2.unpersist()
    edit(seg)(_ -- Seq("n", "threshold"))
    refused("refresh")(DupGraph.read(spark, seg))
    refused("compact")(DupGraph.compact(spark, seg, keepPairs = false))
    edit(seg)(_ ++ Map("n" -> "4", "threshold" -> "0.7", "psegs" -> ""))
    refused("refresh")(DupGraph.read(spark, seg))
    edit(seg)(_ + ("psegs" -> "p1"))
    assert(DupGraph.read(spark, seg).n == 4, "the restored manifest reads again")
    assert(Staging.currentVersion(seg).contains(1L))

    // an ANN index whose manifest lost its centroid catalog
    val ann = tmp("annidx_nocent")
    val vecs = Similarity.withNorm((0L until 200L).map(i =>
        (i, Seq.tabulate(8)(j => (math.sin(i * 0.37 + j * 1.3) + (i % 5) * 0.2).toFloat)))
      .toDF("vec_id", "embedding"), col("vec_id"), col("embedding"))
    AnnIndex.train(vecs, m = 2, subDim = 4, lloydIters = 1).write(ann)
    edit(ann)(_ - "centseg")
    refused("refresh")(AnnIndex.read(spark, ann))
    refused("compact")(AnnIndex.compact(spark, ann))

    // novelty and Hamming manifests without their format key
    val nov = tmp("novidx_nofmt")
    NoveltyIndex.build(d1, col("text"), col("doc_id"), n = 3, buckets = 4).write(nov)
    edit(nov)(_ - "hash")
    refused("refresh")(NoveltyIndex.read(spark, nov))
    val ham = tmp("hamidx_nofmt")
    HammingIndex.build(Seq(1L, 2L, 3L).map(i => (i, Multimodal.targetFp(i)))
      .toDF("doc_id", "fp"), maxDist = 3, buckets = 4).write(ham)
    edit(ham)(_ - "fmt")
    refused("refresh")(HammingIndex.read(spark, ham))
    refused("compact")(HammingIndex.compact(spark, ham, rebucket = Some(8)))
    Seq(ann, nov, ham).foreach(r => assert(Staging.currentVersion(r).contains(1L)))
  }
}
