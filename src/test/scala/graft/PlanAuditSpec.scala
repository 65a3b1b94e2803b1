package graft

import org.apache.spark.sql.functions._
import graft.model.Tables

/** Physical-plan audits (SURVEY.md §4): the optimizations the engine
  * depends on at scale must actually fire — pushdown, pruning,
  * broadcast, WindowGroupLimit, exchange reuse. Regression-guarded
  * here because a silent plan change (e.g. a lost broadcast) keeps
  * results correct while destroying 100 TB viability.
  */
class PlanAuditSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  private def scalePlanOf(name: String): String = atScale(planOf(name))

  /** No shuffle or broadcast exchange left: the one-task shape. */
  private def oneTask(p: String): Boolean =
    !p.contains("Exchange") && p.contains("Coalesce 1")

  test("q_scan_prune: column pruning reaches the parquet reader") {
    val p = planOf("q_scan_prune")
    assert(p.contains("ReadSchema"))
    // only the projected columns in the scan schema
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment"), read)
  }

  test("q_filter_eq: predicate pushed to the scan") {
    val p = planOf("q_filter_eq")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q_find_first / q_first_wins: rn=1 optimized to WindowGroupLimit") {
    assert(planOf("q_find_first").contains("WindowGroupLimit"))
    assert(planOf("q_first_wins").contains("WindowGroupLimit"))
  }

  test("q_join_broadcast: literal key batch is broadcast") {
    assert(scalePlanOf("q_join_broadcast").contains("BroadcastHashJoin"))
    val small = planOf("q_join_broadcast")
    assert(oneTask(small) && small.contains("ShuffledHashJoin"), small)
  }

  test("q_join_star: dimension lookups broadcast, no sort-merge cascade") {
    val p = scalePlanOf("q_join_star")
    assert(p.contains("BroadcastHashJoin"))
    // small: the four dimension joins run in the one task of the scan
    val small = planOf("q_join_star")
    assert(!small.contains("Broadcast") && !small.contains("SortMergeJoin") &&
      "ShuffledHashJoin".r.findAllIn(small).size == 4, small)
  }

  test("q_ngram_jaccard: self-join reuses one exchange over the index") {
    // exchange reuse is an AQE runtime decision — execute, then read the
    // final adaptive plan (the static plan shows both sides duplicated)
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
    assert(p.contains("ShuffledHashJoin"), "index self-join must not broadcast")
  }

  test("q_embed_cosine: native dot kernel inside codegen, no fallback") {
    val p = planOf("q_embed_cosine")
    assert(p.contains("graft_dot") || p.contains("DotProduct"), p)
    assert(!p.contains("zip_with"), "interpreted HOF leaked back into the hot path")
  }

  test("q_embed_lsh: bucket self-join is equi-hash with reused exchange, never nested-loop") {
    val df = SparkEntry.queries("q_embed_lsh")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "LSH path must never degrade to the all-pairs join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
  }

  test("q_simhash_pairs: banded self-join is equi-hash with reused exchange, never nested-loop") {
    val df = SparkEntry.queries("q_simhash_pairs")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "hamming search must never degrade to the all-pairs join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
  }

  test("q_simhash_pairs64: wide-fingerprint banded join keeps the equi-hash shape") {
    val df = SparkEntry.queries("q_simhash_pairs64")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "hamming search must never degrade to the all-pairs join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
  }

  test("q_sample_stratified: pure per-row filter — no shuffle before the final sort") {
    val p = planOf("q_sample_stratified")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"sampling must not shuffle:\n$p")
  }

  test("q_pack_sequences: exactly one hash shuffle (the shard repartition)") {
    val p = scalePlanOf("q_pack_sequences")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"packing should shuffle once on the shard key:\n$p")
    val small = planOf("q_pack_sequences")
    assert(oneTask(small), small)
  }

  test("q_decontaminate: eval shingle set broadcast, corpus scanned once") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk: global sort+limit plans TakeOrderedAndProject") {
    assert(planOf("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_minhash: fused signature is a pure projection — no mid-plan shuffle") {
    val p = planOf("q_minhash")
    // only the final ORDER BY may exchange; the signature itself must not
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"unexpected shuffle in minhash plan:\n$p")
    assert(p.contains("graft_minhash_sig"))
  }

  test("q_simhash: fused fingerprint is a pure projection — no mid-plan shuffle") {
    val p = planOf("q_simhash")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"unexpected shuffle in simhash plan:\n$p")
    assert(p.contains("graft_simhash"))
  }

  test("graft_dot / graft_dot_int: every WSCG stage containing the kernel " +
      "compiles — no silent interpreter fallback") {
    // Regression guard for the r14 codegen bug: with non-nullable array
    // children, the kernel's generated `isNull = true;` branch bound to
    // FalseLiteral, Janino rejected the stage ("not an rvalue"), and
    // Spark silently disabled whole-stage codegen on exactly the
    // centroid-scoring Filters the kernel exists to speed up. Compile
    // each hot stage directly so a recurrence fails loudly here instead
    // of degrading a 100 TB scan to the interpreter.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // AQE defers codegen collapse to stage materialization; plan without
    // it so the WholeStageCodegenExec spans are statically inspectable.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("q_kmeans", "q_ann_ivf", "q_ann_ivfpq", "q_embed_cosine",
          "q_ann_quantized", "q_ann_asymmetric")) {
        val plan = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan
        val hot = plan.collect {
          case w: WholeStageCodegenExec if w.toString.contains("graft_dot") => w
        }
        assert(hot.nonEmpty, s"$q: no whole-stage-codegen span contains the dot kernel\n$plan")
        hot.foreach { w =>
          val (_, source) = w.doCodeGen()
          // throws CompileException on the bad-Java regression
          CodeGenerator.compile(source)
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_ann_quantized: integer dot kernel in codegen, broadcast queries, WindowGroupLimit") {
    val p = planOf("q_ann_quantized")
    assert(p.contains("graft_dot_int"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_ann_asymmetric: mixed float x int8 dot kernel, broadcast queries, WindowGroupLimit") {
    val p = planOf("q_ann_asymmetric")
    assert(p.contains("graft_dot"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_ann_ivfpq: centroids/probes/LUT broadcast, elections are " +
      "WindowGroupLimit, corpus never cartesians") {
    val p = planOf("q_ann_ivfpq")
    // three broadcast smalls (IVF centroids, probe frame, ADC LUT) and
    // zero non-broadcast nested loops — the corpus side only ever meets
    // broadcast frames or equi-joins
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
    // assignment argmax + probe top-nprobe + final top-k all plan as
    // WindowGroupLimit (never full per-group materialization)
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_quantize_int8 / q_chunk_windows: per-row corpus prep — no mid-plan shuffle") {
    for (name <- Seq("q_quantize_int8", "q_chunk_windows")) {
      val p = planOf(name)
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange ") && !l.contains("rangepartitioning"))
      assert(exchanges == 0, s"$name must not shuffle:\n$p")
    }
  }

  test("q_tfidf: per-doc top-k optimized to WindowGroupLimit") {
    val p = planOf("q_tfidf")
    // tf comes from the native per-row kernel, not a (doc, term) shuffle:
    // the only hash exchanges are document-frequency (term), the tf-df
    // join (term), and the top-k window (doc_id)
    assert(p.contains("graft_term_counts"), p)
    assert(!"Exchange hashpartitioning\\(doc_id[^\\)]*term".r.findFirstIn(p).isDefined, p)
    assert(p.contains("WindowGroupLimit"))
  }

  test("entry: flagship query broadcasts the customer dim") {
    val p = atScale(SparkEntry.entry(spark).queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"))
    val small = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(!small.contains("Broadcast") && small.contains("ShuffledHashJoin"), small)
  }

  test("q_asof_join / q_asof_forward: union-sort shape — window over one key exchange, no join node") {
    for (q <- Seq("q_asof_join", "q_asof_forward", "q_asof_nearest")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(p.contains("Window"), s"$q:\n$p")
    }
  }

  test("q_merge_upsert / q_domain_cap: latest/quota election is WindowGroupLimit") {
    assert(planOf("q_merge_upsert").contains("WindowGroupLimit"))
    assert(planOf("q_domain_cap").contains("WindowGroupLimit"))
  }

  test("q_pivot: explicit pivot values plan one aggregate, no distinct-scan job") {
    val p = planOf("q_pivot")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q_inverted_index: one token exchange — df filter precedes collect") {
    val p = scalePlanOf("q_inverted_index")
    // the only join is the one-row broadcast of the corpus size (the
    // TF-IDF scalar pattern) — never a row-level shuffle join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
    // ONE data-sized exchange: the token hash for the df window. The
    // (token, doc_id) dedup needs no shuffle (array_distinct per row +
    // unique doc_id makes pairs globally distinct), the (token, df)
    // posting collect rides the window's partitioning, and the scalar
    // branch's countDistinct exchanges doc_id only (a column-pruned
    // side plan, not the token stream).
    assert("Exchange hashpartitioning\\(token".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    // small: the doc_id count runs in one task; the token exchange
    // stays, since the tokens are a fan-out of the documents
    val small = planOf("q_inverted_index")
    assert("Exchange hashpartitioning".r.findAllIn(small).size == 1 &&
      "Exchange hashpartitioning\\(token".r.findAllIn(small).size == 1, small)
  }

  test("q_minhash_lsh_bounded: bucket-size window rides the band-key exchange") {
    val df = SparkEntry.queries("q_minhash_lsh_bounded")(spark, d)
    df.collect() // exchange reuse is an AQE runtime decision
    // an executed AdaptiveSparkPlan prints final AND initial plan —
    // count nodes in the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the skew guard must not add a data-sized shuffle: the __bsz
    // window sorts on the SAME band keys the join needs, so the only
    // band-key exchanges are the join sides themselves (1 when AQE
    // stage reuse wins the submission race, 2 when both sides
    // materialize concurrently — reuse of identical self-join stages
    // is timing-dependent; 3+ would mean the window forced its own)
    assert("Exchange hashpartitioning\\(band".r.findAllIn(p).size <= 2, p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q_minhash_sources: one signature aggregate, pair join over the broadcast group table") {
    val p = planOf("q_minhash_sources")
    // per-doc signatures fold into the group aggregate map-side; the
    // pairwise comparison broadcasts the group-level table
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size == 4, p) // partial+final x both subplan copies
  }

  test("q_window_lag: all navigation functions share ONE Window exec / exchange") {
    val p = scalePlanOf("q_window_lag")
    assert("(?m)^\\s*[+:]?-? *Window ".r.findAllIn(p).size <= 2, p) // ntile needs n-of-partition: 1 extra pass max
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
    val small = planOf("q_window_lag")
    assert(oneTask(small), small)
  }

  test("q_window_range: RANGE frame runs in the window exec, single key exchange") {
    val p = scalePlanOf("q_window_range")
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
    val small = planOf("q_window_range")
    assert(oneTask(small), small)
  }

  test("q_grouping_sets: one Expand + hash aggregate, dims broadcast — no per-set rescan") {
    val p = scalePlanOf("q_grouping_sets")
    assert("Expand".r.findAllIn(p).size == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    // a per-set rescan would show one parquet scan of customer per set
    assert("Scan parquet".r.findAllIn(p).size == 3, p)
    val small = planOf("q_grouping_sets")
    assert("Expand".r.findAllIn(small).size == 1 && !small.contains("Broadcast") &&
      "ShuffledHashJoin".r.findAllIn(small).size == 2 &&
      "Scan parquet".r.findAllIn(small).size == 3, small)
  }

  test("q_scd2: collapse + versioning share one exchange, no join") {
    val p = scalePlanOf("q_scd2")
    assert(!p.contains("Join"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    val small = planOf("q_scd2")
    assert(oneTask(small), small)
  }

  test("q_table_diff: ONE key-partitioned join, neither snapshot collected") {
    val p = planOf("q_table_diff")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q_resample_ffill: spine is generated distributed, carry shares the key sort") {
    val p = planOf("q_resample_ffill")
    assert(p.contains("Generate"), p) // explode(sequence(...)) — never a driver calendar
    assert(p.contains("Window"), p)
  }

  test("q_regr_fit: one hash aggregate over integer moments, no window/join") {
    val p = planOf("q_regr_fit")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // moments combine map-side: partial + final modes around one exchange
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
  }

  test("q_except_all / q_intersect_all: counted-aggregate rewrite, no row-by-row anti join") {
    val pe = planOf("q_except_all")
    assert(pe.contains("Generate"), pe) // replicate_rows over the count delta
    assert(!pe.contains("CartesianProduct"), pe)
    val pi = planOf("q_intersect_all")
    assert(pi.contains("Generate"), pi)
  }

  test("q_fuzzy_pairs: vocabulary distinct precedes a block equi-join, no cartesian") {
    val p = planOf("q_fuzzy_pairs")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q_resample_interp: both neighbor carries share one (key, day) window sort") {
    val p = planOf("q_resample_interp")
    assert(p.contains("Generate"), p) // distributed spine
    // backward + forward frames must not multiply exchanges on user_id
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 2, p)
  }

  test("q_sample_weighted: pure per-row filter, no shuffle before the final sort") {
    val p = planOf("q_sample_weighted")
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q_histogram_eq: deciles from a range exchange, no single-task ntile") {
    // globalNtile shape: range-partitioned data, per-pid parallel windows,
    // the prefix-sum side table riding the SAME exchange (reused), and
    // the builtin single-partition ntile nowhere in the plan
    def executed(): String = {
      val df = SparkEntry.queries("q_histogram_eq")(spark, d)
      df.collect() // exchange reuse is an AQE runtime decision
      df.queryExecution.executedPlan.toString
    }
    val p = atScale(executed())
    assert(p.contains("rangepartitioning"), p)
    assert(!p.toLowerCase.contains("ntile"), p)
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // small: the same range exchange, still reused; the prefix-sum
    // side table joins in one task
    val small = executed()
    assert(small.contains("rangepartitioning") && !small.toLowerCase.contains("ntile") &&
      small.contains("ReusedExchange") && small.contains("ShuffledHashJoin") &&
      !small.contains("Broadcast"), small)
  }

  test("q_streaks: island key from one ranking window, no self-join") {
    val p = planOf("q_streaks")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_funnel: per-stage aggregates, no events self-join blowup") {
    val p = planOf("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // every join keys on user_id (stage attach), never on event ranges
    assert("HashAggregate".r.findAllIn(p).nonEmpty, p)
  }

  test("q_moving_zscore: both moment sums share one Window exec and key exchange") {
    val p = scalePlanOf("q_moving_zscore")
    assert("(?m)^\\s*[+:]?-? *Window ".r.findAllIn(p).size == 1, p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    val small = planOf("q_moving_zscore")
    assert(oneTask(small), small)
  }

  test("q_cohort_retention: two-aggregate shape over the user exchange") {
    val p = planOf("q_cohort_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  /** Runtime bloom-filter join pruning: when a selective dim filter
    * feeds a join, Spark can inject a bloom filter built on the dim
    * side into the fact-side SCAN, skipping rows before the shuffle —
    * at 100 TB this is the difference between shuffling the whole fact
    * table and shuffling the matching fraction. Thresholds are tuned
    * down here because the test tables are tiny; the audit proves the
    * engine's query shapes are ELIGIBLE for injection (equi-join +
    * selective creation side), which is what holds at real scale.
    */
  test("runtime bloom-filter pruning injects on a selective dim-filter join") {
    val conf = spark.conf
    val prev = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join shape
    try {
      val orders = Tables.load(spark, d, "orders")
      val li = Tables.load(spark, d, "lineitem")
      val q = li.join(orders.filter(col("o_orderstatus") === "P"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"), p)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev)
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q_corpus_mix: rate table joins broadcast, never sort-merge") {
    val p = scalePlanOf("q_corpus_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "bounded rate table must broadcast")
    val small = planOf("q_corpus_mix")
    assert(oneTask(small) && small.contains("ShuffledHashJoin"), small)
  }

  test("q_quality_cut: 1-row threshold broadcast back over the corpus") {
    val p = planOf("q_quality_cut")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_freq_bigrams: map-side partial count + TakeOrderedAndProject") {
    val p = planOf("q_freq_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), "bigram count must combine map-side")
  }

  test("q_skyline: sort-based frontier — no join anywhere in the plan") {
    // the quadratic dominance shape lives ONLY in the oracle; the engine
    // side is hash-agg + bounded-frame running-min window
    val p = planOf("q_skyline")
    assert(!p.contains("Join"), p)
  }

  test("q_ewma: eight lags fuse into ONE window exec") {
    val p = planOf("q_ewma")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).size == 1, p)
  }

  test("q_triangle_count: triangle enumeration is equi-joins, no cartesian") {
    val p = planOf("q_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_containment: shares the jaccard index exchange (ReusedExchange)") {
    val df = SparkEntry.queries("q_containment")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
    assert(p.contains("ShuffledHashJoin"), "index self-join must not broadcast")
  }

  test("q_collocations: top-k is TakeOrderedAndProject, no cartesian") {
    val p = planOf("q_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_cluster_canonical: one corpus scan, one election window") {
    // the r10 shape consumed the scored join twice (unique-filter ∪
    // elected-window), re-running the documents scan and the
    // CodegenFallback quality-score HOF per branch — the suite's most
    // expensive query. The single coalesce-keyed window must keep: ONE
    // documents FileScan, no Union, and a map-side Partial
    // WindowGroupLimit ahead of the final one.
    val df = SparkEntry.queries("q_cluster_canonical")(spark, d)
    df.collect()
    // the AQE dump repeats the tree under "== Initial Plan ==" — audit
    // the final plan section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(scans == 1, s"documents scanned $scans times:\n$p")
    assert(!p.contains("Union"), "election must not re-branch the corpus")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("q_passage_dedup: digest election is a partial+final WindowGroupLimit") {
    val p = planOf("q_passage_dedup")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"),
      "map-side partial limit missing — a hot passage would ship every copy")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_bloom_decontaminate: bit_or bloom broadcast + membership " +
      "predicate ahead of the exact join") {
    val p = planOf("q_bloom_decontaminate")
    assert(p.contains("bit_or"), "bloom must build via the bit_or aggregate")
    assert(p.contains("partial_bit_or"),
      "bloom build must combine map-side (mergeable sketch)")
    assert(p.contains("BroadcastHashJoin"), p)
    // the screen is a join PREDICATE, not a post-filter
    assert(p.contains("& m#") || p.contains("&"),
      "bloom membership test missing from the join")
  }

  test("q_bm25: global top-k is TakeOrderedAndProject, no global sort") {
    val p = planOf("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df/stats must broadcast, not shuffle the corpus")
  }

  test("q_winsorize: one-row quantile band broadcasts back over the corpus") {
    val p = planOf("q_winsorize")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_source_lengths / q_winsorize: corpus pays hash aggregates, " +
      "the quantile window rides the bounded histogram") {
    // the window's input must be the aggregated histogram, never the
    // corpus: assert a HashAggregate sits below the Window in the tree
    Seq("q_source_lengths", "q_winsorize").foreach { n =>
      val lines = planOf(n).linesIterator.toSeq
      val wi = lines.indexWhere(_.contains("Window"))
      assert(wi >= 0, s"$n: no window exec")
      assert(lines.drop(wi).exists(_.contains("HashAggregate")),
        s"$n: window does not ride an aggregate (corpus-sized sort?)")
    }
  }

  test("q_token_ids: vocabulary is TakeOrderedAndProject and broadcasts " +
      "to the mapping join") {
    val p = planOf("q_token_ids")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab selection must not be a global sort")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pagerank power iteration is equi-joins + one hash agg, no cartesian") {
    // q_pagerank's returned frame is localCheckpoint-materialized (the
    // persist pattern), so ITS plan is an opaque scan — audit the
    // per-iteration step shape directly instead
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val pr = Seq((1L, 1L, 100L, 100L), (2L, 1L, 100L, 100L))
      .toDF("u", "deg", "base", "pr")
    val p = graft.ext.Graph.prStep(sym, pr)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_mode / q_topk_ties: elections optimize to WindowGroupLimit") {
    assert(planOf("q_mode").contains("WindowGroupLimit"))
    assert(planOf("q_topk_ties").contains("WindowGroupLimit"))
  }

  test("q_sample_priority: exact-k via TakeOrderedAndProject, no global sort") {
    val p = planOf("q_sample_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_sample_priority_grouped / q_top_terms: per-group k via WindowGroupLimit") {
    assert(planOf("q_sample_priority_grouped").contains("WindowGroupLimit"))
    assert(planOf("q_top_terms").contains("WindowGroupLimit"))
  }

  test("q_score_percentile: domain-bounded CDF broadcasts back over the corpus") {
    val p = scalePlanOf("q_score_percentile")
    assert(p.contains("BroadcastHashJoin"), p)
    val small = planOf("q_score_percentile")
    assert(oneTask(small) && small.contains("ShuffledHashJoin"), small)
  }

  test("q_gaps: both lags fuse into ONE window exec") {
    val p = planOf("q_gaps")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).size == 1, p)
  }

  test("q_robust_cut: 1-row med/mad stats broadcast, never shuffle-joined") {
    val p = planOf("q_robust_cut")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_label_centroids: map-side partial aggregation before the shuffle") {
    val p = planOf("q_label_centroids")
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_temperature_mix: rate table broadcasts, corpus never shuffle-joins") {
    val p = scalePlanOf("q_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // small: the rate table joins in the corpus scan's one task
    val small = planOf("q_temperature_mix")
    assert(small.contains("ShuffledHashJoin") && !small.contains("BroadcastHashJoin") &&
      !small.contains("SortMergeJoin") && !small.contains("CartesianProduct"), small)
  }

  test("q_weighted_median: cumulative windows run over the histogram aggregate") {
    val p = planOf("q_weighted_median")
    // corpus-sized work is hash aggregation; the two windows (running
    // cum-weight + total) both sit ABOVE the histogram aggregate, so
    // they only ever see domain-many rows
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).size == 2, p)
    val firstWindow = p.indexOf("Window ")
    val histAgg = p.lastIndexOf("HashAggregate")
    assert(firstWindow >= 0 && histAgg > firstWindow,
      "histogram aggregate must sit below the windows:\n" + p)
  }

  test("q_shard_assign: one partial+final aggregate pair, no join, no window") {
    val p = planOf("q_shard_assign")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q_quality_rules: pure projection - no join, window, or aggregate") {
    val p = planOf("q_quality_rules")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q_source_drift: per-group totals broadcast back, no corpus shuffle-join") {
    val p = scalePlanOf("q_source_drift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // small: the totals join in one task over the shared (reused) exchange
    val small = planOf("q_source_drift")
    assert(small.contains("ShuffledHashJoin") && !small.contains("Broadcast") &&
      !small.contains("SortMergeJoin") && !small.contains("CartesianProduct"), small)
  }

  test("q_kmeans: centroids broadcast each pass, argmax is a group limit, " +
      "no cartesian") {
    val p = planOf("q_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_kmeans_inertia: report pass keeps the same broadcast + group-limit shape") {
    val p = planOf("q_kmeans_inertia")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_span_dedup: digest election is a hash-style aggregate (never a " +
      "hot-digest window), both coverage maxima fuse into ONE window exec") {
    val p = planOf("q_span_dedup")
    // exactly one Window exec: the doc-keyed sliding coverage pair.
    // A second one would mean the election regressed to a row_number
    // window over the digest key — the skewable shape this operator
    // deliberately avoids (count+min(struct) groupBy has map-side
    // partials; a mega-duplicated boilerplate digest stays bounded)
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_url_domain: canonicalization is projection-only — the sole " +
      "exchange is the per-domain count, no join for the suffix table") {
    val p = planOf("q_url_domain")
    assert(!p.contains("Join"), "suffix table must fold into the expression tree: " + p)
    assert(!p.contains("Window"), p)
    // partial+final aggregate around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_wordpiece: one codegen'd kernel projection, no join/aggregate/window") {
    val p = planOf("q_wordpiece")
    assert(p.contains("graft_wordpiece") || p.contains("WordpieceSegment"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), "vocabulary must not become a join/agg: " + p)
  }

  test("q_unigram_lm: LM table broadcasts back over the corpus, never a " +
      "corpus shuffle-join") {
    val p = planOf("q_unigram_lm")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // the 1-row total attaches as BroadcastNestedLoopJoin (a distinct
    // node name), so a genuine CartesianProduct must never appear
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ngram_novelty: election is a sort-free hash agg; denominator never shuffles") {
    val p = planOf("q_ngram_novelty")
    // the first-doc election must be a map-combinable hash aggregate on
    // ONE shingle exchange — a window formulation would SORT the whole
    // exploded shingle mass
    assert(!p.contains("Window "), "no sort-based window over shingles: " + p)
    assert("Exchange hashpartitioning\\(sh".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
    // the exploded shingles feed the election only; the per-doc
    // denominator is a per-row projection joined doc-count-sized
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_vocab_growth: max-doc bound broadcasts, no corpus sort-merge") {
    val p = planOf("q_vocab_growth")
    // the 1-row max(doc_id) frame must attach by broadcast, never shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // shingle election is one hash exchange; decile agg is the second
    assert("Exchange hashpartitioning\\(sh".r.findAllIn(p).size == 1, p)
  }

  test("q_bpe_train: per-iteration argmax is in-plan; generations cached, no cartesian") {
    val p = planOf("q_bpe_train")
    // each learning iteration elects its merge via a 1-row
    // TakeOrderedAndProject that broadcasts back — never a driver
    // collect, never a cartesian
    assert(!p.contains("CartesianProduct"), p)
    // vocabulary generations are lazily checkpointed (LogicalRDD), so
    // the plan stays LINEAR in k: each argmax appears at most twice in
    // text (once in the union, once inside the next pending
    // checkpoint) — the uncheckpointed tree would hold 2^k - 1 = 15
    assert(p.contains("Scan ExistingRDD"), p)
    val argmaxes = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(argmaxes >= 4 && argmaxes <= 8, s"argmax count $argmaxes:\n$p")
  }

  test("q_ann_pq: codebook and LUT broadcast; elections are WindowGroupLimit") {
    val p = planOf("q_ann_pq")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p) // codes ⋈ LUT on (s, cid)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q_bpe_apply: vocabulary joins by broadcast; no cartesian reaches the corpus") {
    val p = planOf("q_bpe_apply")
    // corpus words ⋈ vocabulary-sized encode table must broadcast —
    // a shuffle join would move the whole exploded corpus on the word
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_leakage_safe_split: split is a projection over the cluster join — no extra shuffle") {
    val p = planOf("q_leakage_safe_split")
    // the hash banding itself must not add exchanges beyond the
    // contraction + doc-keyed cluster join and the final order
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_md5_prefix48") || p.contains("md5"), p)
  }

  test("q_pq_recall: truth and ADC elections are both WindowGroupLimit") {
    val p = planOf("q_pq_recall")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_semantic_decontaminate: eval set broadcasts; argmax is WindowGroupLimit") {
    val p = planOf("q_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_jl_project: zero-shuffle projection — sign matrix folded into " +
      "the expression tree, never a join") {
    val p = planOf("q_jl_project")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"projection must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("q_ndcg: truth and approx elections are WindowGroupLimit; " +
      "queries broadcast; no cartesian") {
    val p = planOf("q_ndcg")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_zipf_fit: vocabulary cut is TakeOrderedAndProject (never a " +
      "global sort); moment aggregate is partial-combined") {
    val p = planOf("q_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only wide exchange is the vocabulary aggregate's
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 1, s"expected one vocab exchange:\n$p")
  }

  test("q_perplexity_bucket: LM and milli-bit thresholds broadcast back " +
      "over the corpus; no cartesian") {
    val p = planOf("q_perplexity_bucket")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_feature_hash: one map-side-combined (doc, dim) aggregate; no join") {
    val p = planOf("q_feature_hash")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 1, s"expected exactly the (doc, dim) exchange:\n$p")
  }

  test("q_moore_lewis: joint LM broadcasts back over the corpus; no cartesian") {
    val p = planOf("q_moore_lewis")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_mmr_diversify: greedy argmaxes are WindowGroupLimit; no cartesian") {
    val p = planOf("q_mmr_diversify")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_embed_covariance: one map-side-combined cell aggregate; no join") {
    val p = planOf("q_embed_covariance")
    assert(!p.contains("Join"), p)
    // the only wide exchange carries dim²/2 cells per task, never rows
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 1, s"expected exactly the cell exchange:\n$p")
  }

  test("q_quality_logit: pure per-row projection — no shuffle, no join") {
    val p = planOf("q_quality_logit")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"classifier scoring must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("q_silhouette: top-2 election is WindowGroupLimit over broadcast centroids") {
    val p = planOf("q_silhouette")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_source_overlap: shingle self-join is equi-hash with reused exchange") {
    val df = SparkEntry.queries("q_source_overlap")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("ReusedExchange") || p.contains("reused"), p)
  }

  test("q_cdc_chunks: one window over one doc-keyed exchange, no join") {
    val p = planOf("q_cdc_chunks")
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Window")) == 1, p)
  }

  test("q_dsir_weights / q_bigram_lm: LM/delta tables broadcast back, corpus side never sort-merges") {
    for (n <- Seq("q_dsir_weights", "q_bigram_lm")) {
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n lost the broadcast-back join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n corpus side must not sort-merge:\n$p")
    }
  }

  test("q_fim: pure projection — no shuffle before the final sort, no join") {
    val p = planOf("q_fim")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"FIM must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_span_corrupt: window chain materializes once; consumers share the checkpoint") {
    val df = SparkEntry.queries("q_span_corrupt")(spark, d)
    df.collect() // materializes the lazy localCheckpoint
    val p = df.queryExecution.executedPlan.toString
    // after materialization the three consumers scan the ONE
    // checkpointed RDD — no Window node may remain in any branch
    // (a remaining Window means a consumer re-ran the chain)
    assert(p.contains("ExistingRDD"), s"checkpoint scan missing:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) == 0,
      s"a consumer re-ran the window chain:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_score_norm / q_token_budget_cut: CDF/threshold broadcast back, never a corpus sort-merge") {
    for (n <- Seq("q_score_norm", "q_token_budget_cut")) {
      val p = scalePlanOf(n)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$n lost the broadcast-back:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n must not sort-merge the corpus:\n$p")
      // small: the CDF joins back in one task (q_score_norm); the
      // threshold of q_token_budget_cut stays a nested-loop broadcast
      val small = planOf(n)
      assert(!small.contains("SortMergeJoin") && (small.contains("ShuffledHashJoin") ||
        small.contains("BroadcastNestedLoopJoin")), s"$n:\n$small")
    }
  }
}
