package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** [[SmallPlan]]: a query over input AQE would coalesce to one
  * partition runs in one task (no range, hash or broadcast exchange,
  * one job, same rows in the same order as Spark's own plan); larger
  * input, a fan-out, a user's repartition, a reused exchange, a
  * null-aware anti join, a broadcast reused by partition pruning, or
  * coalescing off keep the exchanges.
  */
class SmallPlanSpec extends SparkSpec {
  import spark.implicits._

  /** A session on the same context without the engine's extensions,
    * i.e. Spark's own plan for the same query.
    */
  private lazy val vanilla: SparkSession = {
    val (d, a) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().master("local[4]").getOrCreate()
    finally {
      d.foreach(SparkSession.setDefaultSession)
      a.foreach(SparkSession.setActiveSession)
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 200 rows, ids unique, keys repeating and partly null. */
  private lazy val tiny: String = {
    val dir = tempDir("sp_tiny")
    (0 until 200).map(i => (i.toLong, if (i % 7 == 0) None else Some(s"k${i % 13}"),
      (i * 37 % 101).toDouble))
      .toDF("id", "key", "v").repartition(4)
      .write.parquet(s"$dir/t")
    s"$dir/t"
  }

  /** 13 rows, one per non-null key of [[tiny]] but k12, plus an unmatched one. */
  private lazy val dim: String = {
    val dir = tempDir("sp_dim")
    ((0 until 12).map(i => (s"k$i", s"name$i")) :+ ("k99", "none"))
      .toDF("key", "name").repartition(2)
      .write.parquet(s"$dir/d")
    s"$dir/d"
  }

  /** 200 rows partitioned by `p` (0..4), for partition pruning. */
  private lazy val partitioned: String = {
    val dir = tempDir("sp_part")
    (0 until 200).map(i => (i.toLong, i % 5)).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$dir/f")
    s"$dir/f"
  }

  /** Collects `df`, returning its rows, job count and final plan. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val (rows, jobs) = JobCounter.jobs(df.sparkSession.sparkContext)(
      df.collect().toSeq)
    (rows, jobs.size, df.queryExecution.executedPlan.toString)
  }

  /** Rows in a fixed order, for comparing unsorted results. */
  private def canonical(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** (key, id) order with nulls first: the driver-side order of the
    * sorts below.
    */
  private val byKeyId: Ordering[Row] =
    Ordering.by((r: Row) => (Option(r.getString(1)), r.getLong(0)))

  private def scanSorted(s: SparkSession) =
    Tables.parquet(s, tiny).orderBy(col("key"), col("id"))

  private def aggSorted(s: SparkSession) =
    Tables.parquet(s, tiny).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy(col("n").desc, col("key"))

  private def agg(s: SparkSession) =
    Tables.parquet(s, tiny).groupBy("key").agg(count(lit(1)).as("n"),
      max("v").as("mv"))

  private def windowed(s: SparkSession) =
    Tables.parquet(s, tiny).select(col("id"), col("key"),
      rank().over(Window.partitionBy("key").orderBy(col("v"), col("id"))).as("r"))

  private def broadcastJoin(s: SparkSession) =
    Tables.parquet(s, tiny).join(broadcast(Tables.parquet(s, dim)), "key")
      .select("id", "key", "name")

  private def mergeJoin(s: SparkSession) =
    Tables.parquet(s, tiny).join(Tables.parquet(s, dim).hint("merge"), "key")
      .select("id", "key", "name")

  test("tiny orderBy over a parquet scan: one task, 2 fewer jobs, " +
      "rows in driver-sorted order") {
    val (rows, jobs, plan) = run(scanSorted(spark))
    val (_, vanillaJobs, vanillaPlan) = run(scanSorted(vanilla))
    assert(!plan.contains("rangepartitioning") && plan.contains("Coalesce 1"),
      plan)
    assert(vanillaPlan.contains("rangepartitioning"), vanillaPlan)
    assert(jobs == vanillaJobs - 2, s"$jobs jobs vs Spark's $vanillaJobs")
    assert(jobs == 1, plan)
    val all = Tables.parquet(spark, tiny).collect().toSeq
    assert(rows == all.sorted(byKeyId))
  }

  test("tiny orderBy over an aggregate: one job, rows in driver-sorted order") {
    val (rows, jobs, plan) = run(aggSorted(spark))
    val (vanillaRows, vanillaJobs, _) = run(aggSorted(vanilla))
    assert(!plan.contains("rangepartitioning") && !plan.contains("Exchange") &&
      plan.contains("Coalesce 1"), plan)
    assert(jobs == 1, s"$jobs jobs vs Spark's $vanillaJobs")
    val expected = Tables.parquet(spark, tiny).collect().toSeq
      .groupBy(r => Option(r.getString(1))).toSeq
      .map { case (k, rs) => (k.orNull, rs.size.toLong, rs.map(_.getDouble(2)).sum) }
      .sortBy { case (k, n, _) => (-n, Option(k)) }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))) ==
      expected)
    assert(rows == vanillaRows)
  }

  test("an aggregate and a window over a small hash shuffle each run as one job") {
    for (q <- Seq(agg _, windowed _)) {
      val (rows, jobs, plan) = run(q(spark))
      val (vanillaRows, vanillaJobs, vanillaPlan) = run(q(vanilla))
      assert(!plan.contains("Exchange") && plan.contains("Coalesce 1"), plan)
      assert(vanillaPlan.contains("Exchange hashpartitioning"), vanillaPlan)
      assert(jobs == 1 && vanillaJobs > 1, s"$jobs jobs vs Spark's $vanillaJobs")
      assert(canonical(rows) == canonical(vanillaRows))
    }
  }

  test("a small broadcast join becomes a one-task ShuffledHashJoin with the same rows") {
    val (rows, jobs, plan) = run(broadcastJoin(spark))
    val (vanillaRows, vanillaJobs, vanillaPlan) = run(broadcastJoin(vanilla))
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("Broadcast"), plan)
    assert(vanillaPlan.contains("BroadcastHashJoin"), vanillaPlan)
    assert(jobs == 1 && vanillaJobs == 2, s"$jobs jobs vs Spark's $vanillaJobs")
    assert(rows.nonEmpty && canonical(rows) == canonical(vanillaRows))
  }

  test("a shuffled join of two small sides coalesces both, in one job") {
    val (rows, jobs, plan) = run(mergeJoin(spark))
    val (vanillaRows, _, _) = run(mergeJoin(vanilla))
    assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"), plan)
    assert(jobs == 1, plan)
    assert(rows.nonEmpty && canonical(rows) == canonical(vanillaRows))
  }

  test("a shuffled join with one side above the limit keeps both exchanges, " +
      "and a small aggregate beside it still runs in one task") {
    val big = spark.range(400000).select(
      concat(lit("k"), (col("id") % 13).cast("string")).as("key"),
      xxhash64(col("id")).as("h"))
    val joined = big.join(Tables.parquet(spark, dim).hint("merge"), "key")
      .groupBy("name").agg(count(lit(1)).as("n"))
    val beside = Tables.parquet(spark, dim).groupBy("name").agg(count(lit(1)).as("n"))
    val df = joined.union(beside)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning\\(key".r.findAllMatchIn(plan).size == 2, plan)
    assert(plan.contains("Coalesce 1"), plan)
    // 13 dim names, one row each
    assert(rows.map(_.getLong(1)).sum == (0 until 400000).count(_ % 13 < 12) + 13)
  }

  test("a rewrite that would break a join's co-partitioning leaves the whole plan") {
    // the small side is an aggregate already partitioned on the join key,
    // so the join has no exchange there; coalescing the aggregate's
    // shuffle alone would leave one side with 1 partition, the other with 4
    val big = spark.range(400000).select(
      concat(lit("k"), (col("id") % 13).cast("string")).as("key"),
      xxhash64(col("id")).as("h"))
    val small = Tables.parquet(spark, tiny).groupBy("key").agg(count(lit(1)).as("n"))
    val mixed = big.join(small.hint("merge"), "key")
    for ((df, matched) <- Seq(
        mixed.groupBy("n").agg(count(lit(1)).as("c")) -> 400000,
        // a broadcast join above reads the mixed join's partitioning,
        // which Spark cannot even form
        mixed.join(broadcast(Tables.parquet(spark, dim)), "key")
          .groupBy("n").agg(count(lit(1)).as("c")) ->
          (0 until 400000).count(_ % 13 < 12))) {
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin") && !plan.contains("Coalesce"), plan)
      assert("Exchange hashpartitioning\\(key".r.findAllMatchIn(plan).size == 2, plan)
      assert(rows.map(_.getLong(1)).sum == matched)
    }
  }

  test("input above the coalescing threshold keeps its range exchange " +
      "and sorts in more than one task") {
    // ~400k rows of 8-byte hashes: several MB shuffled, above the
    // 1 MB `minPartitionSize` and Spark's estimate (Range is exact)
    val df = spark.range(400000).select(col("id"), xxhash64(col("id")).as("h"))
      .orderBy("h")
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("rangepartitioning"), plan.toString)
    assert(plan.execute().getNumPartitions > 1, plan.toString)
    assert(rows.map(_.getLong(1)).toSeq ==
      rows.map(_.getLong(1)).toSeq.sorted)
  }

  test("an explode fan-out from a small seed keeps the range exchange") {
    val df = spark.range(4).toDF("n")
      .select(col("n"), explode(sequence(lit(1), lit(50000))).as("x"))
      .orderBy(col("x").desc, col("n"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce"),
      plan)
    assert(rows.length == 200000)
    assert(rows.take(3).map(r => (r.getInt(1), r.getLong(0))).toSeq ==
      Seq((50000, 0L), (50000, 1L), (50000, 2L)))
  }

  test("an explode fan-out under an aggregate keeps the hash exchange") {
    val df = spark.range(4).toDF("n")
      .select(explode(sequence(lit(1), lit(50000))).as("x"))
      .groupBy((col("x") % 7).as("m")).agg(count(lit(1)).as("c"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning") && !plan.contains("Coalesce"),
      plan)
    assert(rows.map(_.getLong(1)).sum == 200000)
  }

  test("a null-aware anti join (NOT IN) keeps its broadcast plan") {
    Tables.parquet(spark, tiny).createOrReplaceTempView("sp_naaj_t")
    Tables.parquet(spark, dim).createOrReplaceTempView("sp_naaj_d")
    val df = spark.sql(
      "SELECT id FROM sp_naaj_t WHERE key NOT IN (SELECT key FROM sp_naaj_d)")
    val (rows, _, plan) = run(df)
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
    // a NULL in the build side would empty the result; dim has none, and
    // a NULL key never passes NOT IN
    val keys = Tables.parquet(spark, dim).collect().map(_.getString(0)).toSet
    assert(rows.map(_.getLong(0)).sorted == Tables.parquet(spark, tiny).collect()
      .filter(r => !r.isNullAt(1) && !keys(r.getString(1))).map(_.getLong(0)).toSeq.sorted)
  }

  test("a broadcast reused by a partition-pruning filter keeps its plan") {
    val dir = tempDir("sp_sel") + "/s"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("p", "tag").write.parquet(dir)
    val sel = Tables.parquet(spark, dir).where(col("tag") === "b")
    val df = Tables.parquet(spark, partitioned).join(sel, "p").select("id", "p")
    val (rows, _, plan) = run(df)
    assert(plan.contains("dynamicpruning") && plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
    assert(rows.map(_.getLong(0)).sorted == (0L until 200L).filter(_ % 5 == 2))
  }

  test("an exchange AQE reuses keeps its plan") {
    val a = Tables.parquet(spark, tiny).groupBy("key").agg(sum("v").as("s"))
    val df = a.as("x").join(a.as("y"), "key")
    val (rows, _, plan) = run(df)
    assert(plan.contains("ReusedExchange"), plan)
    val (vanillaRows, _, _) = run({
      val va = Tables.parquet(vanilla, tiny).groupBy("key").agg(sum("v").as("s"))
      va.as("x").join(va.as("y"), "key")
    })
    assert(rows.size == 13 && canonical(rows) == canonical(vanillaRows))
  }

  test("a user's repartition(n), repartition(col) and repartitionByRange " +
      "keep their exchanges") {
    val t = Tables.parquet(spark, tiny)
    for ((df, shape) <- Seq(
        t.repartition(3).groupBy("key").count() -> "REPARTITION_BY_NUM",
        t.repartition(col("key")).groupBy("key").count() -> "REPARTITION_BY_COL",
        t.repartitionByRange(3, col("id")).orderBy("id") -> "REPARTITION_BY_NUM")) {
      val (rows, _, plan) = run(df)
      assert(plan.contains(shape), plan)
      assert(rows.nonEmpty)
    }
  }

  test("with spark.sql.adaptive.coalescePartitions.enabled=false every exchange stays") {
    atScale {
      val (rows, _, plan) = run(scanSorted(spark))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce"),
        plan)
      assert(rows == Tables.parquet(spark, tiny).collect().toSeq.sorted(byKeyId))
      for (q <- Seq(agg _, windowed _, broadcastJoin _, mergeJoin _)) {
        val p = run(q(spark))._3
        assert(p.contains("Exchange") && !p.contains("Coalesce"), p)
      }
    }
  }

  test("a sorted frame written to parquet reads back with the same rows") {
    val out = tempDir("sp_out") + "/o"
    scanSorted(spark).write.parquet(out)
    val expected = Tables.parquet(spark, tiny).collect().toSeq.sorted(byKeyId)
    // one sort task writes one file, so its row order is the sort order
    assert(Tables.parquet(spark, out).inputFiles.length == 1)
    assert(Tables.parquet(spark, out).collect().toSeq == expected)
  }

  test("a query stage still running is judged by the operators it runs: an " +
      "explode under it keeps the exchange above it whichever stage AQE " +
      "sees finish first") {
    // the explode stage is slow, so AQE re-plans once the fast stage is
    // done and the explode stage is not; its logical estimate (a few
    // hundred bytes) is under the limit, its runtime size (~16 KB) is not
    val slow = udf((x: Long) => { if (x == 0) Thread.sleep(1500); x })
    val fanOut = spark.range(0, 50, 1, 2)
      .select(explode(sequence(col("id") * 20, col("id") * 20 + 19)).as("k"))
      .select(slow(col("k")).as("k"))
      .repartition(4, col("k"))
      .groupBy((col("k") % 3).as("g")).agg(count(lit(1)).as("n"))
    val fast = spark.range(0, 10, 1, 2).repartition(2, col("id"))
      .select(col("id").as("g"), lit(1L).as("n"))
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(key, "4k")
    val (rows, _, plan) = try run(fanOut.unionByName(fast)) finally spark.conf.unset(key)
    assert(!plan.contains("Coalesce"), plan)
    assert(canonical(rows) == canonical(
      Seq(Row(0L, 334L), Row(1L, 333L), Row(2L, 333L)) ++ (0L until 10L).map(Row(_, 1L))))
  }
}
