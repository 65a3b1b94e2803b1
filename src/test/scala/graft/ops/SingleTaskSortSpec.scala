package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** [[SingleTaskSort]]: a global sort over input AQE would coalesce to
  * one partition runs in one task (no range exchange, two fewer jobs
  * than Spark's own plan, same rows in the same order); larger input,
  * a fan-out below the sort, or coalescing off keep the range exchange.
  */
class SingleTaskSortSpec extends SparkSpec {
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

  /** 200 rows, ids unique, keys repeating and partly null. */
  private lazy val tiny: String = {
    val dir = java.nio.file.Files.createTempDirectory("sts_tiny").toString
    (0 until 200).map(i => (i.toLong, if (i % 7 == 0) None else Some(s"k${i % 13}"),
      (i * 37 % 101).toDouble))
      .toDF("id", "key", "v").repartition(4)
      .write.parquet(s"$dir/t")
    s"$dir/t"
  }

  /** Collects `df`, returning its rows, job count and final plan. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val (rows, jobs) = JobCounter.jobs(df.sparkSession.sparkContext)(
      df.collect().toSeq)
    (rows, jobs.size, df.queryExecution.executedPlan.toString)
  }

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

  test("tiny orderBy over a parquet scan: one task, 2 fewer jobs, " +
      "rows in driver-sorted order") {
    val (rows, jobs, plan) = run(scanSorted(spark))
    val (_, vanillaJobs, vanillaPlan) = run(scanSorted(vanilla))
    assert(!plan.contains("rangepartitioning") && plan.contains("Coalesce 1"),
      plan)
    assert(vanillaPlan.contains("rangepartitioning"), vanillaPlan)
    assert(jobs == vanillaJobs - 2, s"$jobs jobs vs Spark's $vanillaJobs")
    val all = Tables.parquet(spark, tiny).collect().toSeq
    assert(rows == all.sorted(byKeyId))
  }

  test("tiny orderBy over an aggregate: one task, 2 fewer jobs, " +
      "rows in driver-sorted order") {
    val (rows, jobs, plan) = run(aggSorted(spark))
    val (vanillaRows, vanillaJobs, _) = run(aggSorted(vanilla))
    assert(!plan.contains("rangepartitioning") && plan.contains("Coalesce 1"),
      plan)
    assert(jobs == vanillaJobs - 2, s"$jobs jobs vs Spark's $vanillaJobs")
    val expected = Tables.parquet(spark, tiny).collect().toSeq
      .groupBy(r => Option(r.getString(1))).toSeq
      .map { case (k, rs) => (k.orNull, rs.size.toLong, rs.map(_.getDouble(2)).sum) }
      .sortBy { case (k, n, _) => (-n, Option(k)) }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))) ==
      expected)
    assert(rows == vanillaRows)
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

  test("with coalescePartitions.enabled=false the range exchange stays") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val (rows, _, plan) = run(scanSorted(spark))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce"),
        plan)
      assert(rows == Tables.parquet(spark, tiny).collect().toSeq.sorted(byKeyId))
    } finally spark.conf.unset(key)
  }

  test("a sorted frame written to parquet reads back with the same rows") {
    val out = java.nio.file.Files.createTempDirectory("sts_out").toString + "/o"
    scanSorted(spark).write.parquet(out)
    val expected = Tables.parquet(spark, tiny).collect().toSeq.sorted(byKeyId)
    // one sort task writes one file, so its row order is the sort order
    assert(Tables.parquet(spark, out).inputFiles.length == 1)
    assert(Tables.parquet(spark, out).collect().toSeq == expected)
  }
}
