package graft.ops


import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Commit protocol that names every output file `data-…` instead of
  * `part-…`, as some object-store committers do.
  */
class DataPrefixCommitProtocol(jobId: String, path: String,
                               dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def getFilename(ctx: TaskAttemptContext,
                           spec: FileNameSpec): String =
    "data" + super.getFilename(ctx, spec).stripPrefix("part")
}

/** Bucketed tables co-locate join keys at WRITE time, so repeated joins
  * on the bucket key need no shuffle at all — the scale lever for a
  * fact table joined on the same key by many downstream queries
  * (SURVEY.md §4: "bucketing for co-located joins").
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-bucketed join plans without a shuffle exchange") {
    // tables land in the default spark-warehouse/ dir (gitignored)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")

    val orders = (1L to 1000L).map(k => (k, s"o$k")).toDF("key", "ov")
    val lines = (1L to 3000L).map(i => (i % 1000 + 1, s"l$i")).toDF("key", "lv")
    orders.write.bucketBy(4, "key").sortBy("key").saveAsTable("b_orders")
    lines.write.bucketBy(4, "key").sortBy("key").saveAsTable("b_lines")

    val joined = spark.table("b_orders").join(spark.table("b_lines"), "key")
      // disable broadcast so the co-location, not a broadcast, removes
      // the shuffle
      .hint("merge")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == 3000)

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
  }

  test("writeBucketedTable fails loudly on output files it does not " +
      "recognize instead of rewriting the segment as empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_foreign")
      .toString + "/seg"
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[DataPrefixCommitProtocol].getName)
    val err =
      try intercept[IllegalStateException](Layout.writeBucketedTable(
        (1L to 100L).toDF("key"), dir, "key", buckets = 4))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(err.getMessage.contains("unrecognized entries"), err.getMessage)
    // nothing was deleted: the rows written under foreign names survive
    assert(Staging.list(dir).exists(_.startsWith("data-")))
    assert(spark.read.parquet(dir).count() == 100)
    Staging.deleteTree(dir)
  }
}
