package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.HammingIndex

/** Scratch: sub-leg decomposition of one versioned-commit ladder rung
  * (the cost shared by all five durable-artifact lifecycles — the
  * bench's entire top-6 is commit-ladder rows). Times the Staging
  * primitives alone, then three StreamingHamming folds like
  * q_media_dedup_refresh runs them.
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    // committer A/B: optional second arg "v1" (the legacy serial-rename
    // committer) or "v2" (the Sessions recipe default) names the arm;
    // any other value fails, so a stale invocation cannot silently
    // measure v2 against v2. Set via the BUILDER (spark.hadoop.*) so
    // each arm is deterministic even when a warm JVM reuses a session —
    // mutating hadoopConfiguration after getOrCreate leaked the
    // previous run's setting into the baseline arm.
    val arm = args.lift(1).getOrElse("v2")
    require(arm == "v1" || arm == "v2",
      s"CommitProbe: second argument must be v1 or v2, got '$arm'")
    val builder = graft.Sessions.localBuilder("32")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        arm.stripPrefix("v"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def leg[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[commit] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    // a 5000-row fingerprint frame, checkpointed (probe isolates the
    // COMMIT machinery, not fp derivation)
    val fps = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), xxhash64(col("doc_id")).as("fp"))
      .repartition(32).localCheckpoint()
    fps.count()

    val tmp = System.getProperty("java.io.tmpdir")
    for (round <- 1 to 3) {
      println(s"-- round $round --")
      val root = s"$tmp/graft_commitprobe_${ProcessHandle.current().pid()}_$round"
      graft.ops.Staging.deleteTree(root)
      // bare Staging primitives
      val (dir0, v0) = leg("nextVersionDir")(
        graft.ops.Staging.nextVersionDir(root))
      leg("writeManifest")(
        graft.ops.Staging.writeManifest(dir0, Map("k" -> "v")))
      leg("commitVersion")(graft.ops.Staging.commitVersion(root, v0))
      leg("gcSegments")(graft.ops.Staging.gcSegments(root, Seq("isegs")))
      graft.ops.Staging.deleteTree(root)

      // bare parquet write shapes at batch size
      val seg = s"$tmp/graft_commitprobe_seg_$round"
      graft.ops.Staging.deleteTree(seg)
      leg("write 32-part parquet (5k rows)")(
        fps.write.mode("overwrite").parquet(s"$seg/a"))
      leg("write repart(8,bkey) parquet")(
        fps.withColumn("bkey", pmod(col("fp"), lit(8)))
          .repartition(8, col("bkey"))
          .write.mode("overwrite").parquet(s"$seg/b"))
      leg("write partitionBy(bkey) 8 cells")(
        fps.withColumn("bkey", pmod(col("fp"), lit(8)))
          .repartition(col("bkey"))
          .write.partitionBy("bkey").mode("overwrite").parquet(s"$seg/c"))
      graft.ops.Staging.deleteTree(seg)

      // the q_media_dedup_refresh fold ladder (3 folds, compact at 2)
      val hroot = s"$tmp/graft_commitprobe_h_$round"
      graft.ops.Staging.deleteTree(hroot)
      (0L to 2L).foreach { i =>
        leg(s"StreamingHamming fold $i")(
          graft.streaming.StreamingHamming.foldBatch(
            fps.filter(col("doc_id") % 12 === i * 4)
              .select(col("doc_id"), col("fp")),
            hroot, batchId = i, maxDist = 3, bands = 4, bits = 64,
            buckets = 8, compactEvery = 2))
      }
      leg("HammingIndex.read + pairs count")(
        HammingIndex.read(spark, hroot).pairs.count())
      graft.ops.Staging.deleteTree(hroot)
    }
    spark.stop()
  }
}
