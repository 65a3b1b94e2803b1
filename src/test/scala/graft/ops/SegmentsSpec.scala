package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{AnnIndex, Dedup, DupGraph, HammingIndex, Multimodal,
  NoveltyIndex, Similarity}

/** Pins the segment lifecycle the four durable indexes share through
  * [[Segments]]: what each commit and compaction costs in Spark jobs
  * and what manifest it publishes (segment ids included), and the
  * stale-handle guard of every index.
  */
class SegmentsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def docs(ids: Seq[Long]): DataFrame = ids.map(i =>
    (i, s"w${i % 6} w${(i + 1) % 6} w${(i + 2) % 6} w${i % 4} w${i % 9}"))
    .toDF("doc_id", "text")

  private def fps(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Multimodal.targetFp(i))).toDF("doc_id", "fp")

  // 500 deterministic 64-dim vectors (m = 4 subspaces of 16)
  private lazy val norms = Similarity.withNorm(
    (0L until 500L).map(i => (i, Seq.tabulate(64)(j =>
        (math.sin(i * 0.37 + j * 1.3) + (i % 5) * 0.2).toFloat)))
      .toDF("vec_id", "embedding"),
    col("vec_id"), col("embedding")).localCheckpoint(false)
  private def vecs(day: Int): DataFrame =
    if (day == 1) norms.filter(col("vec_id") % 3 =!= 2 || col("vec_id") % 100 === 0)
    else norms.filter(col("vec_id") % 3 === 2 && col("vec_id") % 100 =!= 0)

  /** One index's lifecycle: commit day 1 (v1), re-open and commit day 2
    * (v2), compact (v3). `reopen` returns the commit of a handle read
    * now, with no batch applied.
    */
  private case class Lifecycle(name: String,
                                     day1: String => Unit,
                                     day2: String => Unit,
                                     compact: String => Unit,
                                     reopen: String => String => Unit)

  private val lifecycles = Seq(
    Lifecycle("DupGraph",
      d => { val g = Dedup.dupGraph(docs(1L to 12L), col("text"), col("doc_id"))
        try g.write(d, buckets = 8, batchId = Some(0L)) finally g.unpersist() },
      d => { val g = Dedup.refreshDupGraph(DupGraph.read(spark, d),
          docs(13L to 24L), col("text"), col("doc_id"))
        try g.write(d, batchId = Some(1L)) finally g.unpersist() },
      d => DupGraph.compact(spark, d),
      d => { val g = DupGraph.read(spark, d); dd => g.write(dd) }),
    Lifecycle("NoveltyIndex",
      d => NoveltyIndex.build(docs(1L to 12L), col("text"), col("doc_id"),
        n = 3, buckets = 8).write(d, batchId = Some(0L)),
      d => NoveltyIndex.read(spark, d).update(
        docs(13L to 24L).withColumn("text", concat(col("text"), lit(" z"))),
        col("text"), col("doc_id")).write(d, batchId = Some(1L)),
      d => NoveltyIndex.compact(spark, d),
      d => { val i = NoveltyIndex.read(spark, d); dd => i.write(dd); () }),
    Lifecycle("HammingIndex",
      d => HammingIndex.build(fps(0L until 29L), maxDist = 3, buckets = 8)
        .write(d, batchId = Some(0L)),
      d => HammingIndex.read(spark, d).refresh(fps(29L until 61L))
        .write(d, batchId = Some(1L)),
      d => HammingIndex.compact(spark, d),
      d => { val i = HammingIndex.read(spark, d); dd => i.write(dd); () }),
    Lifecycle("AnnIndex",
      d => AnnIndex.train(vecs(1), m = 4, subDim = 16, lloydIters = 1)
        .write(d, batchId = Some(0L)),
      d => AnnIndex.read(spark, d).refresh(vecs(2)).write(d, batchId = Some(1L)),
      d => AnnIndex.compact(spark, d),
      d => { val i = AnnIndex.read(spark, d); dd => i.write(dd); () }))

  private def manifest(d: String, v: Long): Map[String, String] =
    Staging.readManifest(Staging.versionDir(d, v))

  /** Jobs per leg and the manifest each leg published. The manifests
    * are those of the commit before the four indexes shared
    * [[Segments]]. The jobs are those of one-task segment writes: a
    * compaction's union of KB-sized segments, and DupGraph's day-2
    * index and pair deltas, fit one task and write with no shuffle map
    * stage.
    */
  private val pinned: Map[String, (Seq[Int], Seq[Seq[(String, String)]])] = {
    def mf(kv: (String, String)*): Seq[(String, String)] = kv
    Map(
      "DupGraph" -> (Seq(11, 17, 3), Seq(
        mf("batchId" -> "0", "buckets" -> "8", "clsegs" -> "k1",
          "hash" -> "shingle48/v1", "isegs" -> "i1", "n" -> "3",
          "psegs" -> "p1", "threshold" -> "0.5"),
        mf("batchId" -> "1", "buckets" -> "8", "clsegs" -> "k1,k2",
          "hash" -> "shingle48/v1", "isegs" -> "i1,i2", "n" -> "3",
          "psegs" -> "p1,p2", "threshold" -> "0.5"),
        mf("batchId" -> "1", "buckets" -> "8", "clsegs" -> "k3",
          "hash" -> "shingle48/v1", "isegs" -> "i3", "n" -> "3",
          "psegs" -> "p3", "threshold" -> "0.5"))),
      "NoveltyIndex" -> (Seq(3, 4, 1), Seq(
        mf("batchId" -> "0", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s1"),
        mf("batchId" -> "1", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s1,s2"),
        mf("batchId" -> "1", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s3"))),
      "HammingIndex" -> (Seq(5, 7, 2), Seq(
        mf("bands" -> "4", "batchId" -> "0", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i1", "maxDist" -> "3",
          "psegs" -> "p1"),
        mf("bands" -> "4", "batchId" -> "1", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i1,i2", "maxDist" -> "3",
          "psegs" -> "p1,p2"),
        mf("bands" -> "4", "batchId" -> "1", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i3", "maxDist" -> "3",
          "psegs" -> "p3"))),
      "AnnIndex" -> (Seq(17, 7, 1), Seq(
        mf("batchId" -> "0", "centseg" -> "n1", "csegs" -> "c1",
          "fmt" -> "ivfpq/v1", "m" -> "4", "pqseg" -> "b1", "subDim" -> "16"),
        mf("batchId" -> "1", "centseg" -> "n1", "csegs" -> "c1,c2",
          "fmt" -> "ivfpq/v1", "m" -> "4", "pqseg" -> "b1", "subDim" -> "16"),
        mf("batchId" -> "1", "centseg" -> "n1", "csegs" -> "c3",
          "fmt" -> "ivfpq/v1", "m" -> "4", "pqseg" -> "b1", "subDim" -> "16"))))
  }

  lifecycles.foreach { lc =>
    test(s"${lc.name}: jobs per commit and compact, and every manifest, " +
        "are the pinned ones") {
      val d = tmp(s"seg_pin_${lc.name}")
      val sc = spark.sparkContext
      // the manifest as written: one sorted key=value line per key
      val (jobs, mfs) = Seq(lc.day1, lc.day2, lc.compact).map { leg =>
        val n = JobCounter.count(sc)(leg(d))
        (n, Staging.readString(
          s"${Staging.versionDir(d, Staging.currentVersion(d).get)}/manifest"))
      }.unzip
      val (expectJobs, expectMfs) = pinned(lc.name)
      assert(jobs == expectJobs,
        s"jobs per commit, commit, compact: $jobs; pinned $expectJobs")
      assert(mfs == expectMfs.map(_.map { case (k, v) => s"$k=$v" }.mkString("\n")))
    }
  }

  test("stale-handle guard: a handle whose segments were swept refuses " +
      "to commit, for every index, and leaves the artifact as it was") {
    lifecycles.foreach { lc =>
      val d = tmp(s"seg_stale_${lc.name}")
      lc.day1(d) // v1
      val stale = lc.reopen(d) // pins v1's segments
      lc.day2(d) // v2
      lc.compact(d) // v3; v1 leaves retention
      lc.reopen(d)(d) // v4; v2 leaves retention, v1's segments are swept
      val v = Staging.currentVersion(d)
      val mf = manifest(d, v.get)
      val e = intercept[IllegalArgumentException](stale(d))
      assert(e.getMessage.contains("retention"), s"${lc.name}: ${e.getMessage}")
      assert(e.getMessage.contains(lc.name), s"${lc.name}: ${e.getMessage}")
      assert(Staging.currentVersion(d) == v && manifest(d, v.get) == mf,
        s"${lc.name}: the refused commit moved the artifact")
    }
  }

  // ----------------------------------------------- one task per small write

  private val Flat = Segments.Family("fsegs", "f")
  private val Bkt = Segments.Family("bsegs", "b", Segments.Bucketed("k"))
  private val Cells = Segments.Family("csegs", "c", Segments.Partitioned("cell"))

  /** 400 rows over 4 input splits: Spark's estimate is a few KB. */
  private def rows: DataFrame = spark.range(0, 400, 1, 4)
    .select(col("id").as("k"), (col("id") % 3).as("cell"), (col("id") * 7).as("v"))

  /** Part files under `d`, by the directory (relative to `d`) holding them. */
  private def partFiles(d: String): Map[String, Seq[String]] = {
    val root = java.nio.file.Paths.get(d)
    val it = java.nio.file.Files.walk(root).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (dir, ps) => dir -> ps.map(_.getFileName.toString).sorted }
  }

  /** The write's jobs, and its tasks: each job's last stage (AQE runs one
    * stage per job; earlier stages of a result job are skipped).
    */
  private def cost(body: => Unit): (Int, Int) = {
    val (_, js) = JobCounter.jobs(spark.sparkContext)(body)
    (js.size, js.map(_.start.stageInfos.maxBy(_.stageId).numTasks).sum)
  }

  test("a small input is written by one task: a plain segment as one file, " +
      "a bucketed one as one sorted file per bucket that joins with no " +
      "Exchange on its side, a partitioned one as one file per cell that a " +
      "probe join still prunes") {
    val root = tmp("seg_one")
    assert(cost(Segments.write(Flat, rows, root, "f1")) == (1, 1))
    assert(partFiles(Segments.dir(root, "f1")).values.map(_.size).toSeq == Seq(1))

    assert(cost(Segments.write(Bkt, rows, root, "b1", buckets = 4)) == (1, 1))
    assert(cost(Segments.write(Bkt, rows.filter(col("k") % 2 === 0), root, "b2",
      buckets = 4)) == (1, 1))
    val files = partFiles(Segments.dir(root, "b1"))("")
    // bucket id is the file name's last `_NNNNN` before the extension
    assert(files.map(_.split('.').head.takeRight(5)).sorted ==
      Seq("00000", "00001", "00002", "00003"), files)
    files.foreach { f =>
      val ks = spark.read.parquet(s"${Segments.dir(root, "b1")}/$f")
        .collect().map(_.getLong(0)).toSeq
      assert(ks.nonEmpty && ks == ks.sorted, f)
    }
    val b1 = Segments.open(spark, Bkt, root, "b1", 4)
    val joined = b1.join(Segments.open(spark, Bkt, root, "b2", 4).hint("merge"), "k")
    val plan = atScale(joined.queryExecution.executedPlan.toString)
    assert(!plan.contains("Exchange"), plan)
    assert(joined.count() == 200)

    assert(cost(Segments.write(Cells, rows, root, "c1")) == (1, 1))
    assert(partFiles(Segments.dir(root, "c1")).map { case (c, fs) => c -> fs.size } ==
      Map("cell=0" -> 1, "cell=1" -> 1, "cell=2" -> 1))
    // a selective probe side: partition pruning drops cells 0 and 2
    Seq(1, 7).toDF("cell").write.parquet(s"$root/probe")
    val probe = graft.model.Tables.parquet(spark, s"$root/probe").filter(col("cell") < 5)
    val pruned = Segments.open(spark, Cells, root, "c1").join(probe, "cell")
    assert(pruned.collect().length == 133)
    val plan2 = pruned.queryExecution.executedPlan
    assert(collect(plan2) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.head.getName == "c1" =>
        s.metrics("numFiles").value
    } == Seq(1L), plan2)
  }

  test("an input above the limit, a fan-out input and a session with " +
      "coalescing off keep the repartition path and its task count") {
    val fanOut = spark.range(0, 100, 1, 4).select(
      explode(array(col("id"), col("id") + 100, col("id") + 200,
        col("id") + 300)).as("k"))
      .select(col("k"), (col("k") % 3).as("cell"), (col("k") * 7).as("v"))
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    def above[A](body: => A): A = {
      spark.conf.set(minSize, "1b")
      try body finally spark.conf.unset(minSize)
    }
    val ways: Seq[(String, DataFrame, (=> (Int, Int)) => (Int, Int))] = Seq(
      ("above the limit", rows, c => above(c)),
      ("explode", fanOut, c => c),
      ("coalescing off", rows, c => atScale(c)))
    ways.foreach { case (way, df, run) =>
      val root = tmp("seg_spread")
      // plain: one file per input split; bucketed: a 4-task map stage,
      // then one write task per bucket; partitioned: a 4-task map stage,
      // then the cells' shuffle partitions, coalesced by AQE when on
      assert(run(cost(Segments.write(Flat, df, root, "f1"))) == (1, 4), way)
      assert(partFiles(Segments.dir(root, "f1")).values.map(_.size).toSeq == Seq(4), way)
      assert(run(cost(Segments.write(Bkt, df, root, "b1", buckets = 4))) == (2, 8), way)
      assert(partFiles(Segments.dir(root, "b1"))("").size == 4, way)
      val (jobs, tasks) = run(cost(Segments.write(Cells, df, root, "c1")))
      assert(jobs == 2 && tasks > 4, s"$way: $jobs jobs, $tasks tasks")
    }
  }

  test("empty segments keep their form: bucketed `_GRAFT_EMPTY` plus one " +
      "zero-row file, partitioned and plain as one zero-row file") {
    val empty = rows.limit(0)
    Seq(false, true).foreach { spread =>
      val root = tmp("seg_empty")
      def go(body: => Unit): Unit = if (spread) atScale(body) else body
      go(Segments.write(Flat, empty, root, "f1"))
      go(Segments.write(Bkt, empty, root, "b1", buckets = 4))
      go(Segments.write(Cells, empty, root, "c1"))
      Seq("f1", "b1", "c1").foreach { sid =>
        assert(partFiles(Segments.dir(root, sid)).values.map(_.size).toSeq == Seq(1),
          s"$sid spread=$spread")
        assert(Segments.open(spark, if (sid == "b1") Bkt else Flat, root, sid, 4)
          .schema.fieldNames.toSeq == Seq("k", "cell", "v"), s"$sid spread=$spread")
      }
      assert(Staging.exists(s"${Segments.dir(root, "b1")}/_GRAFT_EMPTY"))
      assert(!Staging.exists(s"${Segments.dir(root, "c1")}/cell=0"))
    }
  }
}
