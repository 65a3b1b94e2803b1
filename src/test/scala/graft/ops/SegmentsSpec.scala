package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{AnnIndex, Dedup, DupGraph, HammingIndex, Multimodal,
  NoveltyIndex, Similarity}

/** Pins the segment lifecycle the four durable indexes share through
  * [[Segments]]: what each commit and compaction costs in Spark jobs
  * and what manifest it publishes (segment ids included), and the
  * stale-handle guard of every index.
  */
class SegmentsSpec extends SparkSpec {
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

  /** Jobs per leg and the manifest each leg published, recorded at the
    * commit before the four indexes shared [[Segments]]: the lifecycle
    * moved there, and neither number may move with it. The day-2
    * commits of HammingIndex and AnnIndex launched 6 or 7 jobs from run
    * to run at that commit too, so either count passes there.
    */
  private val pinned: Map[String, (Seq[Set[Int]], Seq[Seq[(String, String)]])] = {
    def mf(kv: (String, String)*): Seq[(String, String)] = kv
    Map(
      "DupGraph" -> (Seq(Set(11), Set(18), Set(4)), Seq(
        mf("batchId" -> "0", "buckets" -> "8", "clsegs" -> "k1",
          "hash" -> "shingle48/v1", "isegs" -> "i1", "n" -> "3",
          "psegs" -> "p1", "threshold" -> "0.5"),
        mf("batchId" -> "1", "buckets" -> "8", "clsegs" -> "k1,k2",
          "hash" -> "shingle48/v1", "isegs" -> "i1,i2", "n" -> "3",
          "psegs" -> "p1,p2", "threshold" -> "0.5"),
        mf("batchId" -> "1", "buckets" -> "8", "clsegs" -> "k3",
          "hash" -> "shingle48/v1", "isegs" -> "i3", "n" -> "3",
          "psegs" -> "p3", "threshold" -> "0.5"))),
      "NoveltyIndex" -> (Seq(Set(3), Set(4), Set(2)), Seq(
        mf("batchId" -> "0", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s1"),
        mf("batchId" -> "1", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s1,s2"),
        mf("batchId" -> "1", "buckets" -> "8", "hash" -> "shingle48/v1",
          "n" -> "3", "ssegs" -> "s3"))),
      "HammingIndex" -> (Seq(Set(5), Set(6, 7), Set(3)), Seq(
        mf("bands" -> "4", "batchId" -> "0", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i1", "maxDist" -> "3",
          "psegs" -> "p1"),
        mf("bands" -> "4", "batchId" -> "1", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i1,i2", "maxDist" -> "3",
          "psegs" -> "p1,p2"),
        mf("bands" -> "4", "batchId" -> "1", "bits" -> "64", "buckets" -> "8",
          "fmt" -> "hamming/v1", "isegs" -> "i3", "maxDist" -> "3",
          "psegs" -> "p3"))),
      "AnnIndex" -> (Seq(Set(17), Set(6, 7), Set(2)), Seq(
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
      assert(jobs.zip(expectJobs).forall { case (n, ok) => ok(n) },
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
}
