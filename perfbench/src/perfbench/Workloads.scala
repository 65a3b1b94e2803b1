package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Export, FileTree, Import}
import graft.ext.{AnnIndex, Dedup, DupGraph, HammingIndex, NoveltyIndex, Similarity}
import graft.model.Manifests.CollectionExport
import graft.model.Tables

/** One timed call into a layer. `kind` names the call (query, fold,
  * commit, ...), `group` the thing it acts on (a query name, an index,
  * the ETL pipeline). `dir`, when set, is the artifact directory whose
  * new files a traced run counts.
  */
final case class Op(name: String, kind: String, group: String,
                    dir: Option[String] = None)(val body: OpCtx => Unit)

/** Handed to an op body: lets a query op time its build step apart. */
trait OpCtx {
  def build[A](f: => A): A
}

/** Outcome of one output check; a failed check marks every timed
  * execution of the ops in `ops` as failed.
  */
final case class Check(name: String, ok: Boolean, ops: Set[String], detail: String)

trait Workload {
  def name: String
  /** Warm pass time on a 4-core host; sets how many passes fill a run. */
  def passSeconds: Double
  /** Most passes one timed region may run. */
  def maxPasses: Int = Int.MaxValue
  /** Make the inputs for `seed` under `data` (untimed, cached per seed). */
  def generate(spark: SparkSession, data: String, seed: Long): Unit
  /** Called once in set-up, before the warm-up passes. */
  def setup(spark: SparkSession): Unit = ()
  /** Run pass `p` (negative for warm-ups), handing each op to `exec`. */
  def runPass(spark: SparkSession, p: Int, exec: Op => Unit): Unit
  /** Check the outputs of the last timed pass. */
  def check(spark: SparkSession, lastPass: Int): Seq[Check]
  /** Bytes of the final artifacts of pass `p` over the input bytes. */
  def spaceAmp(p: Int): Option[Double] = None
  /** Input rows/bytes as generated, for the run record. */
  def inputs: Map[String, Long]
}

object Workloads {
  /** `corrupt` names an op whose output the output-check test corrupts. */
  def apply(name: String, work: String, corrupt: Option[String] = None): Workload = name match {
    case "relational" => new QueryWorkload("relational", Relational, 3.0, corrupt)
    case "corpus" => new QueryWorkload("corpus", Corpus, 3.0, corrupt)
    case "lifecycle" => new Lifecycle(work, corrupt)
    case "dp1-etl" => new Dp1Etl(work, corrupt)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("relational", "corpus", "lifecycle", "dp1-etl")

  /** Untimed warm-up passes in set-up: with two, the first timed pass
    * still ran 10-30% slower than the last as the JIT compiled Catalyst
    * and the index code.
    */
  val WarmupPasses = 3

  /** The relational op list: one CoreQueries row per operator family
    * (scan, projection, predicate, join, aggregate, window, sort, set
    * ops, scalar functions, events), so Catalyst, codegen and the
    * scheduler see the surface's variety in one short pass.
    */
  val Relational: Seq[String] = Seq(
    "q_scan_prune", "q_join_inner", "q_join_star", "q_find_first",
    "q_group_count", "q_rollup", "q_window_rank", "q_except",
    "q_asof_join", "q_window_session")

  /** The corpus op list: pair-mass, shuffle and kernel heavy rows. */
  val Corpus: Seq[String] = Seq(
    "q_dedup_clusters", "q_simhash_pairs", "q_ngram_jaccard",
    "q_containment", "q_bm25", "q_ann_ivf")

  /** Data files under `dir` (hidden and `_`-prefixed marker files
    * excluded) with their sizes.
    */
  def dataFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(p => p.toString -> Files.size(p)).toMap
      finally walk.close()
    }
  }

  /** (file count, byte count) of [[dataFiles]]. */
  def dirBytes(dir: String): (Long, Long) = {
    val f = dataFiles(dir)
    (f.size.toLong, f.values.sum)
  }
}

/** relational / corpus: registry queries, each result written in full
  * to the `noop` sink, in a seeded order per pass.
  */
final class QueryWorkload(val name: String, queries: Seq[String], val passSeconds: Double,
                          corrupt: Option[String]) extends Workload {
  private var dir = ""
  private var seed = 0L
  private var variant = -1
  private lazy val registry = graft.Queries.all.map(q => q.name -> q).toMap

  def generate(spark: SparkSession, data: String, s: Long): Unit = {
    seed = s
    val base = s"$data/base"
    Gen.base(spark, base)
    dir = if (name == "corpus") {
      variant = Math.floorMod(s, Gen.CorpusVariants.toLong).toInt
      val d = s"$data/corpus-v$variant"
      Gen.corpus(spark, base, d, variant)
      d
    } else base
  }

  def inputs: Map[String, Long] = {
    val (f, b) = Workloads.dirBytes(dir)
    Map("input_files" -> f, "input_bytes" -> b)
  }

  /** The DataFrame an op times: the registry function's result, with
    * the deliberate corruption of the output-check test applied.
    */
  def frame(spark: SparkSession, q: String): DataFrame = {
    val df = registry(q).fn(spark, dir)
    if (corrupt.contains(q)) Fingerprint.corrupt(df) else df
  }

  def runPass(spark: SparkSession, p: Int, exec: Op => Unit): Unit = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(queries)
    order.foreach { q =>
      exec(Op(q, "query", q) { ctx =>
        val df = ctx.build(frame(spark, q))
        df.write.format("noop").mode("overwrite").save()
      })
    }
  }

  def fingerprints(spark: SparkSession): Map[String, String] =
    queries.map(q => q -> Fingerprint.of(frame(spark, q))).toMap

  def check(spark: SparkSession, lastPass: Int): Seq[Check] = {
    val expected = Expected.load(name, variant)
    fingerprints(spark).toSeq.sortBy(_._1).map { case (q, got) =>
      val want = expected.getOrElse(q, "none recorded")
      Check(s"$q.fingerprint", got == want, Set(q), s"got $got want $want")
    }
  }
}

/** lifecycle: the four durable indexes, built on the day-1 slice when
  * the inputs are generated. Set-up copies the day-1 indexes to a fresh
  * directory; every pass (warm-up or timed) folds the next day-2 batch
  * into them through the index's public fold call and `write` (one
  * commit per batch), compacts an index once [[Lifecycle.CompactAt]]
  * segments are live, and serves one read from every version it
  * commits: before compaction at `CompactAt` live segments, after it
  * at one. Every pass runs the same ops.
  */
final class Lifecycle(work: String, corrupt: Option[String]) extends Workload {
  import Lifecycle._
  val name = "lifecycle"
  val passSeconds = 4.5
  override def maxPasses: Int = MaxPasses
  private var in = ""
  private var day1 = ""
  /** The next day-2 batch to fold in. */
  private var nextBatch = 1
  /** (pass, index, live segments) of every read served. */
  private val reads = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int)]

  def generate(spark: SparkSession, data: String, seed: Long): Unit = {
    Gen.base(spark, s"$data/base")
    day1 = s"$data/lifecycle-day1"
    in = s"$data/lifecycle-s$seed-b$Batches"
    Gen.lifecycle(spark, s"$data/base", day1, in, seed, Batches)
    Gen.once(s"$day1/indexes") {
      Indexes.foreach { case (idx, _) => fold(spark, idx, s"$day1/indexes/$idx", 0)() }
    }
  }

  /** Day-1 slice and day-2 batches, not the day-1 indexes built on them. */
  def inputs: Map[String, Long] = {
    val (f, b) = Workloads.dirBytes(in)
    val (f1, b1) = Workloads.dirBytes(day1)
    val (fi, bi) = Workloads.dirBytes(s"$day1/indexes")
    Map("input_files" -> (f + f1 - fi), "input_bytes" -> (b + b1 - bi))
  }

  private def slot(spark: SparkSession, what: String, b: Int) =
    spark.read.parquet(if (b == 0) s"$day1/$what" else s"$in/$what/slot=$b")
  private def docs(spark: SparkSession, b: Int) = slot(spark, "docs", b)
  private def fps(spark: SparkSession, b: Int) = slot(spark, "fps", b)
  private def vecs(spark: SparkSession, b: Int) =
    Similarity.withNorm(slot(spark, "vecs", b), col("vec_id"), col("embedding"))
  private def probes(spark: SparkSession) = vecs(spark, 0).filter(col("vec_id") % 50 === 7)
  private def novelDocs(spark: SparkSession) = docs(spark, 0).filter(col("doc_id") % 10 === 3)

  private def root(idx: String): String = s"$work/lifecycle/$idx"

  private def liveSegments(path: String, keys: Seq[String]): Int =
    graft.ops.Staging.currentVersion(path).map { v =>
      val mf = graft.ops.Staging.readManifest(graft.ops.Staging.versionDir(path, v))
      keys.map(k => graft.ops.Staging.segList(mf, k).size).max
    }.getOrElse(0)

  /** The read each committed version serves, written to the noop sink. */
  def read(spark: SparkSession, idx: String, path: String): DataFrame = idx match {
    case "dupgraph" => DupGraph.read(spark, path).clusters
    case "novelty" => NoveltyIndex.read(spark, path).novelty(novelDocs(spark), col("text"), col("doc_id"))
    case "hamming" => HammingIndex.read(spark, path).pairs
    case "ann" => AnnIndex.read(spark, path).search(probes(spark), k = 5, nprobe = 3)
  }

  /** The run starts from a fresh copy of the day-1 indexes. */
  override def setup(spark: SparkSession): Unit =
    Indexes.foreach { case (idx, _) =>
      val path = root(idx)
      graft.ops.Staging.deleteTree(path)
      Gen.copyTree(java.nio.file.Paths.get(s"$day1/indexes/$idx"), java.nio.file.Paths.get(path))
    }

  def runPass(spark: SparkSession, p: Int, exec: Op => Unit): Unit = {
    val b = nextBatch
    require(b <= Batches, s"pass $p needs day-2 batch $b of $Batches")
    nextBatch += 1
    Indexes.foreach { case (idx, segKeys) =>
      val path = root(idx)
      def readOp(): Unit = {
        reads += ((p, idx, liveSegments(path, segKeys)))
        exec(Op(s"$idx.read", "read", idx) { _ =>
          read(spark, idx, path).write.format("noop").mode("overwrite").save()
        })
      }
      var commit: () => Unit = () => ()
      exec(Op(s"$idx.fold", "fold", idx) { _ => commit = fold(spark, idx, path, b) })
      exec(Op(s"$idx.commit", "commit", idx, Some(path)) { _ => commit() })
      readOp()
      if (liveSegments(path, segKeys) >= CompactAt) {
        exec(Op(s"$idx.compact", "compact", idx, Some(path)) { _ => compact(spark, idx, path) })
        readOp()
      }
    }
  }

  /** Fold batch `b` (0 = the day-1 build); returns the commit. */
  private def fold(spark: SparkSession, idx: String, path: String, b: Int): () => Unit =
    idx match {
      case "dupgraph" =>
        val g = if (b == 0) Dedup.dupGraph(docs(spark, 0), col("text"), col("doc_id"))
          else Dedup.refreshDupGraph(DupGraph.read(spark, path), docs(spark, b),
            col("text"), col("doc_id"))
        () => try g.write(path, buckets = Buckets, batchId = Some(b.toLong)) finally g.unpersist()
      case "novelty" =>
        val x = if (b == 0) NoveltyIndex.build(docs(spark, 0), col("text"), col("doc_id"), n = 3,
            buckets = Buckets)
          else NoveltyIndex.read(spark, path).update(docs(spark, b), col("text"), col("doc_id"))
        () => x.write(path, batchId = Some(b.toLong))
      case "hamming" =>
        val x = if (b == 0) HammingIndex.build(fps(spark, 0), maxDist = 3, buckets = Buckets)
          else HammingIndex.read(spark, path).refresh(fps(spark, b))
        () => x.write(path, batchId = Some(b.toLong))
      case "ann" =>
        val x = if (b == 0) AnnIndex.train(vecs(spark, 0), m = 4, subDim = 16, lloydIters = 1)
          else AnnIndex.read(spark, path).refresh(vecs(spark, b))
        () => x.write(path, batchId = Some(b.toLong))
    }

  private def compact(spark: SparkSession, idx: String, path: String): Unit = idx match {
    case "dupgraph" => DupGraph.compact(spark, path, retain = 2)
    case "novelty" => NoveltyIndex.compact(spark, path, retain = 2)
    case "hamming" => HammingIndex.compact(spark, path, retain = 2)
    case "ann" => AnnIndex.compact(spark, path, retain = 2)
  }

  /** Each final artifact against a one-shot build over the union of
    * the day-1 slice and every batch folded in.
    */
  def check(spark: SparkSession, lastPass: Int): Seq[Check] = {
    val folded = 0 until nextBatch
    val unionDocs = folded.map(docs(spark, _)).reduce(_ unionByName _)
    val oneShot: Map[String, () => DataFrame] = Map(
      "dupgraph" -> (() => Dedup.dupGraph(unionDocs, col("text"), col("doc_id")).clusters),
      "novelty" -> (() => NoveltyIndex.build(unionDocs, col("text"), col("doc_id"), n = 3,
        buckets = Buckets).novelty(novelDocs(spark), col("text"), col("doc_id"))),
      "hamming" -> (() => HammingIndex.build(folded.map(fps(spark, _)).reduce(_ unionByName _),
        maxDist = 3, buckets = Buckets).pairs),
      "ann" -> (() => AnnIndex.train(vecs(spark, 0), m = 4, subDim = 16, lloydIters = 1)
        .refresh(folded.tail.map(vecs(spark, _)).reduce(_ unionByName _))
        .search(probes(spark), k = 5, nprobe = 3)))
    Indexes.map { case (idx, _) =>
      val finalRead = read(spark, idx, root(idx))
      val got = Fingerprint.of(
        if (corrupt.contains(s"$idx.read")) Fingerprint.corrupt(finalRead) else finalRead)
      val want = Fingerprint.of(oneShot(idx)())
      Check(s"$idx.final_vs_one_shot", got == want,
        Set(s"$idx.fold", s"$idx.commit", s"$idx.compact", s"$idx.read"), s"got $got want $want")
    }
  }

  override def spaceAmp(p: Int): Option[Double] = {
    val out = Indexes.map { case (idx, _) => Workloads.dirBytes(root(idx))._2 }.sum
    Some(out.toDouble / inputs("input_bytes"))
  }

  /** Mean live segments the reads of `passes` saw, per index. */
  def readSegments(passes: Range): Map[String, Double] =
    reads.filter(r => passes.contains(r._1)).groupBy(_._2).map { case (idx, rs) =>
      idx -> rs.map(_._3).sum.toDouble / rs.size
    }
}

object Lifecycle {
  /** Compact once this many segments are live. A compacted index has
    * one, and every commit adds one.
    */
  val CompactAt = 2
  val MaxPasses = 2
  /** Day-2 batches generated: one per pass of the warm-up, the untraced
    * and the traced region.
    */
  val Batches = Workloads.WarmupPasses + 2 * MaxPasses
  /** One bucket per core of the 4-core reference host. */
  val Buckets = 4
  /** Index -> the manifest keys that list its live segments. */
  val Indexes: Seq[(String, Seq[String])] = Seq(
    "dupgraph" -> Seq("isegs", "psegs", "clsegs"),
    "novelty" -> Seq("ssegs"),
    "hamming" -> Seq("isegs", "psegs"),
    "ann" -> Seq("csegs"))
}

/** dp1-etl: the paper's release pipeline, as `tools/EtlDemo` drives it:
  * Export.run (find_first over two runs) -> Import.run -> FileTree.plan
  * -> FileTree.execute, each pass into a fresh directory.
  */
final class Dp1Etl(work: String, corrupt: Option[String]) extends Workload {
  val name = "dp1-etl"
  val passSeconds = 5.0
  private var in = ""
  private var base = ""
  private var lastReport: Option[Import.ImportReport] = None
  private var lastLinks = 0L
  def links: Long = lastLinks

  def generate(spark: SparkSession, data: String, seed: Long): Unit = {
    base = s"$data/base"
    Gen.base(spark, base)
    in = s"$data/etl-s$seed"
    Gen.etl(spark, base, in, seed)
  }

  def inputs: Map[String, Long] = {
    val (f, b) = Workloads.dirBytes(in)
    Map("input_files" -> f, "input_bytes" -> b)
  }

  def out(p: Int): String = s"$work/etl/p$p"

  private val collections = Seq(
    CollectionExport("root", "CHAINED", Seq("runs/final", "runs/initial")),
    CollectionExport("runs/final", "TAGGED", Nil),
    CollectionExport("runs/initial", "TAGGED", Nil))

  def runPass(spark: SparkSession, p: Int, exec: Op => Unit): Unit = {
    val o = out(p)
    graft.ops.Staging.deleteTree(o)
    val exportDir = s"$o/export"
    exec(Op("export", "export", "etl", Some(exportDir)) { _ =>
      Export.run(exportDir,
        types = Seq(Export.DatasetTypeInput("raw", "Exposure",
          spark.read.parquet(s"$in/refs"), Seq("order_id"), findFirst = true)),
        dimensions = Seq(
          Export.DimensionInput("customer", Tables.load(spark, base, "customer"), Seq("c_custkey")),
          Export.DimensionInput("nation", Tables.load(spark, base, "nation"), Seq("n_nationkey"))),
        datastore = spark.read.parquet(s"$in/datastore"),
        collections = collections, rootCollection = "root",
        expansions = Seq(Export.DimensionExpansion(
          sourceDimension = "nation", sourceKeys = Seq("n_regionkey"),
          target = Export.DimensionInput("region",
            Tables.load(spark, base, "region").withColumnRenamed("r_regionkey", "n_regionkey"),
            Seq("n_regionkey")),
          targetJoinColumns = Seq("n_regionkey"))))
    })
    exec(Op("import", "import", "etl", Some(s"$o/target")) { _ =>
      lastReport = Some(Import.run(spark, exportDir, s"$o/target",
        requestedTypes = Seq("raw"),
        dimensionKeys = Map("customer" -> Seq("c_custkey"),
          "nation" -> Seq("n_nationkey"), "region" -> Seq("n_regionkey")),
        dimensionDeps = Map("customer" -> Seq("nation"),
          "nation" -> Seq("region"), "region" -> Nil)))
    })
    def plan() = FileTree.plan(spark.read.parquet(s"$exportDir/datastore"), "path",
      sourceRoot = s"$o/src", remap = Nil)
    exec(Op("tree_plan", "tree_plan", "etl") { _ =>
      plan().write.format("noop").mode("overwrite").save()
    })
    exec(Op("tree_exec", "tree_exec", "etl") { _ =>
      val links = spark.sparkContext.longAccumulator("links")
      FileTree.execute(plan(), s"$o/tree", Some(links))
      lastLinks = links.sum
    })
  }

  /** The import report against counts taken straight from the inputs,
    * and the exported find_first winners against the seed's run
    * assignment.
    */
  def check(spark: SparkSession, lastPass: Int): Seq[Check] = {
    val refs = spark.read.parquet(s"$in/refs")
    val orders = refs.select("order_id").distinct().count()
    val winners = refs.groupBy("order_id")
      .agg(max(when(col("run") === "runs/final", col("dataset_id"))).as("f"),
        max(col("dataset_id")).as("any"))
      .select(coalesce(col("f"), col("any")).as("dataset_id"))
    val exported0 = spark.read.parquet(s"${out(lastPass)}/export/datasets/raw").select("dataset_id")
    val exported = if (corrupt.contains("export")) Fingerprint.corrupt(exported0) else exported0
    // Export keeps one datastore record per exported dataset, and each
    // dataset's artifact paths are its own, so one link per dataset
    val paths = spark.read.parquet(s"$in/datastore").select("dataset_id").distinct()
      .join(winners, Seq("dataset_id"), "left_semi").count()
    val customers = spark.read.parquet(s"$base/customer.parquet").count()
    val r = lastReport
    Seq(
      Check("export.find_first_winners",
        Fingerprint.of(exported) == Fingerprint.of(winners), Set("export"),
        s"exported ${exported.count()} winners of $orders orders"),
      Check("import.dataset_rows", r.exists(_.datasetRows.get("raw").contains(orders)),
        Set("import"), s"report ${r.map(_.datasetRows)} want raw=$orders"),
      Check("import.associated", r.exists(_.associated == orders), Set("import"),
        s"report ${r.map(_.associated)} want $orders"),
      Check("import.dimensions", r.exists(x =>
        x.dimensionsInserted.get("customer").contains(customers) &&
          x.dimensionsInserted.get("nation").contains(25L) &&
          x.dimensionsInserted.get("region").contains(5L)), Set("import"),
        s"report ${r.map(_.dimensionsInserted)}"),
      Check("tree_exec.links", lastLinks == paths, Set("tree_plan", "tree_exec"),
        s"links $lastLinks want $paths"))
  }

  override def spaceAmp(p: Int): Option[Double] =
    Some(Workloads.dirBytes(s"${out(p)}/export")._2.toDouble / inputs("input_bytes"))
}
