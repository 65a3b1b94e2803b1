package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed op execution. */
final case class OpRun(seq: Int, tag: String, op: Op, pass: Int, startMs: Long,
                       t0: Long, t1: Long, ok: Boolean, buildNs: Long,
                       builtSorted: Boolean, builtAnalysisMs: Long, compiles: Long,
                       compileNs: Long, newFiles: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Benchmark entry point (the JVM half of perfbench/run.py).
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --expected DIR
  *                  [--commit SHA] [--record-file FILE] [--corrupt OP]
  *   perfbench.Main --workload W --record 1 ...   (print fingerprints)
  *
  * One run: generate inputs (untimed), set up once (session + the
  * untimed warm-up passes; `setup_s` counts from JVM start, minus
  * generation), then a closed-loop timed region of whole passes, then
  * the output checks.
  * With `--trace 1` a second timed region runs with the tracing
  * listener attached and the per-layer metrics are reported instead.
  * The last stdout line is the result object.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val corrupt = a.get("corrupt").filter(_.nonEmpty)
    a.get("expected").foreach(Expected.dir = _)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val w = Workloads(workload, a("work"), corrupt)

    val spark = session(cores)
    if (a.get("record").contains("1")) { record(spark, w, a("data")); spark.stop(); return }

    val g0 = System.nanoTime()
    w.generate(spark, a("data"), seed)
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up: JVM start, session, warm-up passes of the same ops
    w.setup(spark)
    val warmupS = (1 to Workloads.WarmupPasses).map { i =>
      val t = System.nanoTime()
      w.runPass(spark, -i, op => op.body(PlainCtx))
      (System.nanoTime() - t) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    val passes = math.min(w.maxPasses, math.max(1, math.ceil(seconds / w.passSeconds).toInt))
    val plain = new Region(spark, w, traced = false, firstPass = 0, passes).run()
    val tracedRegion =
      if (traced) Some(new Region(spark, w, traced = true, firstPass = passes, passes).run())
      else None
    val last = tracedRegion.getOrElse(plain)
    val lastPass = last.firstPass + passes - 1
    val c0 = System.nanoTime()
    val checks = w.check(spark, lastPass)
    val checkS = (System.nanoTime() - c0) / 1e9

    val regions = plain +: tracedRegion.toSeq
    val runs = regions.flatMap(_.runs)
    val failedChecks = checks.filterNot(_.ok)
    val badOps = failedChecks.flatMap(_.ops).toSet
    val sortMisses = regions.flatMap(_.sortMisses).toSet
    val failedRuns = runs.filter(r => !r.ok || badOps(r.op.name) || sortMisses(r.seq))
    failedChecks.foreach(c => System.err.println(s"[perfbench] check failed: ${c.name}: ${c.detail}"))
    sortMisses.foreach(s => System.err.println(s"[perfbench] final Sort dropped from timed plan of op #$s"))

    val metrics: Seq[(String, Double, String)] =
      if (traced) Metrics.perLayer(w, plain, tracedRegion.get, cores)
      else Metrics.endToEnd(setupS, plain)

    val host = Map(
      "nproc" -> cores, "master" -> s"local[$cores]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "commit" -> a.getOrElse("commit", "unknown"), "seed" -> seed,
      "warmup_passes" -> Workloads.WarmupPasses, "passes" -> passes,
      "setup_s" -> setupS, "warmup_pass_s" -> warmupS, "generate_s" -> genS, "check_s" -> checkS)
    val result = Map(
      "correct" -> failedRuns.isEmpty, "attempted" -> runs.size, "failed" -> failedRuns.size,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    val recordOut = Map(
      "workload" -> workload, "trace" -> traced, "host" -> host, "inputs" -> w.inputs,
      "result" -> result,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> runs.map(r => Map("seq" -> r.seq, "name" -> r.op.name, "kind" -> r.op.kind,
        "pass" -> r.pass, "s" -> r.seconds, "ok" -> r.ok)),
      "spans" -> tracedRegion.map(_.spans).getOrElse(Nil))
    a.get("record-file").foreach { f =>
      Files.createDirectories(Paths.get(f).getParent)
      Files.writeString(Paths.get(f), Json.render(recordOut) + "\n")
    }
    spark.stop()
    println(Json.render(Map("correct" -> result("correct"), "attempted" -> result("attempted"),
      "failed" -> result("failed"), "metrics" -> result("metrics"))))
  }

  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.localBuilder(cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private object PlainCtx extends OpCtx {
    def build[A](f: => A): A = f
  }

  /** Print the fingerprints the expected files hold (all corpus
    * variants, or the relational query set).
    */
  private def record(spark: SparkSession, w: Workload, data: String): Unit = w match {
    case q: QueryWorkload if q.name == "corpus" =>
      val all = (0 until Gen.CorpusVariants).map { v =>
        q.generate(spark, data, v.toLong)
        v.toString -> q.fingerprints(spark)
      }
      println(Json.render(all.toMap))
    case q: QueryWorkload =>
      q.generate(spark, data, 0L)
      println(Json.render(q.fingerprints(spark)))
    case other => throw new IllegalArgumentException(s"${other.name} has no recorded outputs")
  }
}

/** A timed region: `passes` whole passes, one op at a time (closed
  * loop, one client). Untraced, each op still runs under its own job
  * tag so the final-Sort check can find its plan; traced, the full
  * listener also attributes jobs, stages and task metrics.
  */
final class Region(spark: SparkSession, w: Workload, val traced: Boolean,
                   val firstPass: Int, passes: Int) {
  val runs = mutable.ArrayBuffer.empty[OpRun]
  val listener = new OpListener(full = traced)
  var wallS = 0.0
  var gcS = 0.0
  var heapPeakMb = 0.0
  var sortMisses: Seq[Int] = Nil
  /** Mean live segments an index's reads saw in this region. */
  var segments: Map[String, Double] = Map.empty
  var spaceAmp: Option[Double] = None
  private var nextSeq = Region.seqBase(traced)

  def run(): Region = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val t0 = System.nanoTime()
    (firstPass until firstPass + passes).foreach(p => w.runPass(spark, p, exec(p)))
    wallS = (System.nanoTime() - t0) / 1e9
    gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    PerfbenchBus.drain(sc)
    val plans = listener.resolve()
    sc.removeSparkListener(listener)
    // every op whose built DataFrame ends in a global Sort must still
    // end in one in the optimized plan of its timed noop write
    val noopByTag = plans.filter(_.noopWrite)
      .flatMap(p => p.tags.filter(_.startsWith(OpTags.Prefix)).map(_ -> p.finalSort)).toMap
    sortMisses = runs.filter(r => r.builtSorted && !noopByTag.getOrElse(r.tag, false)).map(_.seq).toSeq
    val lastPass = firstPass + passes - 1
    segments = w match {
      case l: Lifecycle => l.readSegments(firstPass to lastPass)
      case _ => Map.empty
    }
    spaceAmp = w.spaceAmp(lastPass)
    this
  }

  private def exec(p: Int)(op: Op): Unit = {
    nextSeq += 1
    val seq = nextSeq
    val tag = OpTags.Prefix + seq
    val sc = spark.sparkContext
    var buildNs = 0L
    var sorted = false
    var analysisMs = 0L
    val ctx = new OpCtx {
      def build[A](f: => A): A = {
        val b0 = System.nanoTime()
        if (traced) sc.addJobTag(OpTags.Build)
        val r = try f finally if (traced) sc.removeJobTag(OpTags.Build)
        buildNs += System.nanoTime() - b0
        r match {
          case df: DataFrame =>
            // a built DataFrame is analyzed eagerly; executions re-use it
            sorted = OpListener.endsInSort(df.queryExecution.analyzed)
            analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
          case _ =>
        }
        r
      }
    }
    def files(): Set[String] =
      if (traced) op.dir.map(d => Workloads.dataFiles(d).keySet).getOrElse(Set.empty) else Set.empty
    val files0 = files()
    val (c0, cn0) = Region.compileCounters()
    sc.addJobTag(tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { op.body(ctx); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op ${op.name} failed: $e")
        false
    }
    val t1 = System.nanoTime()
    sc.removeJobTag(tag)
    val (c1, cn1) = Region.compileCounters()
    val written = (files() -- files0).size.toLong
    runs += OpRun(seq, tag, op, p, startMs, t0, t1, ok, buildNs, sorted, analysisMs,
      c1 - c0, cn1 - cn0, written)
  }

  /** Op spans (parent: their pass) with the work attributed to each. */
  def spans: Seq[Map[String, Any]] = runs.toSeq.map { r =>
    val s = listener.byTag.getOrElse(r.tag, new TagStats)
    Map("id" -> r.tag, "parent" -> s"pass-${r.pass}", "name" -> r.op.name,
      "kind" -> r.op.kind, "start_ms" -> r.startMs,
      "end_ms" -> (r.startMs + (r.t1 - r.t0) / 1000000L),
      "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "run_ms" -> s.runMs, "build_ms" -> r.buildNs / 1000000L)
  }
}

object Region {
  /** Traced op tags never collide with the untraced region's. */
  def seqBase(traced: Boolean): Int = if (traced) 1000000 else 0

  /** (classes compiled, compile nanoseconds) so far in this JVM. */
  def compileCounters(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
