package perfbench

/** Turns a timed region into the reported metrics. */
object Metrics {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest sample) once that lies above the median, that is from
    * 21 samples on; below that, the largest sample.
    */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size < 21) s.last else s(s.size - 11)
  }

  def endToEnd(setupS: Double, r: Region): Seq[(String, Double, String)] = {
    val lat = r.runs.toSeq.map(_.seconds)
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", r.wallS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tail(lat), "s"))
  }

  /** Per-layer metrics of a traced region. Sums are per pass. */
  def perLayer(w: Workload, plain: Region, t: Region, cores: Int): Seq[(String, Double, String)] = {
    val runs = t.runs.toSeq
    val passes = runs.map(_.pass).distinct.size.max(1).toDouble
    val stats = runs.map(r => t.listener.byTag.getOrElse(r.tag, new TagStats))
    def sumL(f: TagStats => Long): Double = stats.map(f).sum / passes
    val runS = stats.map(_.runMs).sum / 1e3
    // op time while none of the op's tasks was running
    val gapS = runs.zip(stats).map { case (r, s) =>
      val opStart = r.startMs
      val opEnd = r.startMs + (r.t1 - r.t0) / 1000000L
      val spans = s.taskSpans.map { case (a, b) => (math.max(a, opStart), math.min(b, opEnd)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, end = 0L
      var start = Long.MinValue
      spans.foreach { case (a, b) =>
        if (a > end) { covered += end - math.max(start, opStart).min(end); start = a; end = b }
        else end = math.max(end, b)
      }
      if (start != Long.MinValue) covered += end - start
      math.max(0L, (opEnd - opStart) - covered) / 1e3
    }.sum / passes
    // run-time-weighted max/median task time over stages with 2+ tasks
    val skews = t.listener.stageTasks.values.toSeq.collect {
      case ds if ds.size >= 2 =>
        val m = median(ds.map(_.toDouble).toSeq)
        (ds.sum.toDouble, if (m > 0) ds.max / m else 1.0)
    }
    val skew = if (skews.isEmpty) 1.0 else skews.map { case (wt, k) => wt * k }.sum /
      skews.map(_._1).sum.max(1e-9)

    def kindMedian(group: String, kind: String): Double =
      median(runs.filter(r => r.op.group == group && r.op.kind == kind).map(_.seconds))
    val commits = (g: String) => runs.zip(stats).filter { case (r, _) => r.op.group == g && r.op.kind == "commit" }
    val ext = Lifecycle.Indexes.flatMap { case (idx, _) =>
      val c = commits(idx)
      val n = c.size.max(1).toDouble
      Seq(
        (s"ext.$idx.fold_s", kindMedian(idx, "fold"), "s"),
        (s"ext.$idx.commit_s", kindMedian(idx, "commit"), "s"),
        (s"ext.$idx.compact_s", kindMedian(idx, "compact"), "s"),
        (s"ext.$idx.read_s", kindMedian(idx, "read"), "s"),
        (s"ext.$idx.jobs_per_commit", c.map(_._2.jobs).sum / n, "count"),
        (s"ext.$idx.files_per_commit", c.map(_._1.newFiles).sum / n, "count"),
        (s"ext.$idx.live_segments", t.segments.getOrElse(idx, 0.0), "count"))
    }
    val etl = w match {
      case e: Dp1Etl =>
        val (files, bytes) = Workloads.dirBytes(s"${e.out(t.firstPass + passes.toInt - 1)}/export")
        Seq(("etl.export_bytes", bytes.toDouble, "bytes"), ("etl.export_files", files.toDouble, "count"),
          ("etl.links", e.links.toDouble, "count"))
      case _ => Seq(("etl.export_bytes", 0.0, "bytes"), ("etl.export_files", 0.0, "count"),
        ("etl.links", 0.0, "count"))
    }
    val life = runs.filter(r => r.op.kind == "commit" || r.op.kind == "compact").map(_.seconds)
    val rss = scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)

    Seq(
      ("queries.build_s", runs.map(_.buildNs).sum / 1e9 / passes, "s"),
      ("queries.build_jobs", sumL(_.buildJobs), "count"),
      ("catalyst.analysis_s",
        (sumL(_.analysisMs) + runs.map(_.builtAnalysisMs).sum / passes) / 1e3, "s"),
      ("catalyst.optimization_s", sumL(_.optimizationMs) / 1e3, "s"),
      ("catalyst.planning_s", sumL(_.planningMs) / 1e3, "s"),
      ("codegen.compiles", runs.map(_.compiles).sum / passes, "count"),
      ("codegen.compile_s", runs.map(_.compileNs).sum / 1e9 / passes, "s"),
      ("scheduler.jobs", sumL(_.jobs), "count"),
      ("scheduler.stages", sumL(_.stages), "count"),
      ("scheduler.tasks", sumL(_.tasks), "count"),
      ("scheduler.task_retries", sumL(_.retries), "count"),
      ("scheduler.driver_gap_s", gapS, "s"),
      ("executor.run_s", runS / passes, "s"),
      ("executor.cpu_s", sumL(_.cpuNs) / 1e9, "s"),
      ("executor.gc_s", sumL(_.gcMs) / 1e3, "s"),
      ("executor.busy_ratio", runS / (t.wallS * cores), "ratio"),
      ("executor.stage_skew", skew, "ratio"),
      ("shuffle.write_bytes", sumL(_.shuffleWrite), "bytes"),
      ("shuffle.read_bytes", sumL(_.shuffleRead), "bytes"),
      ("shuffle.fetch_wait_s", sumL(_.fetchWaitMs) / 1e3, "s"),
      ("shuffle.spill_bytes", sumL(_.spill), "bytes"),
      ("io.input_bytes", sumL(_.inputBytes), "bytes"),
      ("io.input_rows", sumL(_.inputRows), "count"),
      ("io.output_bytes", sumL(_.outputBytes), "bytes"),
      ("io.output_files", runs.map(_.newFiles).sum / passes, "count")) ++
      ext ++
      Seq(
        ("etl.export_s", kindMedian("etl", "export"), "s"),
        ("etl.import_s", kindMedian("etl", "import"), "s"),
        ("etl.tree_plan_s", kindMedian("etl", "tree_plan"), "s"),
        ("etl.tree_exec_s", kindMedian("etl", "tree_exec"), "s")) ++
      etl ++
      Seq(
        ("lifecycle.commit_p50_s", median(life), "s"),
        ("lifecycle.commit_tail_s", tail(life), "s"),
        ("lifecycle.read_p50_s", median(runs.filter(_.op.kind == "read").map(_.seconds)), "s"),
        ("space_amp", t.spaceAmp.getOrElse(0.0), "ratio"),
        ("jvm.heap_peak_mb", t.heapPeakMb, "MB"),
        ("jvm.rss_peak_mb", rss, "MB"),
        ("jvm.gc_s", t.gcS, "s"),
        ("trace.overhead", t.wallS / plain.wallS - 1, "ratio"))
  }
}
