package graft.tools

import org.apache.spark.JobCounter
import org.apache.spark.scheduler.SparkListenerJobStart

import graft.SparkEntry

/** Scratch: per-JOB attribution for one query — job id, wall seconds,
  * and the call site Spark recorded, so a 58-job lifecycle row can be
  * read as "which statement launched which jobs" (QueryJobs gives the
  * count; this names the jobs).
  *
  * Each query's result goes in full to the `noop` sink (a `.count()`
  * would drop its final Sort, and with it the sort's jobs). Its jobs
  * are the ones carrying its job tag ([[JobCounter.jobs]]), read after
  * the listener bus drains, so a late job-end event is never credited
  * to the next query.
  *
  * Usage: runMain graft.tools.JobTrace SF_DIR q_name [q_name ...]
  * (first run of each name is cold; pass a name twice for warm;
  * `SPARK_GRAFT_CPUS` sets the core count, default 32)
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val d = args.head
    val names = args.tail
    val spark = graft.Sessions.localBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val t0 = System.nanoTime()
      val (_, jobs) = JobCounter.jobs(spark.sparkContext)(
        SparkEntry.queries(n)(spark, d).write.format("noop")
          .mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"==== $n wall $wall%.2f s (${jobs.size} jobs) ====")
      jobs.foreach { case JobCounter.Job(s, end) =>
        println(f"[job] ${s.jobId}%4d ${end.fold("    -   ")(e =>
          f"${(e.time - s.time) / 1e3}%7.3f")} s  ${site(s)}")
      }
    }
    spark.stop()
  }

  /** Stage and task counts, the call site Spark recorded (the name of
    * the job's first stage), and the deepest graft frames of the root
    * stage's call stack (the engine statement that launched the job).
    */
  private def site(s: SparkListenerJobStart): String = {
    val frames = s.stageInfos.lastOption.map(_.details).getOrElse("")
      .split('\n').filter(_.contains("graft."))
    val graftSite = frames.take(3).map(_.trim
      .replaceAll("^at ", "").replaceAll("\\(.*\\)$", "")).mkString(" <- ")
    val short = s.stageInfos.minByOption(_.stageId).fold("")(_.name)
    s"stages=${s.stageInfos.size} tasks=${s.stageInfos.map(_.numTasks).sum}" +
      s"  $short  $graftSite"
  }
}
