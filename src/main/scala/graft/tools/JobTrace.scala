package graft.tools

import org.apache.spark.JobCounter
import org.apache.spark.scheduler.SparkListenerJobStart

import graft.{Queries, SparkEntry}

/** Per-JOB attribution for queries: job id, wall seconds, the kind of
  * each job (broadcast, shuffle map stage, range sample or result) and
  * the operation that closes it, then one summary line per query with
  * its job counts by kind.
  *
  * Each query's result goes in full to the `noop` sink (a `.count()`
  * would drop its final Sort, and with it the sort's jobs). Its jobs
  * are the ones carrying its job tag ([[JobCounter.jobs]]), read after
  * the listener bus drains, so a late job-end event is never credited
  * to the next query. AQE submits stage jobs from its own thread pool,
  * so their call sites all read `... at CompletableFuture.java`; the
  * kind comes instead from the job's properties (a broadcast runs under
  * a `broadcast exchange` description) and its final stage: a shuffle
  * map stage carries a shuffle id, and a result stage whose last RDD
  * was made in an `Exchange` scope is `RangePartitioner` sampling.
  *
  * Usage: runMain graft.tools.JobTrace SF_DIR [q_name ...]
  * (no names: every registered query, once each; the first run of a
  * name is cold, so pass a name twice for warm; `SPARK_GRAFT_CPUS` sets
  * the core count, default 32)
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val d = args.head
    val names = if (args.length > 1) args.tail.toSeq else Queries.all.map(_.name)
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
          f"${(e.time - s.time) / 1e3}%7.3f")} s  ${kind(s)}%-12s " +
          s"${scope(s)}  stages=${s.stageInfos.size} " +
          s"tasks=${s.stageInfos.map(_.numTasks).sum}")
      }
      val byKind = jobs.groupBy(j => kind(j.start)).view.mapValues(_.size)
      println(s"[summary] $n jobs=${jobs.size} " +
        Kinds.map(k => s"${k.replace(' ', '_')}=${byKind.getOrElse(k, 0)}")
          .mkString(" "))
    }
    spark.stop()
  }

  private val Kinds = Seq("broadcast", "map stage", "range sample", "result")

  /** The operation scope of the last RDD of the job's final stage. */
  private def scope(s: SparkListenerJobStart): String =
    s.stageInfos.maxByOption(_.stageId).flatMap(_.rddInfos.maxByOption(_.id))
      .flatMap(_.scope).fold("-")(_.name)

  private def kind(s: SparkListenerJobStart): String = {
    val description = Option(s.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (description.startsWith("broadcast exchange") ||
        scope(s) == "BroadcastExchange") "broadcast"
    else if (JobCounter.mapStage(s)) "map stage"
    else if (scope(s) == "Exchange") "range sample"
    else "result"
  }
}
