package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Work attributed to one op execution (one job tag). */
final class TagStats {
  var jobs, buildJobs, stages, tasks, retries = 0L
  var runMs, gcMs, fetchWaitMs = 0L
  var cpuNs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** (launch, finish) wall-clock ms of every task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Per SQL execution: whether the plan is a noop-sink write, and if so
  * whether its optimized query still ends in a global Sort.
  */
final case class ExecPlan(tags: Set[String], noopWrite: Boolean, finalSort: Boolean)

/** Listener that attributes Spark work to ops by job tag.
  *
  * Every op runs under its own tag ([[OpTags]]); a job carries the
  * tags that were set when it was submitted, its stages belong to it,
  * and a task belongs to its stage. So attribution does not depend on
  * when an event arrives, only on which job it belongs to. State is
  * updated on the listener-bus thread and read after
  * [[org.apache.spark.PerfbenchBus.drain]].
  *
  * With `full = false` only SQL executions are recorded (enough for the
  * final-Sort check); with `full = true` jobs, stages and task metrics
  * are aggregated as well.
  */
final class OpListener(full: Boolean) extends SparkListener {
  val byTag = mutable.Map.empty[String, TagStats]
  private val stageTag = mutable.Map.empty[Int, String]
  /** stage id -> task durations in ms, for stages owned by an op. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execTags = mutable.Map.empty[Long, Set[String]]
  private val done = mutable.LinkedHashMap.empty[Long, ExecDone]

  private def stats(tag: String) = byTag.getOrElseUpdate(tag, new TagStats)

  private def opTag(tags: Iterable[String]): Option[String] =
    tags.find(_.startsWith(OpTags.Prefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSet).getOrElse(Set.empty)
    opTag(tags).foreach { t =>
      val s = stats(t)
      s.jobs += 1
      if (tags(OpTags.Build)) s.buildJobs += 1
      e.stageInfos.foreach(si => stageTag.getOrElseUpdate(si.stageId, t))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(t => stats(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val s = stats(t)
      val info = e.taskInfo
      s.tasks += 1
      if (info.attemptNumber > 0 || !info.successful) s.retries += 1
      s.taskSpans += ((info.launchTime, info.finishTime))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += info.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execTags(s.executionId) = s.jobTags }
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchSql.queryExecution(end).foreach { qe =>
        val write = OpListener.noopQuery(qe.optimizedPlan)
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        synchronized {
          done(end.executionId) = ExecDone(write.isDefined, write.exists(OpListener.endsInSort),
            ms("analysis"), ms("optimization"), ms("planning"))
        }
      }
    case _ =>
  }

  /** Join finished executions with their tags and fold their planning
    * phases into the owning op. Call once, after draining the bus.
    */
  def resolve(): Seq[ExecPlan] = synchronized {
    val plans = done.toSeq.map { case (id, d) =>
      val tags = execTags.getOrElse(id, Set.empty[String])
      if (full) opTag(tags).foreach { t =>
        val s = stats(t)
        s.analysisMs += d.analysisMs
        s.optimizationMs += d.optimizationMs
        s.planningMs += d.planningMs
      }
      ExecPlan(tags, d.noopWrite, d.finalSort)
    }
    done.clear()
    plans
  }
}

final case class ExecDone(noopWrite: Boolean, finalSort: Boolean,
                          analysisMs: Long, optimizationMs: Long, planningMs: Long)

object OpListener {
  /** The query under a write to the `noop` sink, if `plan` is one. */
  def noopQuery(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case w: V2WriteCommand if w.table.toString.toLowerCase.contains("noop") => Some(w.query)
    case _ => None
  }

  /** True when the plan's result order is set by a global Sort, reached
    * from the root through order-preserving operators only.
    */
  def endsInSort(plan: LogicalPlan): Boolean = plan match {
    case s: Sort => s.global
    case p @ (_: Project | _: Filter | _: SubqueryAlias | _: GlobalLimit |
              _: LocalLimit | _: Offset) => endsInSort(p.children.head)
    case _ => false
  }
}

object OpTags {
  val Prefix = "perfbench-op-"
  /** Extra tag on jobs launched while a registry function builds its
    * DataFrame (eager schema inference, checkpoints).
    */
  val Build = "perfbench-build"
}
