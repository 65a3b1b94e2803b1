package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** The Spark jobs a block launches. Attribution is by job tag (the
  * block runs under a fresh `SparkContext.addJobTag`), and the listener
  * bus is drained with `waitUntilEmpty` before the jobs are read, so no
  * time window or sleep is involved: a job another thread launches
  * meanwhile is never counted, and a job-end event still queued when
  * the block returns is never lost. Lives in this package for the
  * Spark-internal listener bus and tag property name.
  */
object JobCounter {

  /** One job the block launched, with its end event if it ended. */
  final case class Job(start: SparkListenerJobStart,
                       end: Option[SparkListenerJobEnd])

  def count(sc: SparkContext)(body: => Any): Int = jobs(sc)(body)._2.size

  /** Whether the job's final stage is a shuffle map stage, i.e. the job
    * only materializes a shuffle (AQE submits one per query stage).
    */
  def mapStage(s: SparkListenerJobStart): Boolean =
    s.stageInfos.maxByOption(_.stageId).exists(_.shuffleDepId.isDefined)

  /** The block's result and its jobs, in job-id order. */
  def jobs[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val tag = s"jobcount-${java.util.UUID.randomUUID}"
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]
    val ends = new ConcurrentHashMap[Int, SparkListenerJobEnd]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          starts.put(e.jobId, e)
      // the bus delivers a job's start before its end
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (starts.containsKey(e.jobId)) ends.put(e.jobId, e)
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val result = try body
    finally {
      sc.removeJobTag(tag)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    (result, starts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      Job(s, Option(ends.get(id))) })
  }
}
