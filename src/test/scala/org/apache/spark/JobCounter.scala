package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Attribution is by job tag
  * (the block runs under a fresh `SparkContext.addJobTag`), and the
  * listener bus is drained with `waitUntilEmpty` before the count is
  * read, so no time window or sleep is involved. Lives in this package
  * for the Spark-internal listener bus and tag property name.
  */
object JobCounter {
  def count(sc: SparkContext)(body: => Any): Int = {
    val tag = s"jobcount-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
