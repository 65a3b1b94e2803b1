package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * event posted so far has reached every listener. Reading listener
  * state after this is race-free; no sleep is involved.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
