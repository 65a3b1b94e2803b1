package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per test JVM — sbt forks
  * a single JVM for the Test configuration, so suites reuse it), built
  * through [[Sessions.tuned]] so the suite runs on the conf posture the
  * engine ships.
  */
trait SparkSpec extends AnyFunSuite {
  // eager: the session must exist before a spec's first `file://`
  // access, since Hadoop caches the first class that scheme resolves to
  val spark: SparkSession = SparkSpec.session

  /** `body` with AQE partition coalescing off: the documented off-switch
    * of [[graft.ops.SmallPlan]], which leaves Spark's initial plan as it
    * is. On test-sized inputs every exchange is small enough for that
    * rule to run a query in one task, so an audit of the plan a large
    * input gets reads it here.
    */
  def atScale[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.tuned(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
