package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own machinery, run by
  * `python3 perfbench/run.py --selftest`. Exits non-zero on failure.
  *
  *  1. Job-tag attribution: two ops run at the same time on two
  *     threads, each under its own tag, with known job and task counts;
  *     their jobs overlap in time and both must be attributed exactly.
  *  2. Final-Sort check: a noop write of a sorted query keeps its global
  *     Sort in the optimized plan; a `.count()` of the same query does
  *     not (which is why the benchmark never times `.count()`).
  *  3. Fingerprints: insensitive to row order, sensitive to the
  *     deliberate corruption.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = Main.session(4)
    val sc = spark.sparkContext
    try {
      // 1. overlapping tagged jobs
      val l = new OpListener(full = true)
      sc.addSparkListener(l)
      val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
      def work(tag: String, jobs: Int, parts: Int): Thread = new Thread(() => {
        sc.addJobTag(tag)
        val t0 = System.currentTimeMillis()
        (1 to jobs).foreach { _ =>
          sc.parallelize(1 to parts * 10, parts).map { x => Thread.sleep(20); x }.count()
        }
        spans.put(tag, (t0, System.currentTimeMillis()))
        sc.removeJobTag(tag)
      })
      val (a, b) = (OpTags.Prefix + "a", OpTags.Prefix + "b")
      val threads = Seq(work(a, 3, 2), work(b, 2, 5))
      threads.foreach(_.start())
      threads.foreach(_.join())
      PerfbenchBus.drain(sc)
      val (sa, sb) = (l.byTag(a), l.byTag(b))
      val (ia, ib) = (spans.get(a), spans.get(b))
      expect("tagged ops overlapped in time", ia._1 < ib._2 && ib._1 < ia._2, s"$ia $ib")
      expect("tag a: 3 jobs, 6 tasks", sa.jobs == 3 && sa.tasks == 6, s"${sa.jobs} jobs ${sa.tasks} tasks")
      expect("tag b: 2 jobs, 10 tasks", sb.jobs == 2 && sb.tasks == 10, s"${sb.jobs} jobs ${sb.tasks} tasks")

      // 2. the final Sort survives a noop write, not a count
      val q = spark.range(0, 1000, 1, 4).select((col("id") * 7 % 101).as("k"), col("id"))
        .orderBy("k", "id")
      expect("built query ends in a Sort", OpListener.endsInSort(q.queryExecution.analyzed), "")
      sc.addJobTag(OpTags.Prefix + "noop")
      q.write.format("noop").mode("overwrite").save()
      sc.removeJobTag(OpTags.Prefix + "noop")
      q.count()
      PerfbenchBus.drain(sc)
      val plans = l.resolve()
      val noop = plans.filter(_.noopWrite)
      expect("noop write plan attributed to its op tag",
        noop.size == 1 && noop.head.tags(OpTags.Prefix + "noop"), plans.toString)
      expect("noop write keeps the final Sort", noop.forall(_.finalSort), plans.toString)
      expect("count drops the Sort",
        !OpListener.endsInSort(q.groupBy().count().queryExecution.optimizedPlan) &&
          q.groupBy().count().queryExecution.optimizedPlan.collectFirst {
            case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
          }.isEmpty, q.groupBy().count().queryExecution.optimizedPlan.toString)

      // 3. fingerprints
      val fp = Fingerprint.of(q)
      expect("fingerprint ignores row order", fp == Fingerprint.of(q.orderBy(col("id").desc)), fp)
      expect("fingerprint sees the corruption", fp != Fingerprint.of(Fingerprint.corrupt(q)), fp)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
