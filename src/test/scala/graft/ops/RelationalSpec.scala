package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
  private def right = Seq((2, "x"), (3, "y"), (4, "z")).toDF("id", "w")

  test("semiJoin keeps matching left rows, left schema only") {
    val out = Relational.semiJoin(left, right, Seq("id"))
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.as[(Int, String)].collect().toSet == Set((2, "b"), (3, "c")))
  }

  test("antiJoin keeps non-matching left rows; semi ∪ anti = left") {
    val anti = Relational.antiJoin(left, right, Seq("id"))
    assert(anti.as[(Int, String)].collect().toSet == Set((1, "a")))
    val semi = Relational.semiJoin(left, right, Seq("id"))
    assert(semi.unionAll(anti).count() == left.count())
  }

  test("rangeJoin honors half-open [begin, end)") {
    val fact = Seq((1, 5L), (2, 10L), (3, 15L)).toDF("fid", "ts")
    val ivs = Seq(("A", 0L, 10L), ("B", 10L, 20L)).toDF("name", "b", "e")
    val out = Relational.rangeJoin(fact, ivs, col("ts"), col("b"), col("e"))
      .select("fid", "name").as[(Int, String)].collect().toSet
    // ts=10 is excluded from A (end-exclusive), included in B
    assert(out == Set((1, "A"), (2, "B"), (3, "B")))
  }

  test("bandedRangeJoin equals broadcast rangeJoin (incl. band-straddling intervals)") {
    val fact = (0L until 200L by 3L).map(t => (t, t)).toDF("fid", "ts")
    val ivs = Seq(
      ("A", 0L, 10L), ("B", 5L, 95L),      // straddles many bands
      ("C", 95L, 100L), ("D", 100L, 101L), // boundary-exact end/begin
      ("E", 150L, 150L)).toDF("name", "b", "e") // empty interval
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("fid", "name").as[(Long, String)].collect().toSet
    val plain = norm(Relational.rangeJoin(fact, ivs, col("ts"), col("b"), col("e")))
    val banded = norm(Relational.bandedRangeJoin(fact, ivs,
      col("ts"), col("b"), col("e"), c => floor(c / 16)))
    assert(banded == plain)
    assert(plain.nonEmpty)
  }

  test("dedupBySubset keeps the first row under a total order") {
    val df = Seq((1, 30, "late"), (1, 10, "early"), (2, 5, "only"))
      .toDF("k", "ts", "v")
    val out = Relational.dedupBySubset(df, Seq(col("k")), Seq(col("ts"), col("v")))
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(out == Set((1, "early"), (2, "only")))
  }

  test("validateSubset returns requested-minus-available") {
    val requested = Seq("t1", "t2", "t3").toDF("name")
    val available = Seq("t1", "t3").toDF("name")
    val missing = Relational.validateSubset(requested, available)
      .as[String].collect().toSet
    assert(missing == Set("t2"))
  }

  test("literalKeyJoin constrains by the key batch and plans a broadcast") {
    val keys = Seq((2, "x")).toDF("id", "w").select("id")
    def join() = Relational.literalKeyJoin(left, keys, Seq("id"))
    val out = join()
    assert(out.as[(Int, String)].collect().toSet == Set((2, "b")))
    val plan = atScale(join().queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in plan:\n$plan")
    // small input: the key batch joins in one task, with no broadcast
    val small = out.queryExecution.executedPlan.toString
    assert(small.contains("ShuffledHashJoin") && !small.contains("Exchange"), small)
  }
}
