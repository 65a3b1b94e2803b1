package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral contract of the changelog merge (graft.ops.Cdc). The oracle
  * query q_merge_upsert proves the update/delete paths against DuckDB on
  * real data; the insert path (key only in the changelog) can't occur
  * there — every order's custkey exists — so it is pinned here.
  */
class CdcSpec extends SparkSpec {

  import spark.implicits._

  private def base = Seq(
    (1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0))
    .toDF("id", "name", "bal")

  private def changes = Seq(
    // (id, seq, op, new_bal)
    (1L, 1L, "U", 11.0),  // superseded by seq 3
    (1L, 3L, "U", 13.0),  // latest for id 1: update
    (2L, 2L, "D", 99.0),  // latest for id 2: delete
    (2L, 1L, "U", 21.0),  // superseded delete-precursor
    (9L, 1L, "U", 90.0))  // id not in base: insert
    .toDF("id", "seq", "op", "new_bal")

  private def applied = Cdc.applyChangelog(
    base, changes, "id", "seq", "op", Map("bal" -> "new_bal"))

  test("latest-wins update, delete, insert, and passthrough") {
    val out = applied.orderBy("id")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getDouble(2)))
    assert(out.toSeq == Seq(
      (1L, "one", 13.0),   // updated to the seq-3 value
      (3L, "three", 30.0), // untouched passthrough
      (9L, null, 90.0)))   // inserted; unpatched base columns null
    // id 2 deleted
  }

  test("result schema is exactly the base schema") {
    assert(applied.columns.toSeq == base.columns.toSeq)
  }

  test("extra change-side payload columns do not leak into the result") {
    val noisy = changes.withColumn("audit_user", lit("etl"))
      .withColumn("ingest_ts", lit(12345L))
    val out = Cdc.applyChangelog(
      base, noisy, "id", "seq", "op", Map("bal" -> "new_bal"))
    assert(out.columns.toSeq == base.columns.toSeq)
    // and the merge result itself is unchanged by the noise
    assert(out.orderBy("id").collect().toSeq ==
      applied.orderBy("id").collect().toSeq)
  }

  test("plan: latest-change election is a WindowGroupLimit, not a full sort") {
    val p = applied.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  // ------------------------------------------------------------- SCD2

  private def feed = Seq(
    // (id, ts, seq, tier): id 1 moves a->b->b->a (middle b collapses)
    (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "b"),
    (1L, 40L, 4L, "a"),
    // id 2 never changes: one open version survives
    (2L, 10L, 5L, "x"), (2L, 50L, 6L, "x"))
    .toDF("id", "ts", "seq", "tier")

  test("scdType2 collapses no-op changes and chains validity") {
    val out = Cdc.scdType2(feed, Seq("id"), "ts",
      order = Seq("ts", "seq"), tracked = Seq("tier"))
      .orderBy("id", "valid_from")
      .select("id", "tier", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "a", 10L, 20L, false),
      (1L, "b", 20L, 40L, false), // ts-30 duplicate "b" collapsed away
      (1L, "a", 40L, -1L, true),  // reopening a closed attribute is a NEW version
      (2L, "x", 10L, -1L, true))) // no transition -> single open version
  }

  test("scdType2 without tracked columns versions every change") {
    val n = Cdc.scdType2(feed, Seq("id"), "ts", order = Seq("ts", "seq"))
      .count()
    assert(n == feed.count())
  }

  test("scdType2 plan: collapse + versioning share one exchange and sort") {
    def plan() = Cdc.scdType2(feed, Seq("id"), "ts",
      order = Seq("ts", "seq"), tracked = Seq("tier"))
      .queryExecution.executedPlan.toString
    val p = atScale(plan())
    assert(p.sliding("hashpartitioning".length).count(_ == "hashpartitioning") >= 1)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    // small input: the same shape in one task, without the key exchange
    val small = plan()
    assert(!small.contains("hashpartitioning") && !small.contains("SortMergeJoin") &&
      !small.contains("HashJoin"), small)
  }

  // ---------------------------------------------------------- snapshot diff

  test("snapshotDiff classifies I/D/U and drops unchanged keys") {
    val older = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, null.asInstanceOf[String], 40.0)).toDF("id", "name", "bal")
    val newer = Seq((1L, "a", 10.0), (3L, "c", 31.0),
      (4L, "d", 40.0), (5L, "e", 50.0)).toDF("id", "name", "bal")
    val out = Cdc.snapshotDiff(older, newer, Seq("id")).orderBy("id")
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // id 1 unchanged (dropped); 2 deleted; 3 bal changed; 4 null->d is a
    // change (null-safe compare); 5 inserted
    assert(out.toSeq == Seq((2L, "D"), (3L, "U"), (4L, "U"), (5L, "I")))
  }

  test("snapshotDiff output carries old_/new_ payload pairs") {
    val older = Seq((1L, 1.0)).toDF("id", "bal")
    val newer = Seq((1L, 2.0)).toDF("id", "bal")
    val out = Cdc.snapshotDiff(older, newer, Seq("id"))
    assert(out.columns.toSeq ==
      Seq("id", "change_type", "old_bal", "new_bal"))
    val r = out.collect().head
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 2.0)
  }

  test("snapshotDiff rejects mismatched snapshot schemas") {
    val e = intercept[IllegalArgumentException] {
      Cdc.snapshotDiff(Seq((1L, 1.0)).toDF("id", "bal"),
        Seq((1L, 1.0)).toDF("id", "other"), Seq("id"))
    }
    assert(e.getMessage.contains("share a schema"))
  }

  test("snapshotDiff is the inverse of applyChangelog") {
    val older = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    val newer = Seq((2L, 21.0), (3L, 30.0), (4L, 40.0)).toDF("id", "bal")
    val diff = Cdc.snapshotDiff(older, newer, Seq("id"))
      .withColumn("seq", lit(1L))
      .withColumn("op", when(col("change_type") === "D", "D").otherwise("U"))
    val rebuilt = Cdc.applyChangelog(older, diff, "id", "seq", "op",
      Map("bal" -> "new_bal"))
    assert(rebuilt.orderBy("id").collect().toSeq ==
      newer.orderBy("id").collect().toSeq)
  }
}
