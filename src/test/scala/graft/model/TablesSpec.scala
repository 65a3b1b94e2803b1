package graft.model

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType,
  TimestampNTZType, TimestampType}

import graft.ext.AnnIndex
import graft.ops.Layout

/** Pins [[Tables.load]] timestamp-unit robustness across every physical
  * encoding the testdata generator has shipped for events.ts. Round 10
  * went red because a regeneration silently switched from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (Spark-inferred TIMESTAMP_NTZ) and all six events-time queries failed
  * analysis at `unix_micros(ts)`. This spec writes the events shape
  * three ways to temp parquet and asserts the catalog normalizes each
  * to session-TZ TimestampType with identical instants, so the NEXT
  * regeneration cannot break analysis without a local red test.
  *
  * Also pins [[Tables.parquet]]: its driver-side footer inference (a
  * memo miss) and its memo (a hit) give Spark's inferred schema for
  * every testdata table and every artifact kind the engine writes, and
  * launch no job; a rewritten file or a flipped inference conf
  * re-infers; an unreadable path throws Spark's own exception class.
  */
class TablesSpec extends SparkSpec {

  // known instants (epoch micros), deliberately spanning epoch + far future
  private val micros = Seq(0L, 1696159330123456L, 4102444799999999L)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def loadedMicros(dir: String): Seq[Long] = {
    val df = Tables.load(spark, dir, "events")
    val tsType = df.schema.fields.find(_.name == "ts").get.dataType
    assert(tsType == TimestampType,
      s"Tables.load must normalize ts to TimestampType, got $tsType")
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
  }

  test("micros-UTC (TimestampType) passes through with instants intact") {
    val dir = tmp("tables-utc")
    import spark.implicits._
    micros.toDF("us").selectExpr("timestamp_micros(us) AS ts",
        "us AS event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(loadedMicros(dir) == micros)
  }

  test("micros-NTZ (TIMESTAMP_NTZ, the r10 regeneration) casts to " +
      "TimestampType with the same instants") {
    val dir = tmp("tables-ntz")
    import spark.implicits._
    val df = micros.toDF("us")
      .selectExpr("timestamp_micros(us) AS ts", "us AS event_id")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // precondition: the raw file really reads back as NTZ (session TZ is
    // UTC, so the naive datetimes carry the same instants)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      "fixture must exercise the NTZ inference path")
    assert(loadedMicros(dir) == micros)
  }

  /** Author one Parquet file at `path` with parquet-mr (which writes
    * encodings Spark cannot, and no Spark schema in the footer); each
    * of `rows` fills one record — none gives a footer-only file, the
    * shape of a `_metadata` summary.
    */
  private def writeMr(path: String, message: String)(
      rows: (SimpleGroup => Unit)*): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    rows.foreach { fill =>
      val g = new SimpleGroup(schema)
      fill(g)
      writer.write(g)
    }
    writer.close()
  }

  /** Author events.parquet under `dir` as TIMESTAMP(NANOS) with
    * parquet-mr (Spark cannot write nanos timestamps), with sub-micro
    * residue to pin the truncation.
    */
  private def writeNanos(dir: String): Unit =
    writeMr(s"$dir/events.parquet", "message events { " +
        "required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 event_id; }")(
      micros.zipWithIndex.map { case (us, i) => (g: SimpleGroup) =>
        g.add("ts", us * 1000L + 789L) // 789ns residue must truncate away
        g.add("event_id", i.toLong)
      }: _*)

  test("TIMESTAMP(NANOS) (the pre-r10 encoding) truncates to micros") {
    val dir = tmp("tables-nanos")
    writeNanos(dir)
    assert(loadedMicros(dir) == micros)
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Run `f` with nanosAsLong set to `v`, restoring the session value. */
  private def withNanosAsLong[A](v: Boolean)(f: => A): A = {
    val prev = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, v.toString)
    try f finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  /** A session sharing the test context but with an empty schema memo,
    * so its first [[Tables.parquet]] of a path takes the miss path.
    */
  private def freshSession(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def assertSameSchema(got: StructType, want: StructType,
                               what: String): Unit = {
    got.fields.zipAll(want.fields, null, null).foreach { case (g, w) =>
      assert(g == w, s"$what: got $g, Spark inferred $w " +
        "(name, type, nullability, metadata)")
    }
    assert(got.json == want.json, what)
  }

  /** Read `path` through [[Tables.parquet]] on session `s` twice — the
    * first read a memo miss when `s` is fresh, the second a hit — and
    * hold both to `spark.read.parquet(path)`: the same schema with no
    * job launched, or, where Spark's read throws, an exception of the
    * same class. Returns Spark's schema (None where it throws).
    */
  private def assertInfersLikeSpark(s: SparkSession, path: String,
                                    what: String): Option[StructType] =
    scala.util.Try(s.read.parquet(path).schema) match {
      case scala.util.Failure(e) =>
        val got = intercept[Throwable](Tables.parquet(s, path))
        assert(got.getClass == e.getClass, s"$what: threw $got, Spark $e")
        None
      case scala.util.Success(inferred) =>
        for (read <- Seq("miss", "hit")) {
          var schema: StructType = null
          val jobs = JobCounter.count(s.sparkContext) {
            schema = Tables.parquet(s, path).schema
          }
          assertSameSchema(schema, inferred, s"$what ($read)")
          assert(jobs == 0, s"$what ($read) launched $jobs job(s)")
        }
        Some(inferred)
    }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"memoized schema == inferred schema for every table in $sf") {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir absent")
      val s = freshSession(nanosKey -> "true")
      Tables.names.foreach { name =>
        assert(assertInfersLikeSpark(s, s"$dir/$name.parquet",
          s"$sf/$name").isDefined)
      }
    }

  test("driver-side inference == Spark's inference, with no job, for " +
      "every segment kind the engine writes") {
    import spark.implicits._
    val dir = tmp("tables-segments")
    val rows = (0L until 200L).map(i => (i, s"v$i", i * 0.5))
      .toDF("id", "name", "score")
    Layout.writeBucketedTable(rows, s"$dir/bucketed", "id", 4)
    Layout.writeBucketedTable(rows.limit(0), s"$dir/empty", "id", 4)
    assert(new java.io.File(s"$dir/empty/_GRAFT_EMPTY").exists,
      "fixture must exercise the empty-segment marker")
    // 400 dim-64 vectors; train seeds on vec_id % 100 == 0 (4 cells)
    val vectors = spark.range(400).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), j -> CAST(sin(id * 0.37 + j) AS FLOAT)) " +
        "AS embedding")
    val norms = graft.ext.Similarity.withNorm(vectors, col("vec_id"),
      col("embedding"))
    AnnIndex.train(norms, 4, 16).write(s"$dir/ann")
    val annSegs = graft.ops.Staging.list(s"$dir/ann/segments").sorted
    assert(annSegs.exists(_.startsWith("c")) && annSegs.exists(_.startsWith("n")),
      s"expected code and catalog segments, got $annSegs")
    val code = s"$dir/ann/segments/${annSegs.find(_.startsWith("c")).get}"
    assert(graft.ops.Staging.list(code).exists(_.startsWith("icell=")),
      "the code segment must be icell-partitioned")
    val s = freshSession()
    val segments = Seq(s"$dir/bucketed", s"$dir/empty") ++
      annSegs.map(seg => s"$dir/ann/segments/$seg")
    segments.foreach { seg =>
      assert(assertInfersLikeSpark(s, seg, seg).isDefined, s"$seg unreadable")
      var rows = -1L
      val jobs = JobCounter.count(s.sparkContext) {
        rows = Tables.rowCount(s, seg)
      }
      assert(rows == s.read.parquet(seg).count() && jobs == 0,
        s"$seg: rowCount $rows with $jobs job(s)")
    }
    assert(Tables.parquet(s, code).columns.contains("icell"),
      "the partition column is discovered on the miss path")
  }

  test("driver-side inference follows nanosAsLong and binaryAsString") {
    val dir = tmp("tables-flags")
    writeNanos(dir)
    val nanos = s"$dir/events.parquet"
    val binary = s"$dir/binary.parquet"
    writeMr(binary, "message t { required binary b; required int32 i; }")(
      g => { g.add("b", "x"); g.add("i", 1) })
    val ts = Seq("true", "false").map { v =>
      assertInfersLikeSpark(freshSession(nanosKey -> v), nanos,
        s"NANOS, nanosAsLong=$v").map(_("ts").dataType)
    }
    assert(ts.head == Some(LongType), ts)
    val bKey = "spark.sql.parquet.binaryAsString"
    val types = Seq("false", "true").map { v =>
      assertInfersLikeSpark(freshSession(bKey -> v), binary,
        s"binaryAsString=$v").map(_("b").dataType)
    }
    assert(types == Seq(Some(BinaryType), Some(StringType)), types)
  }

  test("driver-side inference picks the file Spark picks: summary files " +
      "first, hidden entries never") {
    import spark.implicits._
    val dir = tmp("tables-pick")
    def data(d: String): Unit =
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(d)
    // _common_metadata beats _metadata beats the data files
    data(s"$dir/summaries")
    writeMr(s"$dir/summaries/_metadata",
      "message m { required int64 id; required int32 m; }")()
    writeMr(s"$dir/summaries/_common_metadata",
      "message c { required int64 id; required double c; }")()
    data(s"$dir/metadata")
    writeMr(s"$dir/metadata/_metadata",
      "message m { required int64 id; required int32 m; }")()
    // hidden files and dirs sort before part- files; Spark skips them
    data(s"$dir/hidden")
    val other = "message x { required int32 hidden; }"
    Seq("_a.parquet", ".a.parquet", "a.parquet._COPYING_",
        "_dir/a.parquet", ".dir/a.parquet")
      .foreach(f => writeMr(s"$dir/hidden/$f", other)(g => g.add("hidden", 1)))
    // a `_`-prefixed name with `=` is a partition dir, not hidden
    Seq(1, 2).foreach(k =>
      writeMr(s"$dir/eq/_k=$k/a.parquet", "message e { required int32 e; }")(
        g => g.add("e", k)))
    val s = freshSession()
    def cols(d: String) =
      assertInfersLikeSpark(s, s"$dir/$d", d).map(_.fieldNames.toSeq)
    assert(cols("summaries") == Some(Seq("id", "c")))
    assert(cols("metadata") == Some(Seq("id", "m")))
    assert(cols("hidden") == Some(Seq("id", "v")))
    assert(cols("eq") == Some(Seq("e", "_k")))
    // rowCount reads the same files: summaries and hidden entries never
    Seq("summaries", "metadata", "hidden", "eq").foreach { d =>
      assert(Tables.rowCount(s, s"$dir/$d") == s.read.parquet(s"$dir/$d").count(), d)
    }
  }

  test("a missing path, a _SUCCESS-only dir and a corrupt footer throw " +
      "Spark's exception class") {
    val dir = tmp("tables-errors")
    new java.io.File(s"$dir/success").mkdirs()
    new java.io.File(s"$dir/success/_SUCCESS").createNewFile()
    new java.io.File(s"$dir/corrupt").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/corrupt/part-0"),
      "not a parquet file".getBytes("UTF-8"))
    val s = freshSession()
    Seq("missing", "success", "corrupt").foreach { d =>
      assert(assertInfersLikeSpark(s, s"$dir/$d", d).isEmpty, d)
    }
  }

  test("a table rewritten in another ts encoding is re-inferred, not " +
      "served from the memo") {
    val dir = tmp("tables-rewrite")
    writeNanos(dir)
    assert(loadedMicros(dir) == micros)
    import spark.implicits._
    micros.toDF("us")
      .selectExpr("timestamp_micros(us) AS ts", "us AS event_id")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // a stale memo would still declare ts as the nanos LongType
    assert(loadedMicros(dir) == micros)
  }

  test("the inference confs are part of the memo key: flipping " +
      "nanosAsLong between two reads gives the schema that conf implies") {
    val dir = tmp("tables-conf")
    writeNanos(dir)
    val path = s"$dir/events.parquet"
    // (memoized, inferred) ts type; None where the read throws
    def outcome() = (
      scala.util.Try(Tables.parquet(spark, path).schema("ts").dataType).toOption,
      scala.util.Try(spark.read.parquet(path).schema("ts").dataType).toOption)
    val asLong = withNanosAsLong(true)(outcome())
    assert(asLong == (Some(LongType), Some(LongType)), asLong)
    val asNanos = withNanosAsLong(false)(outcome())
    assert(asNanos._1 == asNanos._2 && asNanos._1 != Some(LongType), asNanos)
    assert(withNanosAsLong(true)(outcome()) == asLong)
  }

  test("a warm Tables.load of an unchanged table launches no Spark job") {
    val dir = tmp("tables-jobs")
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    val cold = JobCounter.count(spark.sparkContext)(
      Tables.load(spark, dir, "region"))
    val warm = JobCounter.count(spark.sparkContext)(
      Tables.load(spark, dir, "region"))
    assert(cold == 0, s"cold load launched $cold job(s)")
    assert(warm == 0, s"warm load launched $warm job(s)")
  }
}
