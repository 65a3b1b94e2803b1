package graft.model

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

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
  * Also pins the [[Tables.parquet]] schema memo: the memoized schema is
  * the inferred one for every testdata table, a rewritten file or a
  * flipped inference conf re-infers, and a warm load launches no job.
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

  /** Author events.parquet under `dir` as TIMESTAMP(NANOS) with
    * parquet-mr (Spark cannot write nanos timestamps), with sub-micro
    * residue to pin the truncation.
    */
  private def writeNanos(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 event_id; }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    micros.zipWithIndex.foreach { case (us, i) =>
      val g = new SimpleGroup(schema)
      g.add("ts", us * 1000L + 789L) // 789ns residue must truncate away
      g.add("event_id", i.toLong)
      writer.write(g)
    }
    writer.close()
  }

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

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"memoized schema == inferred schema for every table in $sf") {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir absent")
      withNanosAsLong(true) {
        Tables.names.foreach { name =>
          val path = s"$dir/$name.parquet"
          Tables.parquet(spark, path) // fills the memo
          val memoized = Tables.parquet(spark, path).schema
          val inferred = spark.read.parquet(path).schema
          memoized.fields.zipAll(inferred.fields, null, null).foreach {
            case (m, i) =>
              assert(m == i, s"$sf/$name: memoized $m, inferred $i " +
                s"(name, type, nullability, metadata)")
          }
        }
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
    assert(cold >= 1, "the cold load infers the schema with a Spark job")
    assert(warm == 0, s"warm load launched $warm job(s)")
  }
}
