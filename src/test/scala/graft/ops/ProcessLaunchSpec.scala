package graft.ops

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}

import graft.{ProcessLaunches, SparkSpec}
import graft.ext.{HammingIndex, Multimodal}
import graft.model.Tables

/** Guards the fork-free local filesystem: the engine's table read,
  * pointer commit and durable-index lifecycle launch no OS process
  * (Hadoop's local filesystem without `libhadoop` launches a `chmod`,
  * `ls` or `readlink` per file, permission or link check).
  */
class ProcessLaunchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // Spark's executor heartbeat runs `getconf PAGESIZE` once per JVM,
  // from a timer thread, when it first initializes this class; do it
  // here (after SparkSpec built the session: it reads the SparkEnv) so
  // that one launch cannot land inside a counted block
  Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true,
    getClass.getClassLoader)

  private def assertNone(what: String)(body: => Any): Unit = {
    val launched = ProcessLaunches.during(body)
    assert(launched.isEmpty,
      s"$what launched ${launched.size} process(es):\n${launched.mkString("\n")}")
  }

  test("file:// is the graft filesystem in the shared session (a suite " +
      "that touches file:// before SparkSpec.session is built breaks this)") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass == classOf[NioLocalFileSystem],
      s"cached file:// FileSystem is ${fs.getClass.getName}: something " +
        "accessed file:// before the session was built, so Hadoop cached " +
        "another class and every local write launches processes again")
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.getClass == classOf[NioLocalFs], afs.getClass.getName)
  }

  test("Tables.load, cold and warm, launches no process") {
    val dir = tmp("launch-tables")
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    assertNone("Tables.load") {
      Tables.load(spark, dir, "region").collect()
      Tables.load(spark, dir, "region").collect()
    }
  }

  test("Staging pointer commits (stage, publish, GC) launch no process") {
    val root = tmp("launch-staging")
    assertNone("Staging.commitVersion") {
      (1 to 3).foreach { i =>
        val (d, n) = Staging.nextVersionDir(root)
        Staging.writeManifest(d, Map("i" -> i.toString))
        Staging.commitVersion(root, n)
      }
    }
    assert(Staging.currentVersion(root).contains(3L))
  }

  test("a durable index write, refresh, compact and read launch no process") {
    val dir = tmp("launch-hamming")
    def fps(ids: Range) = ids.map(i => (i.toLong, Multimodal.targetFp(i.toLong)))
      .toDF("doc_id", "fp")
    assertNone("HammingIndex lifecycle") {
      HammingIndex.build(fps(0 until 30), maxDist = 3, buckets = 4)
        .write(dir, batchId = Some(0L))
      HammingIndex.read(spark, dir).refresh(fps(30 until 60))
        .write(dir, batchId = Some(1L))
      HammingIndex.compact(spark, dir)
      HammingIndex.read(spark, dir).pairs.collect()
    }
  }
}
