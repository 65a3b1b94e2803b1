package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Parquet read in `src/main/scala` goes through
  * [[graft.model.Tables.parquet]], whose schema memo and driver-side
  * footer inference keep reads free of Spark's footer-reading inference
  * job. A raw `read.parquet(` (or `read.format("parquet").load(`)
  * anywhere else would silently bring that job back; this spec fails on
  * one. The probe and demo mains under `tools/` are exempt, and so is
  * the helper's own fallback to Spark's inference (schema merging on, no
  * data file, an unreadable footer), the one raw read in `Tables.scala`.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val rawRead =
    """\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r

  private val helper = Paths.get("src/main/scala/graft/model/Tables.scala")

  /** (file, line) of every raw read outside `tools/`. */
  private def rawReads(): Seq[(Path, Int)] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.contains("/tools/"))
      .toSeq
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      rawRead.findAllMatchIn(src)
        .map(m => (f, src.substring(0, m.start).count(_ == '\n') + 1))
    }
  }

  test("no raw Parquet read in src/main outside Tables.parquet and tools/") {
    val (inHelper, elsewhere) = rawReads().partition(_._1 == helper)
    assert(elsewhere.isEmpty,
      "route these through graft.model.Tables.parquet: " +
        elsewhere.map { case (f, l) => s"$f:$l" }.mkString(", "))
    // the helper's fallback to Spark's own inference is the one raw read
    assert(inHelper.size == 1,
      s"Tables.scala raw reads (only the inference fallback may be one): " +
        inHelper.map { case (f, l) => s"$f:$l" }.mkString(", "))
  }
}
