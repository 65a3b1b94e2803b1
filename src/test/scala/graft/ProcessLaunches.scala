package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The OS processes a block launches, from any thread of the JVM: an
  * in-process JFR recording of `jdk.ProcessStart` runs around the
  * block and is read back from its dump. The event is committed when
  * the process starts, and `stop()` flushes every committed event into
  * the recording, so no time window or sleep is involved. Each entry is
  * the command and the top of the launching stack, so a failed
  * assertion names the caller.
  */
object ProcessLaunches {
  def during(body: => Any): Seq[String] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      try body finally r.stop()
      val f = Files.createTempFile("launches", ".jfr")
      try {
        r.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq.map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}")
            .filterNot(_.startsWith("java."))
          s"${e.getString("command")} <- ${frames.take(6).mkString(" <- ")}"
        }
      } finally Files.deleteIfExists(f)
    } finally r.close()
  }
}
