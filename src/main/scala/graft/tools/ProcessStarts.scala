package graft.tools

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes this JVM starts, from an in-process JFR
  * recording that enables `jdk.ProcessStart` alone. A fork from a large
  * JVM costs milliseconds, and Hadoop's local file system forks `chmod`
  * and `readlink` wherever `libhadoop` is missing, so this is how the
  * engine's write paths are checked to fork nothing. The recording is
  * JVM-wide: it counts every thread's starts, not only the caller's. */
object ProcessStarts {

  /** `body`'s result and the command line of every process started while
    * it ran, in start order. */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val file = Files.createTempFile("graft_process_starts", ".jfr")
      try {
        rec.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.toSeq
          .sortBy(_.getStartTime).map(_.getString("command")))
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
}
