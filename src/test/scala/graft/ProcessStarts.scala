package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** A JFR probe for the process forks of Hadoop's local file system. */
object ProcessStarts {

  /** Process starts recorded while `body` runs whose stack passes through
    * a checkpoint file manager. */
  def checkpointForks(body: => Any): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally { rec.stop(); () }
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.contains("CheckpointFileManager"))
      }
    } finally { rec.close(); Files.delete(file) }
  }
}
