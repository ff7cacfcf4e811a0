package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager with the write path of `file:`
  * paths done in `java.nio`. Without Hadoop's native library the local
  * file system forks `chmod` and `readlink` processes (Hadoop's `Shell`)
  * to create and rename every temp file, so each streaming metadata-log
  * entry costs tens of milliseconds, and to create each log directory.
  * Here the temp file is written directly and published with one atomic
  * rename, as the superclass does, and directories are made with the
  * process umask. Every other scheme, and `list`/`open`/`exists`/`delete`,
  * stays on the superclass. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): Option[java.nio.file.Path] = {
    val q = fc.makeQualified(p)
    if (q.toUri.getScheme == "file") Some(Paths.get(q.toUri)) else None
  }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d); ()
    case None => super.mkdirs(p)
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  // like the superclass on a local path, the no-overwrite check and the
  // rename are two steps; a metadata log has one writer per directory
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (!overwriteIfPossible && Files.exists(d)) {
          Files.deleteIfExists(s)
          throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE); ()
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}

object LocalCheckpointFileManager {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Runs `start` with `confs` set and with this manager as the session's
    * checkpoint file manager, then restores every setting. `StreamExecution`
    * clones the session conf when a query is constructed, and its offset,
    * commit and state-store files, shuffle partitions, state-store provider
    * and no-data batch flag are read from that clone, so a query needs the
    * scope only while it starts; a file source's log alone is made with the
    * conf of the session that defined the source, while the query
    * initializes. A manager class the user set is left alone; the lock
    * keeps two starts from seeing each other's settings as the user's. */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(start: => T): T = synchronized {
    val manager =
      if (spark.conf.getOption(managerKey).isDefined) Nil
      else Seq(managerKey -> classOf[LocalCheckpointFileManager].getName)
    val settings = confs ++ manager
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try start
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
