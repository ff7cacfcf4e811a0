package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
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
