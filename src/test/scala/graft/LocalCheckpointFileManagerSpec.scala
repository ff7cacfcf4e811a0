package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** A raw local file system under the `graftfwd:` scheme that counts its
  * renames: a path the manager must hand to its superclass. */
class ForwardingRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfwd:///")
  override def rename(src: Path, dst: Path): Boolean = {
    ForwardingFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

class ForwardingFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForwardingRawFs, conf, "graftfwd", false)

object ForwardingFs { val renames = new AtomicInteger(0) }

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private def manager(dir: NioPath, scheme: String = "file"): LocalCheckpointFileManager = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.graftfwd.impl", classOf[ForwardingFs].getName)
    new LocalCheckpointFileManager(new Path(s"$scheme://${dir.toUri.getPath}"), conf)
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(fm: LocalCheckpointFileManager, target: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(target, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("a file: path is written to a temp file and renamed into place") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.toUri.toString, "0")
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      out.write("v1\n{}".getBytes(UTF_8))
      out.flush()
      // not visible under its name until close
      assert(!Files.exists(dir.resolve("0")))
      assert(names(dir).exists(_.endsWith(".tmp")))
      out.close()
      assert(names(dir) == Set("0"))
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "v1\n{}")
      assert(fm.exists(target))
      // overwriteIfPossible replaces the target
      write(fm, target, "v2", overwrite = true)
      assert(names(dir) == Set("0"))
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "v2")
    }
  }

  test("mkdirs makes a nested directory of a file: path and accepts an existing one") {
    withDir { dir =>
      val fm = manager(dir)
      val nested = new Path(dir.toUri.toString, "offsets/nested")
      fm.mkdirs(nested)
      fm.mkdirs(nested)
      assert(Files.isDirectory(dir.resolve("offsets/nested")))
    }
  }

  test("overwriteIfPossible = false on an existing target throws FileAlreadyExistsException") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.toUri.toString, "1")
      write(fm, target, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
      assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "first")
      assert(names(dir) == Set("1"), "the refused temp file must not be left behind")
    }
  }

  test("cancel() leaves neither the temp file nor the target") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(dir.toUri.toString, "2"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("a non-file: path goes through the superclass") {
    withDir { dir =>
      val fm = manager(dir, scheme = "graftfwd")
      val before = ForwardingFs.renames.get()
      write(fm, new Path(s"graftfwd://${dir.toUri.getPath}", "3"), "x", overwrite = false)
      assert(ForwardingFs.renames.get() == before + 1)
      assert(new String(Files.readAllBytes(dir.resolve("3")), UTF_8) == "x")
    }
  }
}
