package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFs]] against Hadoop's own `LocalFs`: the same bytes
  * written through Spark's checkpoint manager leave the same files,
  * sidecars, permission bits and rename and symlink semantics. */
class LocalCheckpointFsSpec extends AnyFunSuite {

  private val bindings = Seq(classOf[LocalFs], classOf[LocalCheckpointFs])

  /** The checkpoint manager Spark builds for `dir` with `fs` bound to
    * `file:`, and a `FileContext` built as the manager builds its own. */
  private def manager(dir: JPath, fs: Class[_]) = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", fs.getName)
    val fm = CheckpointFileManager.create(new Path(dir.toUri), conf)
      .asInstanceOf[FileContextBasedCheckpointFileManager]
    val fc = FileContext.getFileContext(dir.toUri, conf)
    assert(fc.getDefaultFileSystem.getClass == fs)
    (fm, fc)
  }

  private val rwxrx___ = Integer.parseInt("750", 8)
  private val sticky777 = Integer.parseInt("1777", 8)

  private def write(fm: CheckpointFileManager, p: JPath, text: String): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), false)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def withDirs[T](body: Map[Class[_], JPath] => T): T = {
    val root = Files.createTempDirectory("graft-ckptfs")
    try body(bindings.map(b => b -> Files.createDirectory(
      root.resolve(b.getSimpleName))).toMap)
    finally StreamingRun.deleteTree(root)
  }

  test("atomic checkpoint writes leave the same files, sidecars, bits and bytes as LocalFs") {
    withDirs { dirs =>
      val listings = bindings.map { b =>
        val dir = dirs(b)
        val (fm, _) = manager(dir, b)
        fm.mkdirs(new Path(dir.resolve("offsets").toUri))
        write(fm, dir.resolve("offsets/0"), "v1\n{\"batchWatermarkMs\":0}\n")
        write(fm, dir.resolve("offsets/1"), "v1\n{\"batchWatermarkMs\":7}\n")
        write(fm, dir.resolve("1.delta"), "delta bytes")
        val walk = Files.walk(dir)
        try walk.iterator().asScala.toList.map { p =>
          val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
          (dir.relativize(p).toString, mode(p), bytes)
        }.sortBy(_._1)
        finally walk.close()
      }
      val names = listings.head.map(_._1)
      assert(names.contains("offsets/.0.crc") && names.contains(".1.delta.crc"), names)
      assert(listings.head == listings.last)
    }
  }

  test("a rename without overwrite onto an existing file fails on both, leaving the target") {
    withDirs { dirs =>
      bindings.foreach { b =>
        val dir = dirs(b)
        val (fm, _) = manager(dir, b)
        write(fm, dir.resolve("0"), "kept")
        write(fm, dir.resolve("tmp"), "moved")
        intercept[FileAlreadyExistsException](fm.renameTempFile(
          new Path(dir.resolve("tmp").toUri), new Path(dir.resolve("0").toUri), false))
        assert(Files.readString(dir.resolve("0")) == "kept", b.getName)
      }
    }
  }

  test("a symlink reports isSymlink with the same target, a plain file does not") {
    withDirs { dirs =>
      val statuses = bindings.map { b =>
        val dir = dirs(b)
        val (fm, fc) = manager(dir, b)
        write(fm, dir.resolve("target"), "x")
        Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
        val plain = fc.getFileLinkStatus(new Path(dir.resolve("target").toString))
        assert(!plain.isSymlink && plain.isFile, b.getName)
        val link = fc.getFileLinkStatus(new Path(dir.resolve("link").toString))
        assert(link.isSymlink, b.getName)
        // Hadoop's readlink sees a scheme-qualified path as no link at all
        val qualified = fc.getFileLinkStatus(new Path(dir.resolve("link").toUri))
        (link.getSymlink.getName, plain.getLen, qualified.isSymlink, qualified.getLen)
      }
      assert(statuses.head == statuses.last)
    }
  }

  test("setPermission sets plain and sticky bits on both") {
    withDirs { dirs =>
      bindings.foreach { b =>
        val dir = dirs(b)
        val (fm, fc) = manager(dir, b)
        val sub = dir.resolve("sub")
        fm.mkdirs(new Path(sub.toUri))
        fc.setPermission(new Path(sub.toUri), new FsPermission(rwxrx___.toShort))
        assert(mode(sub) == rwxrx___, b.getName)
        fc.setPermission(new Path(sub.toUri), new FsPermission(sticky777.toShort))
        assert(mode(sub) == sticky777, b.getName)
      }
    }
  }
}
