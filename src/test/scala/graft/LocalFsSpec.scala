package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.streaming.ExpandJsonStreaming
import graft.transform.ExpandJson
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  FSDataInputStream, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/**
 * `graft.io`'s fork-free local FileSystem, differentially against Hadoop's
 * own `LocalFileSystem` and `LocalFs` on a temp dir: the same mode bits
 * after `setPermission`, the same `.crc` checksums, the same link status.
 * Then the reason it exists: a checkpointed stream that forks neither
 * `chmod` nor `readlink`.
 */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private val Root = new URI("file:///")

  /** Hadoop's `LocalFileSystem` (stock) or graft's, outside the FileSystem cache. */
  private def fileSystem(nio: Boolean): FileSystem = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(Root, new Configuration())
    fs
  }

  /** A `FileContext` over Hadoop's `LocalFs` (stock) or graft's `NioLocalFs`. */
  private def fileContext(nio: Boolean): FileContext = {
    val conf = new Configuration()
    if (nio) conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(Root, conf)
    assert(fc.getDefaultFileSystem.getClass ==
      (if (nio) classOf[NioLocalFs] else classOf[org.apache.hadoop.fs.local.LocalFs]))
    fc
  }

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft-localfs")
    def delete(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) f.listFiles.foreach(delete)
      f.delete()
    }
    try body(dir) finally delete(dir.toFile)
  }

  /** All twelve mode bits: rwx for the three classes, set-ID and sticky. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("setPermission leaves the same mode bits as Hadoop's chmod, on files and directories") {
    withTempDir { dir =>
      for (m <- Seq("644", "755", "700", "600", "777", "1777"); kind <- Seq("file", "dir")) {
        val modes = Seq(false, true).map { nio =>
          val p = dir.resolve(s"$kind-$m-$nio")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          fileSystem(nio).setPermission(new Path(p.toUri), new FsPermission(octal(m).toShort))
          mode(p)
        }
        assert(modes.head == octal(m), s"$kind $m through Hadoop's chmod")
        assert(modes(1) == modes.head, s"$kind $m")
      }
    }
  }

  test("a directory keeps its set-group-ID bit through setPermission, as chmod keeps it") {
    withTempDir { dir =>
      val modes = Seq(false, true).map { nio =>
        val p = Files.createDirectory(dir.resolve(s"shared-$nio"))
        Files.setAttribute(p, "unix:mode", Integer.valueOf(octal("2770")))
        fileSystem(nio).setPermission(new Path(p.toUri), new FsPermission(octal("755").toShort))
        mode(p)
      }
      assert(modes == Seq(octal("2755"), octal("2755")))
    }
  }

  private val Data = Array.tabulate[Byte](700)(i => (i * 31 % 251).toByte)

  private def readAll(in: FSDataInputStream): Array[Byte] = {
    val buf = new Array[Byte](Data.length)
    try in.readFully(buf) finally in.close()
    buf
  }

  /** Flips one byte of the data file behind the checksum's back. */
  private def flipByte(p: JPath): Unit = {
    val f = new RandomAccessFile(p.toFile, "rw")
    try {
      f.seek(100)
      val b = f.read()
      f.seek(100)
      f.write(b ^ 0xff)
    } finally f.close()
  }

  test("create and rename keep .crc checksums through both Hadoop APIs, as Hadoop's own classes do") {
    for (nio <- Seq(false, true)) withTempDir { dir =>
      def path(name: String) = new Path(dir.resolve(name).toUri)

      val fs = fileSystem(nio)
      val out = fs.create(path("fs-tmp"))
      try out.write(Data) finally out.close()
      assert(fs.rename(path("fs-tmp"), path("fs-data")))

      val fc = fileContext(nio)
      val out2 = fc.create(path("fc-tmp"), EnumSet.of(CreateFlag.CREATE))
      try out2.write(Data) finally out2.close()
      fc.rename(path("fc-tmp"), path("fc-data"), Options.Rename.NONE)

      for (name <- Seq("fs-data", "fc-data")) {
        assert(Files.exists(dir.resolve(s".$name.crc")), s"$name nio=$nio")
        assert(!Files.exists(dir.resolve(s".${name.take(2)}-tmp.crc")), s"$name nio=$nio")
        flipByte(dir.resolve(name))
      }
      intercept[ChecksumException](readAll(fs.open(path("fs-data"))))
      // With a buffer size: Hadoop's `FilterFs.open(Path)` skips the
      // `ChecksumFs` reader and reads the raw file, in `LocalFs` as here.
      intercept[ChecksumException](readAll(fc.open(path("fc-data"), 4096)))
      // One replica: the reader has no copy to retry and moves no file aside.
      assert(Files.exists(dir.resolve("fs-data")) && Files.exists(dir.resolve("fc-data")))
    }
  }

  test("getFileLinkStatus matches Hadoop's on files, dirs, symlinks, dangling links and missing paths") {
    withTempDir { dir =>
      Files.write(dir.resolve("file"), "abc".getBytes("UTF-8"))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))

      def outcome(status: => FileStatus): String =
        try {
          val s = status
          s"symlink=${s.isSymlink} dir=${s.isDirectory} len=${s.getLen}" +
            (if (s.isSymlink) s" target=${s.getSymlink}" else "")
        } catch { case e: java.io.IOException => e.getClass.getName }

      val qualified = (name: String) => new Path(dir.resolve(name).toUri)
      for (name <- Seq("file", "dir", "link", "dangling", "missing");
           p <- Seq(qualified(name), new Path(dir.resolve(name).toString))) {
        val viaFs = Seq(false, true).map(nio => outcome(fileSystem(nio).getFileLinkStatus(p)))
        assert(viaFs(1) == viaFs.head, s"FileSystem $p")
        val viaFc = Seq(false, true).map(nio => outcome(fileContext(nio).getFileLinkStatus(p)))
        assert(viaFc(1) == viaFc.head, s"FileContext $p")
      }
      // Hadoop asks `readlink` about `Path.toString`, which for a qualified
      // path is `file:/…` and never resolves: such a path reports the
      // followed status, and a dangling link is missing.
      val nio = fileSystem(nio = true)
      assert(outcome(nio.getFileLinkStatus(qualified("link"))) == "symlink=false dir=false len=3")
      assert(outcome(nio.getFileLinkStatus(qualified("dangling"))) ==
        classOf[FileNotFoundException].getName)
      assert(outcome(nio.getFileLinkStatus(new Path(dir.resolve("link").toString))).startsWith(
        "symlink=true"))
    }
  }

  test("a checkpointed AvailableNow drain into parquet forks no chmod or readlink") {
    withTempDir { dir =>
      val in = Files.createDirectory(dir.resolve("in"))
      for (f <- 0 until 3) {
        val lines = (0 until 20).map { i =>
          val id = f * 20 + i
          s"""{"id":$id,"user":{"name":"u$id","tags":["a","b$i"]},"score":${i * 0.5}}"""
        }
        Files.write(in.resolve(s"batch-$f.json"), lines.mkString("\n").getBytes("UTF-8"))
      }
      val batch = ExpandJson.whole("value")(spark.read.text(in.toString))
      val schema = batch.schema("value").dataType

      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val q = ExpandJsonStreaming
        .expandWhole(spark.readStream.option("maxFilesPerTrigger", 1).text(in.toString), "value", schema)
        .writeStream
        .format("parquet")
        .option("checkpointLocation", dir.resolve("ck").toString)
        .option("path", dir.resolve("out").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      // One process of the test's own shows that the recording sees forks.
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      val jfr = dir.resolve("process-starts.jfr")
      rec.dump(jfr)
      rec.close()

      val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
      assert(commands.contains("true"))
      val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(forks.size == 0, s"first: ${forks.take(3).mkString("; ")}")

      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      val sink = spark.read.parquet(dir.resolve("out").toString)
      assert(sink.collect().map(_.toString).sorted.toSeq == batch.collect().map(_.toString).sorted.toSeq)
    }
  }
}
