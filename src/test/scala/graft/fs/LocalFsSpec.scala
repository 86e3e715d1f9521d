package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkFixture
import graft.streaming.ParquetGraphSink
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set(FsPermission.UMASK_LABEL, umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  /** What a caller can see of a status: equal for equal answers. */
  private def seen(f: => FileStatus): Either[Class[_], Seq[Any]] =
    try {
      val st = f
      Right(Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        st.getModificationTime, if (st.isSymlink) st.getSymlink else None))
    } catch { case e: java.io.IOException => Left(e.getClass) }

  /** The commands of the processes the JVM starts while `body` runs. */
  private def processesDuring(body: => Unit): Seq[String] = withDir { dir =>
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      body
      r.stop()
      val out = dir.resolve("p.jfr")
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally r.close()
  }

  private def forks(cmds: Seq[String]) =
    cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))

  test("a plain Configuration resolves file: to graft.fs for both Hadoop APIs") {
    val conf = new Configuration()
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try assert(fs.getClass == classOf[LocalFileSystem])
    finally fs.close()
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass == classOf[LocalFs])
  }

  test("created files and dirs carry the stock permission bits under a set umask") {
    for (umask <- Seq("022", "027", "077")) withDir { dir =>
      val stock = raw(new RawLocalFileSystem, umask)
      val ours = raw(new NoForkRawLocalFileSystem, umask)
      def bits(fs: RawLocalFileSystem, side: String): Seq[Int] = {
        val base = Files.createDirectory(dir.resolve(side))
        val files = Seq(0x180, 0x1a0, 0x1a4).map { m => // 0600, 0640, 0644
          val p = base.resolve(f"f$m%o")
          fs.create(new Path(p.toString), new FsPermission(m.toShort), false, 4096,
            1.toShort, 1L << 20, null).close()
          mode(p)
        }
        val dirs = Seq(0x1c0, 0x1ed).map { m => // 0700, 0755
          val p = base.resolve(f"d$m%o")
          assert(fs.mkdirs(new Path(p.toString), new FsPermission(m.toShort)))
          mode(p)
        }
        files ++ dirs
      }
      val want = bits(stock, "stock")
      assert(bits(ours, "ours") == want, s"umask $umask")
      // 022 clears no bit of these modes, whether or not it is applied
      if (umask == "022") assert(want == Seq(0x180, 0x1a0, 0x1a4, 0x1c0, 0x1ed))
    }
  }

  test("a sticky-bit mode lands, and a missing path fails, through the stock method") {
    withDir { dir =>
      val ours = raw(new NoForkRawLocalFileSystem, "022")
      val stock = raw(new RawLocalFileSystem, "022")
      val sticky = new FsPermission(0x3ff.toShort) // 01777
      Seq(ours -> "ours", stock -> "stock").foreach { case (fs, name) =>
        val p = Files.createDirectory(dir.resolve(name))
        fs.setPermission(new Path(p.toString), sticky)
      }
      assert(mode(dir.resolve("ours")) == 0x3ff)
      assert(mode(dir.resolve("ours")) == mode(dir.resolve("stock")))
      def failure(fs: RawLocalFileSystem) =
        intercept[java.io.IOException](fs.setPermission(
          new Path(dir.resolve("missing").toString), new FsPermission(0x1a4.toShort))).getClass
      assert(failure(ours) == failure(stock))
    }
  }

  test("getFileLinkStatus answers as the stock class on files, dirs, links and missing paths") {
    withDir { dir =>
      val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("dir"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val missing = dir.resolve("missing")
      val stock = raw(new RawLocalFileSystem, "022")
      val ours = raw(new NoForkRawLocalFileSystem, "022")
      for {
        p <- Seq(file, sub, link, dangling, missing)
        path <- Seq(new Path(p.toString), new Path(p.toUri))
      } assert(seen(ours.getFileLinkStatus(path)) == seen(stock.getFileLinkStatus(path)), path)
      assert(seen(ours.getFileLinkStatus(new Path(link.toString))).exists(_(3) == true))
      assert(seen(ours.getFileLinkStatus(new Path(missing.toString))).isLeft)
    }
  }

  test("a sink merge and a checkpointed trigger start no chmod or readlink process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the recording sees the stock class's processes, so zero below means none ran
    withDir { dir =>
      val stock = raw(new RawLocalFileSystem, "022")
      val seenStock = processesDuring {
        stock.getFileLinkStatus(new Path(Files.createFile(dir.resolve("f")).toString))
        stock.setPermission(new Path(dir.resolve("f").toString), new FsPermission(0x1a4.toShort))
      }
      assert(forks(seenStock).size == 2, seenStock)
    }
    withDir { dir =>
      val rows = Seq(("s1", "p1", "o1", 1L), ("s2", "p1", "o2", 2L))
      val merged = processesDuring {
        new ParquetGraphSink(dir.resolve("merge").toString)
          .merge(rows.toDF("subject", "predicate", "object", "ts_us"), 0L)
      }
      assert(forks(merged).isEmpty, merged)

      val sink = new ParquetGraphSink(dir.resolve("stream").toString)
      val input = MemoryStream[(String, String, String, Long)]
      val triggered = processesDuring {
        val q = input.toDF().toDF("subject", "predicate", "object", "ts_us").writeStream
          .option("checkpointLocation", dir.resolve("checkpoint").toString)
          .foreachBatch(sink.merge _)
          .start()
        try {
          input.addData(rows)
          q.processAllAvailable()
        } finally q.stop()
      }
      assert(sink.appliedBatchIds == Seq(0L))
      assert(forks(triggered).isEmpty, triggered)
    }
  }
}
