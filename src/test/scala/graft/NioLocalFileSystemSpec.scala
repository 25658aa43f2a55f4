package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.StreamPipeline

/** graft's `file://` FileSystem and FileContext bindings: the session uses
  * them, they start no `chmod`/`readlink` child processes, and permissions
  * and link status read the same as stock Hadoop's. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def localFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session binds file:// to graft's FileSystem and FileContext classes") {
    val fs = localFs
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.isInstanceOf[LocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs], fc.getDefaultFileSystem.getClass)
  }

  test("a demux micro-batch and a batch parquet write start no chmod or readlink") {
    TestSpark.withTempDir("graft_nofork") { dir =>
      // The recorder sees Hadoop's forks: FileUtil.readLink always forks.
      val (_, control) = TestSpark.processesStartedBy(FileUtil.readLink(new File(dir)))
      assert(control.exists(_.contains("readlink")), control)

      val rows = Seq(
        """{"event_type": "purchase_sword", "sword_type": "iron"}""",
        """{"event_type": "join_guild", "guild_name": "g"}""",
        """{"event_type": "other"}""").zipWithIndex
        .map { case (j, i) => (j, new Timestamp(1700000000000L + i)) }
      val ms = MemoryStream[(String, Timestamp)](spark)
      ms.addData(rows)
      val stream = ms.toDF().selectExpr("cast(_1 as binary) as value", "_2 as timestamp")
      val parsed = graft.operators.Parse.parseAndFlatten(
        graft.operators.Parse.projectRaw(stream), model.EventModel.gen1Schema)
      val (_, commands) = TestSpark.processesStartedBy {
        val q = StreamPipeline.demuxToParquet(parsed, s"$dir/demux")
        try q.processAllAvailable() finally q.stop()
        Seq(1, 2, 3).toDF("n").write.parquet(s"$dir/batch")
      }
      val forked = commands.filter(c => c.contains("chmod") || c.contains("readlink"))
      assert(forked.size == 0, s"of ${commands.size} process starts: ${forked.take(5)}")
      Seq("sword_purchases", "guild_joins", "default_events").foreach { route =>
        assert(spark.read.parquet(s"$dir/demux/$route").count() == 1, route)
      }
      assert(spark.read.parquet(s"$dir/batch").count() == 3)
      assert(Files.isDirectory(Paths.get(dir, "demux", "_checkpoint", "commits")))
    }
  }

  test("create, mkdirs and setPermission leave the requested POSIX modes") {
    TestSpark.withTempDir("graft_nio_perm") { dir =>
      val fs = localFs
      val file = new Path(s"$dir/f")
      fs.create(file).close()
      // FileSystem's default file mode under the default 022 umask.
      assert(mode(Paths.get(dir, "f")) == Integer.parseInt("644", 8))
      assert(mode(Paths.get(dir, ".f.crc")) == Integer.parseInt("644", 8))
      assert(fs.mkdirs(new Path(s"$dir/d"), new FsPermission("755")))
      assert(mode(Paths.get(dir, "d")) == Integer.parseInt("755", 8))
      fs.setPermission(file, new FsPermission("600"))
      assert(mode(Paths.get(dir, "f")) == Integer.parseInt("600", 8))
      // Every rwx combination round-trips through the java.nio mapping.
      (0 until 512).foreach { m =>
        fs.setPermission(file, new FsPermission(m.toShort))
        assert(mode(Paths.get(dir, "f")) == m, Integer.toOctalString(m))
      }
      // The sticky bit is beyond java.nio and still applies.
      fs.setPermission(new Path(s"$dir/d"), new FsPermission("1777"))
      assert(mode(Paths.get(dir, "d")) == Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus: regular file, java.nio symlink, missing path") {
    TestSpark.withTempDir("graft_nio_link") { dir =>
      val fs = localFs
      val target = Files.write(Paths.get(dir, "target"), Array[Byte](1, 2, 3))
      val link = Files.createSymbolicLink(Paths.get(dir, "link"), target)

      val regular = fs.getFileLinkStatus(new Path(target.toString))
      assert(!regular.isSymlink && regular.isFile && regular.getLen == 3)
      val linked = fs.getFileLinkStatus(new Path(link.toString))
      assert(linked.isSymlink)
      assert(linked.getSymlink.toUri.getPath == target.toString)
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))

      val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
      val viaFc = fc.getFileLinkStatus(new Path(target.toString))
      assert(!viaFc.isSymlink && viaFc.getLen == 3)
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$dir/missing")))
    }
  }
}
