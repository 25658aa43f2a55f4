package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkFiles
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `SessionMemo.frame` materializes once per (session, key) and serves
  * hits without a job; `SessionMemo.workDir` lives under the driver's
  * Spark-managed temp dir, so memoized builds leave nothing in the JVM's
  * temp dir. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cachedRddIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("a frame miss runs a job and leaves the frame cached with materialized blocks") {
    val key = s"spec-miss-${java.util.UUID.randomUUID()}"
    val before = cachedRddIds
    val (df, jobs) = TestSpark.jobsStartedBy(
      SessionMemo.frame(spark, key)(spark.range(1000).selectExpr("id % 7 AS k")))
    assert(jobs >= 1, s"a miss must materialize the frame; it started $jobs jobs")
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val fresh = spark.sparkContext.getRDDStorageInfo.filter(i => !before.contains(i.id))
    assert(fresh.exists(_.numCachedPartitions > 0),
      s"no newly cached RDD holds blocks: ${fresh.mkString(", ")}")
    df.unpersist(blocking = true)
  }

  test("a frame hit runs no job and never evaluates the build") {
    val key = s"spec-hit-${java.util.UUID.randomUUID()}"
    val builds = new AtomicInteger()
    def build = { builds.incrementAndGet(); spark.range(100).toDF("id") }
    val first = SessionMemo.frame(spark, key)(build)
    val (again, jobs) = TestSpark.jobsStartedBy(SessionMemo.frame(spark, key)(build))
    assert(jobs == 0, s"a hit started $jobs jobs")
    assert(builds.get == 1)
    assert(again eq first)
    first.unpersist(blocking = true)
  }

  test("workDir returns distinct directories under SparkFiles.getRootDirectory()") {
    val root = Paths.get(SparkFiles.getRootDirectory()).toRealPath()
    val a = SessionMemo.workDir(spark, "graft_spec")
    val b = SessionMemo.workDir(spark, "graft_spec")
    assert(a != b)
    Seq(a, b).foreach { d =>
      assert(Files.isDirectory(d))
      assert(d.toRealPath().getParent == root, s"$d is not directly under $root")
      assert(d.getFileName.toString.startsWith("graft_spec"))
    }
  }

  test("q99 compactionPublish leaves no graft_compact dir in the JVM temp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def compactDirs: Set[String] = {
      val s = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft_compact")).toSet
      } finally s.close()
    }
    val before = compactDirs
    // A fresh session misses the memo, so the build (and its work dir) runs.
    val rows = graft.analytics.PipelineQueries
      .compactionPublish(spark.newSession(), TestSpark.SfDir).collect()
    assert(rows.nonEmpty)
    assert(compactDirs == before, s"new dirs: ${compactDirs -- before}")
  }

  test("the event stream and the tws query stage nothing in the JVM temp dir") {
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val hex = Integer.toHexString(TestSpark.SfDir.hashCode)
    def staged: Seq[java.nio.file.Path] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n == s"graft_stream_src_$hex" || n.startsWith(s"graft_tws_src_${hex}_")
      }.toList
      finally ls.close()
    }
    staged.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    // A fresh session misses the tws memo, so both stagings run.
    val s = spark.newSession()
    assert(Tables.eventsStream(s, TestSpark.SfDir).isStreaming)
    assert(graft.analytics.Queries.streamSessions(s, TestSpark.SfDir).count() > 0)
    assert(staged.isEmpty, s"staged in the JVM temp dir: ${staged.mkString(", ")}")
  }
}
