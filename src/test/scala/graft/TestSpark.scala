package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite; we share
  * across suites since sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-test")
  val SfDir = "/root/testdata/sf0.001"

  /** Runs `f` on a fresh temp directory named `prefix…` and deletes the
    * directory afterwards, whether `f` passes or fails. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** `body`'s result and the number of Spark jobs it started on the
    * calling thread. Jobs are tagged with a fresh job group; a fence job
    * in a second group is run afterwards and awaited on the listener bus,
    * which delivers events in order, so every job `body` started has been
    * seen by the time the count is read. */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-count-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(fence), "fence job never reached the listener")
      var n = 0
      seen.forEach(g => if (g == group) n += 1)
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the commands (argv joined by spaces) of the child
    * processes this JVM started while it ran, from a JFR recording of
    * `jdk.ProcessStart` events. Any thread's process starts count. */
  def processesStartedBy[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    val dump = java.nio.file.Files.createTempFile("graft_jfr", ".jfr")
    try {
      recording.start()
      val out = try body finally recording.stop()
      recording.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
      (out, commands)
    } finally {
      recording.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}
