package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-listener counts, summed over every task and block event the
  * listener sees. A snapshot is a plain map, so two snapshots taken at a
  * layer boundary subtract into that layer's counts. */
final class CountListener extends SparkListener {
  private val c = Seq(
    "jobs", "stages", "tasks", "task_cpu_ns", "shuffle_bytes", "scan_bytes",
    "spill_bytes", "evicted_blocks").map(_ -> new AtomicLong).toMap

  private def add(k: String, v: Long): Unit = { c(k).addAndGet(v); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_bytes", m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  /** A cached RDD block reported without memory storage was dropped from
    * memory (evicted to disk or removed); `unpersist` removes blocks
    * without reporting them, so it does not count here. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && !i.storageLevel.useMemory) add("evicted_blocks", 1)
  }

  def snapshot(): Map[String, Long] =
    c.map { case (k, v) => k -> v.get } + ("gc_ms" -> Probe.gcMillis())
}

/** Keeps the planning-phase durations of every query execution that
  * completes, so a timed write can be split into planning and execution. */
final class PlanListener extends QueryExecutionListener {
  private val phases = ArrayBuffer.empty[Double]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases.synchronized { phases += qe.tracker.phases.values.map(_.durationMs).sum.toDouble }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def clear(): Unit = phases.synchronized(phases.clear())
  /** Planning milliseconds of the last query execution that finished. */
  def last: Double = phases.synchronized(phases.lastOption.getOrElse(Double.NaN))
}

/** The listeners one traced run attaches, and the storage figures every
  * run reads at its end. */
final class Probe(spark: SparkSession) {
  val counts = new CountListener
  val plans = new PlanListener
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(counts)
    spark.listenerManager.register(plans)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(counts)
    spark.listenerManager.unregister(plans)
    attached = false
  }

  /** Wait until every posted listener event has been delivered, so a
    * snapshot taken next covers exactly the work before it. */
  def drain(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Long] = { drain(); counts.snapshot() }

  def storage(): Map[String, Double] = {
    val sc = spark.sparkContext
    Map(
      "storage_mb" -> sc.getRDDStorageInfo.map(_.memSize).sum / 1e6,
      "persisted_rdds" -> sc.getPersistentRDDs.size.toDouble)
  }
}

object Probe {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}
