package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.EventModel
import graft.operators.Filters
import graft.streaming.StreamPipeline

/** One drained micro-batch: the pool file it carried, whether it was the
  * cold batch, an untimed warm-up batch or a timed one, the client's wall
  * time from landing the file to the batch's commit, and the trigger's
  * own phase durations and observed ETL counts. */
final case class Batch(id: Long, file: String, phase: String, traced: Boolean, wallMs: Double,
    durations: Map[String, Long], observed: Map[String, Long], inputRows: Long,
    counts: Map[String, Long]) {
  def fields: Seq[(String, Any)] = Seq(
    "batch" -> id, "file" -> file, "phase" -> phase, "traced" -> traced, "wall_ms" -> wallMs,
    "durations" -> durations, "observed" -> observed, "input_rows" -> inputRows,
    "counts" -> counts)
}

/** The reference streaming pipeline run as a closed loop by one client:
  * land one Kafka-frame-shaped file, wait until the stream has committed
  * it (one file per micro-batch), land the next. The stream is
  * `StreamPipeline.extractValidEventsObserved` feeding
  * `StreamPipeline.demuxToParquet` with the Gen-2 classifier. */
final class IngestStream(spark: SparkSession, pool: Seq[Path], workDir: Path,
    probe: Probe, trace: Trace) {
  private val src = Files.createDirectories(workDir.resolve("src"))
  private val staging = Files.createDirectories(workDir.resolve("staging"))
  val sinkDir: String = workDir.resolve("sink").toString
  val batches = ArrayBuffer.empty[Batch]
  var constructMs = 0.0
  private var query: StreamingQuery = _

  def start(): Unit = {
    val t0 = System.nanoTime()
    val frame = spark.readStream.schema(EventModel.kafkaValueSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val valid = StreamPipeline.extractValidEventsObserved(frame)
    query = StreamPipeline.demuxToParquet(valid, sinkDir, Trigger.ProcessingTime(0L),
      Filters.classifyEventGen2(col("event_type")))
    constructMs = (System.nanoTime() - t0) / 1e6
  }

  private def progressOf(id: Long): StreamingQueryProgress = {
    val deadline = System.nanoTime() + 10000000000L
    var p: Option[StreamingQueryProgress] = None
    while (p.isEmpty && System.nanoTime() < deadline) {
      p = query.recentProgress.find(_.batchId == id)
      if (p.isEmpty) Thread.sleep(1)
    }
    p.getOrElse(throw new IllegalStateException(s"no progress for batch $id"))
  }

  /** Land the next pool file and block until its batch has committed. */
  def next(phase: String, traced: Boolean, root: Int): Batch = {
    val id = batches.size.toLong
    val file = pool((id % pool.size).toInt)
    val staged = staging.resolve(f"part-$id%05d.parquet")
    Files.copy(file, staged)
    val before = if (traced) probe.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    Files.move(staged, src.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val t1 = System.nanoTime()
    val p = progressOf(id)
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val obs = Option(p.observedMetrics.get("graft_etl")).map { r =>
      Seq("n_parsed", "n_valid", "n_malformed").map(k => k -> r.getAs[Long](k)).toMap
    }.getOrElse(Map.empty)
    val counts = if (traced) Probe.diff(before, probe.snapshot()) else Map.empty[String, Long]
    if (traced) {
      val b = trace.add(root, s"batch-$id", "batch", t0, t1, counts)
      // The trigger's phases run back to back from the trigger start.
      var at = t1 - durations.getOrElse("triggerExecution", 0L) * 1000000L
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = durations.getOrElse(k, 0L) * 1000000L
          trace.add(b, k, k, at, math.min(at + d, t1))
          at += d
        }
    }
    val batch = Batch(id, file.getFileName.toString, phase, traced, (t1 - t0) / 1e6, durations, obs,
      p.numInputRows, counts)
    batches += batch
    batch
  }

  def stop(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}
