package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Engine, Tables}

/** The benchmark's JVM side: sets up a session, runs one workload as a
  * closed loop for the measuring time and writes what it timed to
  * `out/result.json` (and, when traced, its spans to `out/trace.jsonl`).
  * Correctness is checked afterwards, outside the JVM, against the results
  * and stream outputs this run leaves under `out`.
  *
  * Arguments are `key=value`: workload, data, out, seconds, trace (0|1),
  * cores, warmup (untimed ingest batches between the cold batch and the
  * timed ones), queries (comma-separated run order), pool (ingest files),
  * micro (fixed-seed data for the traced run's microbenchmarks),
  * micro_pool. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = Paths.get(a("out"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Set-up: session start, input table resolution and one tiny job
    // through the task scheduler, which loads and warms the classes every
    // workload needs before its first timed operation.
    val t0 = System.nanoTime()
    val spark = Engine.session(cores, "graft-perfbench")
    warm(spark, workload, data, a.get("pool"))
    val setupS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark)
    val trace = new Trace(s"$workload-${a.getOrElse("seed", "0")}-${if (traced) "traced" else "plain"}")
    if (traced) probe.attach()
    val totals0 = if (traced) probe.snapshot() else Map.empty[String, Long]

    val fields = ArrayBuffer[(String, Any)](
      "workload" -> workload, "boot_s" -> bootS, "setup_s" -> setupS)
    workload match {
      case "ingest" =>
        val pool = listParquet(Paths.get(a("pool")))
        val st = new IngestStream(spark, pool, out.resolve("stream"), probe, trace)
        st.start()
        fields ++= runIngest(st, seconds, a("warmup").toInt, traced, probe)
        fields += "construct_ms" -> st.constructMs
        fields += "sink" -> st.sinkDir
        fields += "stream_batches" -> st.batches.map(b => b.fields.toMap)
      case _ =>
        val order = a("queries").split(",").toSeq
        val oracle = graft.SparkEntry.oracleSql
        Files.writeString(out.resolve("oracle_sql.json"),
          Json.obj(order.filter(oracle.contains).map(q => q -> oracle(q))))
        val wl = new QueryWorkload(spark, data, order, probe, trace)
        fields ++= runQueries(wl, out, seconds, traced, probe)
    }
    fields += "storage" -> probe.storage()
    if (traced) {
      fields += "counts" -> Probe.diff(totals0, probe.snapshot())
      probe.detach()
      val micro = new Micro(spark, a("micro"), a("micro_pool"), out, probe, trace)
      micro.run(cores)
      fields += "micro" -> micro.results.toMap
      fields += "micro_sink" -> micro.stream.sinkDir
      fields += "micro_stream" -> micro.stream.batches.map(b => b.fields.toMap)
      Files.writeString(out.resolve("trace.jsonl"), Json.spans(trace.spans))
    }
    Files.writeString(out.resolve("result.json"), Json.obj(fields.toSeq))
    spark.stop()
  }

  def listParquet(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  private def warm(spark: SparkSession, workload: String, data: String, pool: Option[String]): Unit = {
    if (workload == "ingest")
      spark.read.schema(graft.model.EventModel.kafkaValueSchema).parquet(pool.get).schema
    else
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach(Tables.load(spark, data, _).schema)
    spark.range(0L, 1000L, 1L, spark.sparkContext.defaultParallelism)
      .write.format("noop").mode("overwrite").save()
  }

  /** Cold batch, then `warmup` untimed batches while the JIT compiler
    * settles, then timed batches until the measuring time is used up. A
    * traced run traces every other timed batch, so traced and plain
    * batches can be compared for the tracing's overhead. */
  private def runIngest(st: IngestStream, seconds: Double, warmup: Int, traced: Boolean,
      probe: Probe): Seq[(String, Any)] = {
    val root = 0
    st.next("cold", traced, root)
    if (traced) probe.detach()
    (1 to warmup).foreach(_ => st.next("warmup", traced = false, root))
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      i += 1
      val on = traced && i % 2 == 1
      if (traced) { if (on) probe.attach() else probe.detach() }
      st.next("timed", on, root)
    }
    val window = (System.nanoTime() - t0) / 1e9
    if (traced) probe.attach()
    st.stop()
    Seq("window_s" -> window)
  }

  /** Cold pass, then one untimed warm pass, both writing their results for
    * the check, then whole timed warm passes until the measuring time is
    * used up (a traced run traces every other pass). The checked warm pass
    * takes the same memo hits as the timed ones, which write to the `noop`
    * sink, and it takes the first warm pass's JIT compilation out of the
    * measurement. */
  private def runQueries(wl: QueryWorkload, out: Path, seconds: Double, traced: Boolean,
      probe: Probe): Seq[(String, Any)] = {
    val results = out.resolve("results").toString
    val coldS = wl.pass("cold", 0, traced, Some(results))
    val warmResults = out.resolve("warm_results").toString
    wl.pass("verify", 0, traced = false, Some(warmResults))
    val passS = ArrayBuffer.empty[(Boolean, Double)]
    val t0 = System.nanoTime()
    var n = 0
    while (n < 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      val on = traced && n % 2 == 1
      if (traced) { if (on) probe.attach() else probe.detach() }
      passS += on -> wl.pass("warm", n, on)
    }
    val window = (System.nanoTime() - t0) / 1e9
    if (traced) probe.attach()
    Seq("cold_s" -> coldS, "window_s" -> window,
      "results" -> results, "warm_results" -> warmResults,
      "pass_s" -> passS.map { case (t, s) => Map("traced" -> t, "s" -> s) },
      "ops" -> wl.ops.map(_.fields.toMap))
  }
}
