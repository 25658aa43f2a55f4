package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed query: construction (the `fn(spark, dir)` call, where eager
  * memo builds and driver-side collects run), then a write that forces
  * the full result. A traced op also splits the write into planning (the
  * write's query-planning phases) and execution. */
final case class Op(name: String, phase: String, pass: Int, traced: Boolean,
    constructMs: Double, writeMs: Double, planMs: Double, counts: Map[String, Long],
    error: String) {
  def totalMs: Double = constructMs + writeMs
  def fields: Seq[(String, Any)] = Seq(
    "name" -> name, "phase" -> phase, "pass" -> pass, "traced" -> traced,
    "construct_ms" -> constructMs, "write_ms" -> writeMs, "plan_ms" -> planMs,
    "total_ms" -> totalMs, "counts" -> counts, "error" -> error)
}

/** The `analytics` and `curation` workloads: registered queries run in the
  * seeded order by one client thread. The cold pass, in the fresh session,
  * writes every full result as parquet, and those files are what the
  * correctness check reads; timed warm passes write to the `noop` sink,
  * which forces every row and column without storing them, and one
  * untimed warm pass before them writes parquet again for the check. */
final class QueryWorkload(spark: SparkSession, dataDir: String, order: Seq[String],
    probe: Probe, trace: Trace) {
  private val fns: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  val ops = ArrayBuffer.empty[Op]

  private def ms(a: Long, b: Long): Double = (b - a) / 1e6

  private def write(df: DataFrame, name: String, results: Option[String]): Unit =
    results match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    }

  def runOne(name: String, phase: String, pass: Int, traced: Boolean, root: Int,
      results: Option[String]): Op = {
    val before = if (traced) probe.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var planMs = Double.NaN
    var mid = before
    var counts = Map.empty[String, Long]
    val error = try {
      val df = fns(name)(spark, dataDir)
      t1 = System.nanoTime()
      if (traced) { mid = probe.snapshot(); probe.plans.clear() }
      t2 = System.nanoTime()
      write(df, name, results)
      t3 = System.nanoTime()
      null
    } catch {
      case e: Throwable =>
        val t = System.nanoTime()
        if (t1 == t0) t1 = t
        if (t2 < t1) t2 = t1
        t3 = t
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (traced) {
      val after = probe.snapshot()
      planMs = probe.plans.last
      // The listener flush between construction and the write is the
      // query span's only self time: it is the tracing's own cost.
      counts = Probe.diff(before, after)
      val q = trace.add(root, name, "query", t0, t3, counts)
      trace.add(q, "construct", "construct", t0, t1, Probe.diff(before, mid))
      val planEnd = if (planMs.isNaN) t2 else math.min(t2 + (planMs * 1e6).toLong, t3)
      trace.add(q, "plan", "plan", t2, planEnd)
      trace.add(q, "exec", "exec", planEnd, t3, Probe.diff(mid, after))
    }
    val op = Op(name, phase, pass, traced, ms(t0, t1), ms(t2, t3), planMs, counts, error)
    ops += op
    op
  }

  /** One pass over every query; returns the pass's wall seconds. */
  def pass(phase: String, n: Int, traced: Boolean, results: Option[String] = None): Double = {
    val t0 = System.nanoTime()
    val root = if (traced) trace.add(0, s"$phase-$n", "pass", t0, t0) else 0
    order.foreach(runOne(_, phase, n, traced, root, results))
    val t1 = System.nanoTime()
    if (traced) trace.end(root, t1)
    (t1 - t0) / 1e9
  }
}
