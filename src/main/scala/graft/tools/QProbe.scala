package graft.tools

/** Per-query optimization probe (round-13 measurement harness, guide §1):
  * runs the named queries on an [[graft.Engine.session]], times [[reps]]
  * repetitions of a full-output `noop` write (every output column is
  * computed, as `Verify` writes them), and (optionally) writes
  * `.explain("formatted")` to a plans dir — the
  * `plans/r13/<query>_{before,after}.txt` deliverable.
  *
  * Per run it also prints the per-query stage breakdown (stage id, name,
  * wall ms, task count) from a stage listener, so "where does the time
  * go" is answered empirically (guide §1.1) instead of from the plan
  * alone. Each TOTAL line and the per-query summary also carry the
  * generated classes the run compiled ([[graft.Engine.codegenCompiles]]):
  * a warm rep should compile none, so one that recompiles shows it here
  * next to its task CPU. Construction (the `fn(spark, dir)` call) is timed
  * apart from the write, with the Spark jobs it started (`construct=` ms
  * and `construct_jobs=`): a warm rep should start none, so an eager job
  * at construction shows up without a traced bench run.
  *
  * Usage: runMain graft.tools.QProbe <sfDir> <plansDirOrNONE> <suffix> q1 q2 ...
  * (suffix e.g. "before"/"after"; NONE skips plan files.) Cores:
  * `SPARK_GRAFT_CPUS`, default the host's.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val plansDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Engine.session(cpus, "graft-qprobe")
    try { graft.similarity.IvfPqIndex.vacuum(spark, Set.empty); () }
    catch { case scala.util.control.NonFatal(_) => () }
    // Same warmup as Bench: every table touched once. NonFatal only, and
    // loudly (round-13 advice): swallowing OOM/linkage errors here could
    // mask a broken sfDir and let the probe time nonsense runs.
    try {
      graft.Tables.lineitem(spark, sfDir).limit(1000)
        .groupBy("l_returnflag").count().count()
      graft.Tables.events(spark, sfDir).limit(1000).count()
      Seq(graft.Tables.orders _, graft.Tables.customer _, graft.Tables.part _,
        graft.Tables.supplier _, graft.Tables.nation _, graft.Tables.region _,
        graft.Tables.documents _, graft.Tables.embeddings _)
        .foreach(t => t(spark, sfDir).limit(100).count())
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[qprobe] WARNING: warmup failed — check sfDir " +
          s"'$sfDir': ${e.getClass.getName}: ${e.getMessage}")
    }

    // Stage listener: (stageId, name-head, wall ms, tasks, task run ms,
    // task cpu ms) — run/cpu from the stage's aggregated TaskMetrics, so
    // a stage whose aggregate task time dwarfs its wall (duplicate
    // lineage execution, lock serialization) is attributable per stage.
    // Job listener: the group of each started job (construction runs in a
    // group of its own).
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int, Long, Long)]
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sc = spark.sparkContext
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobGroups.add)
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
          .getOrElse(-1L)
        val tm = i.taskMetrics
        val (run, cpu) =
          if (tm == null) (0L, 0L)
          else (tm.executorRunTime, tm.executorCpuTime / 1000000L)
        stages.add((i.stageId, i.name.takeWhile(_ != '\n').take(60), wall,
          i.numTasks, run, cpu))
        ()
      }
    })

    val reps = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt).getOrElse(3)
    val qmap = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = qmap(name)
      if (plansDir != "NONE") {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val p = java.nio.file.Paths.get(plansDir, s"${name}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      }
      val runs = (1 to reps).map { rep =>
        stages.clear()
        jobGroups.clear()
        val group = s"graft-qprobe-construct-${java.util.UUID.randomUUID()}"
        val c0 = graft.Engine.codegenCompiles
        val t0 = System.nanoTime()
        sc.setJobGroup(group, "construct")
        val df = try fn(spark, sfDir) finally sc.clearJobGroup()
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        val n = graft.Engine.codegenCompiles - c0
        val constructMs = (t1 - t0) / 1e6
        org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
        import scala.jdk.CollectionConverters._
        val constructJobs = jobGroups.asScala.count(_ == group)
        if (rep == 1 || rep == reps) {
          val tag = if (rep == 1) "cold" else "rep" + rep
          val all = stages.asScala.toSeq
          val top = all.sortBy(s => -(s._3 max s._5)).take(14)
          top.foreach { case (id, n, w, t, run, cpu) =>
            println(f"[qprobe]   $name $tag stage=$id%5d wall=${w}%6d ms tasks=$t%4d run=${run}%7d cpu=${cpu}%7d  $n")
          }
          println(f"[qprobe]   $name $tag TOTAL stages=${all.size} wall=${all.map(_._3).sum}%7d run=${all.map(_._5).sum}%7d cpu=${all.map(_._6).sum}%7d " +
            f"construct=$constructMs%.1f construct_jobs=$constructJobs compiles=$n")
        }
        (s, constructMs, constructJobs, n)
      }
      val times = runs.map(_._1)
      println(f"[qprobe] $name reps=${times.map(t => f"$t%.3f").mkString(",")} " +
        f"min=${times.min}%.3f construct=${runs.map(r => f"${r._2}%.1f").mkString(",")} " +
        f"construct_jobs=${runs.map(_._3).mkString(",")} compiles=${runs.map(_._4).mkString(",")}")
    }
    spark.stop()
  }
}
