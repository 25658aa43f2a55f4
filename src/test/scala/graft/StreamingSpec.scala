package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EventGen, EventSources}
import graft.streaming.StreamPipeline

/** Streaming semantics (SURVEY.md §2.8 + §7.4 extensions): the ETL plan
  * running incrementally, watermarked windows, sessionization, streaming
  * dedup, and the fixed single-read demux. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def kafkaShapedStream(
      rows: Seq[(String, Timestamp)]): (MemoryStream[(String, Timestamp)], org.apache.spark.sql.DataFrame) = {
    val ms = MemoryStream[(String, Timestamp)](spark)
    ms.addData(rows)
    (ms, ms.toDF().selectExpr("cast(_1 as binary) as value", "_2 as timestamp"))
  }

  val corpus = EventGen.corpus(
    swordPerHost = Map("Player 1" -> 10, "Player 2" -> 20),
    guildPerHost = Map("Player 1" -> 5),
    defaults = 3)

  test("streaming ETL equals batch ETL on the same corpus") {
    val (_, stream) = kafkaShapedStream(corpus)
    val got = StreamPipeline.runToMemory(
      spark, StreamPipeline.extractValidEvents(stream), "t_etl")
    val want = StreamPipeline
      .extractValidEvents(EventSources.memoryBatch(spark, corpus))
    assert(got.count() == want.count())
    assert(got.groupBy("event_type").count().as[(String, Long)].collect().toMap ==
      want.groupBy("event_type").count().as[(String, Long)].collect().toMap)
  }

  test("watermarked tumbling windows aggregate event-time correctly") {
    // Last event is a sentinel far in the future: append mode only emits
    // windows closed by the watermark, so it flushes the ones under test.
    val rows = Seq(
      ("sword_event", "2024-01-01 00:05:00"),
      ("sword_event", "2024-01-01 00:55:00"),
      ("sword_event", "2024-01-01 01:05:00"),
      ("guild_event", "2024-01-01 00:10:00"),
      ("guild_event", "2024-01-02 00:00:00")).map { case (t, ts) =>
      (EventGen.json(t, "increase", "x", "h"), Timestamp.valueOf(ts))
    }
    val (_, stream) = kafkaShapedStream(rows)
    val res = StreamPipeline
      .runToMemory(
        spark,
        StreamPipeline.windowedCounts(
          StreamPipeline.extractValidEvents(stream), watermark = "0 seconds"),
        "t_win")
      .as[(Timestamp, String, Long)]
      .collect()
      .filter(_._1.before(Timestamp.valueOf("2024-01-02 00:00:00")))
      .map { case (w, t, n) => (w.toString, t) -> n }
      .toMap
    assert(res == Map(
      ("2024-01-01 00:00:00.0", "sword_event") -> 2L,
      ("2024-01-01 01:00:00.0", "sword_event") -> 1L,
      ("2024-01-01 00:00:00.0", "guild_event") -> 1L))
  }

  test("session windows close after the gap") {
    // 12:00 sentinel advances the watermark so the earlier sessions close.
    val rows = Seq("00:00:00", "00:10:00", "00:50:00", "02:00:00", "12:00:00").map { t =>
      (EventGen.json("sword_event", "increase", "x", "h1"),
        Timestamp.valueOf(s"2024-01-01 $t"))
    }
    val (_, stream) = kafkaShapedStream(rows)
    val sessions = StreamPipeline
      .runToMemory(
        spark,
        StreamPipeline.sessionCounts(
          StreamPipeline.extractValidEvents(stream), gap = "30 minutes",
          watermark = "0 seconds"),
        "t_sess")
      .as[(Timestamp, String, Long)]
      .collect()
      .filter(_._1.before(Timestamp.valueOf("2024-01-01 12:00:00")))
      .sortBy(_._1.getTime)
    // 00:00+00:10 merge (gap<30m); 00:50 separate; 02:00 separate
    assert(sessions.map(_._3).toSeq == Seq(2L, 1L, 1L))
  }

  test("dropDuplicatesWithinWatermark removes replayed events") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 10).map { i =>
      // 5 distinct payload ids, each sent twice
      (s"""{"event_type": "sword_event", "event_detail": "id${i % 5}"}""",
        new Timestamp(base.getTime + i * 1000))
    }
    val (_, stream) = kafkaShapedStream(rows)
    val deduped = StreamPipeline.runToMemory(
      spark,
      StreamPipeline.dedupWithinWatermark(
        StreamPipeline.extractValidEvents(stream), Seq("event_detail"),
        watermark = "1 hour"),
      "t_dedup")
    assert(deduped.count() == 5)
  }

  test("flatMapGroupsWithState sessionizer matches session_window semantics") {
    // h1: sessions [00:00,00:10] [00:50] [02:00]; h2's 12:00 event advances
    // the watermark so h1's last open session times out and is emitted.
    val rows = Seq(
      ("h1", "2024-01-01 00:00:00"), ("h1", "2024-01-01 00:10:00"),
      ("h1", "2024-01-01 00:50:00"), ("h1", "2024-01-01 02:00:00"),
      ("h2", "2024-01-01 12:00:00")).map { case (h, t) =>
      (EventGen.json("sword_event", "increase", "x", h), Timestamp.valueOf(t))
    }
    val (_, stream) = kafkaShapedStream(rows)
    val sessions = StreamPipeline.runToMemory(
      spark,
      StreamPipeline.statefulSessionize(
        spark, StreamPipeline.extractValidEvents(stream), watermark = "0 seconds").toDF(),
      "t_fmgs")
      .as[(String, Timestamp, Long)]
      .collect()
      .filter(_._1 == "h1")
      .sortBy(_._2.getTime)
    assert(sessions.map(_._3).toSeq == Seq(2L, 1L, 1L))
    assert(sessions.map(_._2.toString).toSeq == Seq(
      "2024-01-01 00:00:00.0", "2024-01-01 00:50:00.0", "2024-01-01 02:00:00.0"))
  }

  test("streaming transitions chain across micro-batches via last-event state") {
    import java.nio.file.Files
    TestSpark.withTempDir("graft_trans") { root =>
      val dir = Files.createDirectories(java.nio.file.Paths.get(root, "src"))
      // Two files → two micro-batches (maxFilesPerTrigger=1). u1's B→C edge
      // and u2's A→B edge SPAN the batch boundary: only the persisted
      // last-event state can produce them.
      def stage(name: String, mtime: Long, rows: Seq[(Long, Long, String, String)]): Unit = {
        val tmp = java.nio.file.Paths.get(root, s"stage_$name").toString
        spark.createDataFrame(rows).toDF("event_id", "user_id", "event_type", "tss")
          .withColumn("ts", org.apache.spark.sql.functions.col("tss").cast("timestamp"))
          .drop("tss")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
        val dst = dir.resolve(name)
        Files.copy(part, dst)
        dst.toFile.setLastModified(mtime)
        ()
      }
      stage("b1.parquet", 1000000L, Seq(
        (1L, 1L, "view", "2024-01-01 00:00:00"),
        (2L, 1L, "click", "2024-01-01 00:01:00"),
        (3L, 2L, "signup", "2024-01-01 00:02:00")))
      stage("b2.parquet", 2000000L, Seq(
        (4L, 1L, "purchase", "2024-01-01 00:03:00"),
        (5L, 2L, "login", "2024-01-01 00:04:00")))
      val schema = spark.read.parquet(dir.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val pairs = StreamPipeline.runToMemory(
        spark, StreamPipeline.transitionPairs(spark, stream).toDF(), "t_trans")
        .as[(String, String)].collect().sorted
      assert(pairs.toSeq == Seq(
        ("click", "purchase"), // u1 cross-batch
        ("signup", "login"),   // u2 cross-batch
        ("view", "click")))    // u1 within batch 1
    }
  }

  test("incremental rollup: replaying the whole feed rewrites segments, never double-counts") {
    import java.nio.file.Files
    import graft.analytics.PipelineQueries
    TestSpark.withTempDir("graft_rollup_spec") { root =>
      val work = java.nio.file.Paths.get(root)
      val staged = work.resolve("incoming"); Files.createDirectories(staged)
      val ev = Tables.events(spark, TestSpark.SfDir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      (0 until 3).foreach { i =>
        val tmp = work.resolve(s"feed$i").toString
        ev.filter(col("event_id") % 3 === i).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
        val dst = staged.resolve(s"b$i.parquet")
        Files.copy(part, dst); dst.toFile.setLastModified(1000000L * (i + 1)); ()
      }
      val rollup = s"$work/rollup"
      def view() = spark.read.parquet(rollup)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("value_cents")).as("c"))
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      PipelineQueries.rollupIngest(spark, staged.toString, rollup, s"$work/_cp1")
      val first = view()
      assert(spark.read.parquet(rollup).select("batch_id").distinct().count() == 3,
        "the feed must actually arrive as three micro-batch segments")
      // Full replay with a FRESH checkpoint: batch ids 0..2 recur, each
      // segment is dynamic-partition-overwritten with identical content.
      PipelineQueries.rollupIngest(spark, staged.toString, rollup, s"$work/_cp2")
      assert(view() == first, "replay double-counted the rollup")
      // And the compacted view equals the one-shot batch aggregate.
      def batchAgg(d: org.apache.spark.sql.DataFrame) = d
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("c"))
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(first == batchAgg(ev))
      // TRUE incrementality: a fourth file lands, the ORIGINAL checkpoint
      // resumes — only the delta becomes a new segment (no reprocessing),
      // and the view advances by exactly that delta.
      val extra = Tables.events(spark, TestSpark.SfDir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .filter(col("event_id") % 3 === 0) // a replayed-content feed file is fine: segments key on batch_id
        .limit(500)
      val tmp4 = work.resolve("feed3").toString
      extra.coalesce(1).write.parquet(tmp4)
      val part4 = new java.io.File(tmp4).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst4 = staged.resolve("b3.parquet")
      Files.copy(part4, dst4); dst4.toFile.setLastModified(4000000L)
      PipelineQueries.rollupIngest(spark, staged.toString, rollup, s"$work/_cp1")
      assert(spark.read.parquet(rollup).select("batch_id").distinct().count() == 4,
        "resuming the original checkpoint must add exactly one new segment")
      val expected = batchAgg(ev.unionByName(spark.read.parquet(dst4.toString)))
      assert(view() == expected, "the view must advance by exactly the delta")
    }
  }

  test("stream-static enrich joins a broadcast dim per micro-batch") {
    val (_, stream) = kafkaShapedStream(corpus)
    val dim = Seq(("Player 1", "gold"), ("Player 2", "silver")).toDF("dim_host", "tier")
    val enriched = StreamPipeline.runToMemory(
      spark,
      StreamPipeline.enrich(
        StreamPipeline.extractValidEvents(stream), dim, col("Host") === col("dim_host"))
        .select(col("tier")),
      "t_enrich")
    assert(enriched.filter($"tier" === "gold").count() == 15) // 10 sword + 5 guild
    assert(enriched.filter($"tier" === "silver").count() == 20)
  }

  test("stream-stream interval join matches purchases to views within the window") {
    import org.apache.spark.sql.functions.{col => c}
    def evStream(rows: Seq[(String, String)]) = {
      val (_, s) = kafkaShapedStream(rows.map { case (h, t) =>
        (EventGen.json("sword_event", "increase", "x", h), Timestamp.valueOf(t))
      })
      StreamPipeline.extractValidEvents(s)
    }
    val views = evStream(Seq(
      ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 15:00:00")))
      .select(c("Host").as("vh"), c("event_time").as("v_ts"))
      .withColumnRenamed("vh", "Host")
    val purchases = evStream(Seq(
      ("u1", "2024-01-01 09:30:00"), // within 1h of the 10:00 view
      ("u1", "2024-01-01 11:00:00"))) // matches neither (after 10:00, >1h before 15:00)
      .select(c("Host").as("ph"), c("event_time").as("p_ts"))
      .withColumnRenamed("ph", "Host")
    val joined = StreamPipeline.runToMemory(
      spark,
      StreamPipeline.intervalJoin(views, purchases, "Host", "v_ts", "p_ts"),
      "t_ssjoin")
    val got = joined.select($"v_ts", $"p_ts").as[(Timestamp, Timestamp)].collect().toSet
    assert(got == Set((
      Timestamp.valueOf("2024-01-01 10:00:00"),
      Timestamp.valueOf("2024-01-01 09:30:00"))))
  }

  test("stateful sessionizer runs on the RocksDB state store provider") {
    // RocksDB is the state backend that scales past heap at 100 TB; the
    // provider is chosen per-query at start time from session conf.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Seq("00:00:00", "00:10:00", "03:00:00", "12:00:00").map { t =>
        (EventGen.json("sword_event", "increase", "x", "hR"),
          Timestamp.valueOf(s"2024-01-01 $t"))
      }
      val (_, stream) = kafkaShapedStream(rows)
      val sessions = StreamPipeline.runToMemory(
        spark,
        StreamPipeline.statefulSessionize(
          spark, StreamPipeline.extractValidEvents(stream), watermark = "0 seconds").toDF(),
        "t_rocksdb")
        .as[(String, Timestamp, Long)].collect()
        .filter(_._2.before(Timestamp.valueOf("2024-01-01 12:00:00")))
        .sortBy(_._2.getTime)
      assert(sessions.map(_._3).toSeq == Seq(2L, 1L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("console sink (K2) renders micro-batches and terminates") {
    val (_, stream) = kafkaShapedStream(corpus.take(5))
    val etl = StreamPipeline.extractValidEvents(stream).select("event_type")
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    val oldOut = System.out
    // Spark's console sink prints through the JVM stdout (executor threads
    // of local mode share it) — capture both JVM and scala Console streams.
    System.setOut(ps)
    try Console.withOut(ps) {
      val q = graft.operators.Sinks.console(
        etl, org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    } finally System.setOut(oldOut)
    val out = buf.toString("UTF-8")
    assert(out.contains("Batch: 0"), out.take(500))
    assert(out.contains("event_type"), out.take(500))
    assert(out.contains("sword_event"), out.take(500))
  }

  test("observed ETL metrics report parsed/valid/malformed per run") {
    val rows = corpus ++ Seq(("not json at all", new Timestamp(1700000100000L)))
    val (_, stream) = kafkaShapedStream(rows)
    val q = StreamPipeline
      .extractValidEventsObserved(stream)
      .writeStream
      .format("memory")
      .queryName("t_observed")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_etl")))
    assert(metrics.nonEmpty, "no observed metrics in progress")
    val parsed = metrics.map(_.getAs[Long]("n_parsed")).sum
    val valid = metrics.map(_.getAs[Long]("n_valid")).sum
    val malformed = metrics.map(_.getAs[Long]("n_malformed")).sum
    assert(parsed == rows.length.toLong)
    assert(valid == spark.table("t_observed").count())
    assert(malformed >= 1L) // the injected garbage row parses to null event_type
    assert(valid + malformed <= parsed)
  }

  test("session fold merges late events by interval instead of rewinding the horizon") {
    import graft.streaming.StreamPipeline.SessionAcc
    // fold is time-unit agnostic; this test drives it in millis.
    val gap = 30L * 60 * 1000
    val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    // Session [9:40, 10:00]; a LATE event at 9:50 must extend counts, keep
    // last=10:00 (not rewind to 9:50), and an event at 10:20 still joins.
    var acc: Option[SessionAcc] = Some(SessionAcc(h10 - 20 * 60000, h10, 2))
    acc = StreamPipeline.foldSessionEvent(acc, h10 - 10 * 60000, gap, closed)
    assert(acc.get.last == h10 && acc.get.n == 3 && closed.isEmpty)
    acc = StreamPipeline.foldSessionEvent(acc, h10 + 20 * 60000, gap, closed)
    assert(acc.get.last == h10 + 20 * 60000 && acc.get.n == 4 && closed.isEmpty)
    // A late event BEFORE start-gap is a stale stand-alone session: emitted
    // immediately, current session untouched.
    acc = StreamPipeline.foldSessionEvent(acc, h10 - 3 * 60 * 60000, gap, closed)
    assert(closed.map(_._2) == Seq(1L) && acc.get.n == 4)
    // A late event extending BACKWARD within gap of start moves start down.
    acc = StreamPipeline.foldSessionEvent(acc, h10 - 45 * 60000, gap, closed)
    assert(acc.get.start == h10 - 45 * 60000 && acc.get.n == 5)
  }

  test("transformWithState sessionizer matches flatMapGroupsWithState output") {
    // Same corpus through both arbitrary-state APIs (FMGWS and the Spark-4
    // StatefulProcessor) must yield identical closed sessions. RocksDB is
    // mandatory for transformWithState.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def input() = kafkaShapedStream(
        Seq("00:00:00", "00:10:00", "03:00:00", "07:00:00", "07:05:00", "23:00:00").map { t =>
          (EventGen.json("sword_event", "increase", "x", "hT"),
            Timestamp.valueOf(s"2024-01-01 $t"))
        })._2
      def run(name: String, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
        StreamPipeline.runToMemory(spark, f(StreamPipeline.extractValidEvents(input())), name)
          .as[(String, Timestamp, Long)].collect().sortBy(_._2.getTime).toSeq
      val tws = run("t_tws", df =>
        StreamPipeline.sessionizeTws(spark, df, watermark = "0 seconds").toDF())
      val fmgws = run("t_fmgws", df =>
        StreamPipeline.statefulSessionize(spark, df, watermark = "0 seconds").toDF())
      assert(tws == fmgws)
      // 00:00+00:10 | 03:00 | 07:00+07:05 close; 23:00 stays open past the
      // final watermark on both paths.
      assert(tws.map(_._3) == Seq(2L, 1L, 2L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("demux writes three disjoint parquet routes from one source read") {
    TestSpark.withTempDir("graft_demux") { dir =>
      val gen1 = Seq(
        """{"event_type": "purchase_sword", "sword_type": "iron"}""",
        """{"event_type": "purchase_sword", "sword_type": "gold"}""",
        """{"event_type": "join_guild", "guild_name": "g"}""",
        """{"event_type": "other"}""").zipWithIndex
        .map { case (j, i) => (j, new Timestamp(1700000000000L + i)) }
      val (_, stream) = kafkaShapedStream(gen1)
      val parsed = graft.operators.Parse.parseAndFlatten(
        graft.operators.Parse.projectRaw(stream), model.EventModel.gen1Schema)
      val q = StreamPipeline.demuxToParquet(
        parsed, dir, trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 2)
      assert(spark.read.parquet(s"$dir/guild_joins").count() == 1)
      assert(spark.read.parquet(s"$dir/default_events").count() == 1)
    }
  }

  test("demux batch writes are idempotent: a replayed micro-batch adds no duplicates") {
    // foreachBatch's contract: after a failure the SAME batchId is
    // re-delivered and the write must not double the rows. Simulated by
    // invoking the per-batch writer twice with one batchId.
    TestSpark.withTempDir("graft_demux_replay") { dir =>
      val batch = Seq(
        ("purchase_sword", "iron"), ("purchase_sword", "gold"), ("join_guild", "g"), ("other", ""))
        .toDF("event_type", "detail")
      val classify = graft.operators.Filters.classifyEvent(
        org.apache.spark.sql.functions.col("event_type"))
      StreamPipeline.writeRoutedBatch(batch, 0L, dir, classify)
      StreamPipeline.writeRoutedBatch(batch, 0L, dir, classify) // replay
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 2)
      assert(spark.read.parquet(s"$dir/guild_joins").count() == 1)
      assert(spark.read.parquet(s"$dir/default_events").count() == 1)
      // A LATER batch still appends (its own partition), not overwrites.
      StreamPipeline.writeRoutedBatch(batch.filter($"event_type" === "purchase_sword"), 1L, dir, classify)
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 4)
    }
  }

  test("demux: a failed route write is rethrown only after the other routes finish") {
    // sword_purchases is a plain FILE, so that route's write fails; the
    // guild and default writes run alongside it and must have committed
    // by the time writeRoutedBatch throws, with the per-batch cache
    // released and the write's own exception surfacing unwrapped.
    TestSpark.withTempDir("graft_demux_fail") { dir =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "sword_purchases"))
      val batch = Seq(
        ("purchase_sword", "iron"), ("join_guild", "g"), ("join_guild", "h"), ("other", ""))
        .toDF("event_type", "detail")
      val classify = graft.operators.Filters.classifyEvent(col("event_type"))
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](StreamPipeline.writeRoutedBatch(batch, 0L, dir, classify))
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException] &&
        !e.isInstanceOf[java.util.concurrent.CompletionException], e)
      assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
      Seq("guild_joins" -> 2L, "default_events" -> 1L).foreach { case (route, n) =>
        // Dynamic overwrite stages a write and moves batch_id=0 into
        // place only at job commit.
        assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, route, "batch_id=0")), route)
        assert(spark.read.parquet(s"$dir/$route").count() == n, route)
      }
    }
  }

  test("gen-2 classifier demuxes extractValidEvents output to the right routes") {
    // Composing the two documented entry points must not send every valid
    // event to default_events (gen-1 vs gen-2 vocabulary mismatch).
    TestSpark.withTempDir("graft_demux_g2") { dir =>
      val (_, stream) = kafkaShapedStream(corpus)
      val valid = StreamPipeline.extractValidEvents(stream)
      val q = StreamPipeline.demuxToParquet(
        valid, dir,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        classify = graft.operators.Filters.classifyEventGen2(
          org.apache.spark.sql.functions.col("event_type")))
      q.awaitTermination()
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 30) // 10 + 20
      assert(spark.read.parquet(s"$dir/guild_joins").count() == 5)
    }
  }

  test("demux with observed ETL metrics counts each parsed row once per batch") {
    // The three route writes read one cached frame: graft_etl must report
    // a batch's input rows once, not once per route.
    TestSpark.withTempDir("graft_demux_observed") { dir =>
      val rows = corpus ++ Seq(("not json at all", new Timestamp(1700000100000L)))
      val (_, stream) = kafkaShapedStream(rows)
      val q = StreamPipeline.demuxToParquet(
        StreamPipeline.extractValidEventsObserved(stream), dir,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        classify = graft.operators.Filters.classifyEventGen2(col("event_type")))
      q.awaitTermination()
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(batches.nonEmpty, "no micro-batch with input")
      batches.foreach { p =>
        val m = Option(p.observedMetrics.get("graft_etl"))
        assert(m.isDefined, s"batch ${p.batchId} reported no graft_etl metrics")
        assert(m.get.getAs[Long]("n_parsed") == p.numInputRows, s"batch ${p.batchId}")
      }
      assert(batches.map(_.numInputRows).sum == rows.length.toLong)
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 30)
    }
  }

  test("streaming ingest dedup: restart rebuilds the sketch and never re-admits a dupe") {
    // VERDICT r5 #4: the Bloom snapshot composed with the streaming path.
    // Batch 1 exercises all three drop rules (dup-of-snapshot via sketch +
    // corpus verify, in-batch dup via the min-id keeper, fresh doc passes
    // map-only). The restart kills the driver-held sketch; batch 2's
    // dup-of-batch-1-survivor proves the rebuilt state still sees rows
    // appended by PREVIOUS batches — the corpus, not driver memory, is the
    // durable truth.
    import graft.dedup.IncrementalDedup
    TestSpark.withTempDir("graft_ingest_restart") { dir =>
      val corpusDir = s"$dir/corpus"
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
        .select($"doc_id", $"text", md5($"text").as("fp"), lit(-1L).as("batch_id"))
        .write.partitionBy("batch_id").parquet(corpusDir)

      val ms = MemoryStream[(Long, String)](spark)
      val stream = ms.toDF().toDF("doc_id", "text")
      def start() = IncrementalDedup.streamingIngest(
        stream, corpusDir, "doc_id", md5(col("text")),
        checkpoint = s"$dir/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))

      // gamma = fresh; alpha = snapshot dup; delta×2 = in-batch dup (keeper 12).
      ms.addData(Seq((10L, "gamma"), (11L, "alpha"), (12L, "delta"), (13L, "delta")))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      assert(spark.read.parquet(corpusDir).where($"batch_id" >= 0)
        .select("doc_id").as[Long].collect().toSet == Set(10L, 12L))

      // Restart from the same checkpoint. gamma = dup of a batch-1 survivor,
      // beta = snapshot dup, epsilon = fresh.
      ms.addData(Seq((20L, "gamma"), (21L, "beta"), (22L, "epsilon")))
      val q2 = start(); q2.processAllAvailable()

      // Third batch in the SAME run, after the run's refresh point: its dup
      // target (epsilon) was appended post-refresh, so the verification must
      // see it via the sketch fold + the partition-pruned fresh tail — the
      // path that avoids a per-batch full corpus rescan.
      ms.addData(Seq((30L, "epsilon"), (31L, "zeta")))
      q2.processAllAvailable(); q2.stop()

      val published = spark.read.parquet(corpusDir)
      assert(published.count() == published.select("fp").distinct().count()) // zero dupes anywhere
      assert(published.where($"batch_id" >= 0)
        .select("doc_id").as[Long].collect().toSet == Set(10L, 12L, 22L, 31L))
    }
  }

  test("q151 upsert state: later batches overwrite, older arrivals don't, tombstones drop") {
    val ms = MemoryStream[(Long, Long, Timestamp, String, Double)](spark)
    val stream = ms.toDF().toDF("user_id", "event_id", "ts", "event_type", "value")
    val q = StreamPipeline.upsertLatest(spark, stream).toDF()
      .writeStream.format("memory").queryName("t_upsert").outputMode("append").start()
    def t(s: Long) = new Timestamp(s * 1000)
    ms.addData(Seq((1L, 1L, t(10), "purchase", 5.0), (2L, 2L, t(10), "view", 1.0)))
    q.processAllAvailable()
    // Batch 2: user 1 gets a LATER record (overwrites across batches —
    // the state store carries batch-1 truth); user 2 gets an EARLIER
    // one (must NOT regress); user 3 lands then tombstones.
    ms.addData(Seq((1L, 3L, t(20), "click", 2.0), (2L, 4L, t(5), "signup", 9.0),
      (3L, 5L, t(10), "view", 4.0), (3L, 6L, t(30), "error", 0.0)))
    q.processAllAvailable(); q.stop()
    val view = graft.analytics.Queries.upsertServingView(spark.table("t_upsert"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(view.toSeq == Seq((1L, "click", 200L), (2L, "view", 100L)))
  }

  test("q189 twin: the real watermark drops exactly the rows the audit predicts") {
    def tm(min: Long) = new Timestamp(min * 60000L)
    // Batch 1 (audit batch 0): ids 0–3, times 10:00/10:05/10:08/10:10.
    // Batch 2 (audit batch 1, ids ≥ WmBatchIds): 9:55 (< wm 10:00 →
    // dropped), 10:02 (out-of-order but ≥ wm → kept), 10:20 (on-time).
    val b1 = Seq((0L, tm(600)), (1L, tm(605)), (2L, tm(608)), (3L, tm(610)))
    val b2 = Seq((10000L, tm(595)), (10001L, tm(602)), (10002L, tm(620)))
    val audit = graft.analytics.PipelineQueries
      .watermarkAuditOf((b1 ++ b2).toDF("event_id", "ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(audit.toSeq == Seq((0L, 4L, 4L, 0L, 0L), (1L, 3L, 1L, 1L, 1L)))

    val ms = MemoryStream[(Long, Timestamp)](spark)
    val q = ms.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).count()
      .writeStream.format("memory").queryName("t_wm_audit").outputMode("update").start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable(); q.stop()
    // Update mode re-emits a window per change; counts only grow, so the
    // engine's kept total is Σ (max count per window).
    val kept = spark.table("t_wm_audit")
      .groupBy(col("window")).agg(max(col("count")).as("c"))
      .agg(sum(col("c"))).collect()(0).getLong(0)
    val (total, dropped) = (audit.map(_._2).sum, audit.map(_._5).sum)
    assert(kept == total - dropped,
      s"engine kept $kept rows, audit predicts ${total - dropped}")
  }

  test("q200 fuzzy ingest: within-batch dominance, corpus match, and cross-batch carry") {
    TestSpark.withTempDir("graft_fuzzy_spec") { work =>
      val corpus = s"$work/corpus"
      // Standing corpus: doc 100.
      Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").parquet(corpus)
      val ms = MemoryStream[(Long, String)](spark)
      val q = graft.dedup.IncrementalDedup.streamingFuzzyIngest(
        ms.toDF().toDF("doc_id", "text"), corpus, s"$work/_ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      // Batch 1: docs 1 and 2 are 0.8-Jaccard twins → 2 dominated by 1.
      ms.addData(Seq((1L, "x y z w"), (2L, "x y z w v")))
      q.processAllAvailable()
      // Batch 2: 3 matches the STANDING corpus (dropped), 4 is fresh
      // (kept), 5 duplicates batch-1 SURVIVOR 1 (dropped — cross-batch
      // carry through the published partitions).
      ms.addData(Seq((3L, "p q r s t"), (4L, "a b c d"), (5L, "x y z w")))
      q.processAllAvailable(); q.stop()
      val got = spark.read.parquet(corpus).where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == Seq((0L, 1L), (1L, 4L)))
    }
  }

  test("q256 compaction: probes read base+deltas bit-identically; a stale base falls back") {
    // Two identical work dirs; only A compacts — every subsequent ingest
    // must publish the SAME survivors from either read path.
    TestSpark.withTempDir("graft_sig_compact_spec") { work =>
      def mkCorpus(tag: String): String = {
        val corpus = s"$work/$tag/corpus"
        Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
          .write.partitionBy("batch_id").parquet(corpus)
        graft.dedup.IncrementalDedup.fuzzyIngestBatch(
          Seq((1L, "x y z w")).toDF("doc_id", "text"), corpus, 0L)
        corpus
      }
      def published(c: String) = spark.read.parquet(c).where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val corpusA = mkCorpus("a")
      val corpusB = mkCorpus("b")
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpusA)
      // The base holds exactly 48 band rows per corpus doc (seed + survivor).
      assert(spark.read.parquet(s"$corpusA/_fuzzy_sigs/_base").count() == 2L * 48L)
      // Batch 1: doc 5 twins the batch-0 SURVIVOR (must drop via the BASE
      // read on A, the per-batch read on B); doc 6 is fresh.
      val b1 = Seq((5L, "x y z w"), (6L, "a b c d")).toDF("doc_id", "text")
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b1, corpusA, 1L)
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b1, corpusB, 1L)
      assert(published(corpusA) == published(corpusB))
      assert(published(corpusA) == Seq((0L, 1L), (1L, 6L)))
      // Re-compact A (folds −1/0/1), then edit a FOLDED corpus partition
      // out-of-band: the digest diverges from the manifest, so the base
      // must be ignored wholesale — the re-signed per-batch layout decides.
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpusA)
      Seq(corpusA, corpusB).foreach { c =>
        Seq((201L, "q w e r", 0L)).toDF("doc_id", "text", "batch_id")
          .write.mode("append").partitionBy("batch_id").parquet(c)
      }
      // Doc 7 twins the out-of-band doc (Jaccard 4/5 = 0.8): only the
      // re-signed store can drop it. Doc 8 is fresh.
      val b2 = Seq((7L, "q w e r t"), (8L, "f g h i")).toDF("doc_id", "text")
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b2, corpusA, 2L)
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b2, corpusB, 2L)
      assert(published(corpusA) == published(corpusB))
      // The out-of-band doc 201 sits in batch 0's partition, so it reads
      // back as published; 7 dropped against it, 8 survived.
      assert(published(corpusA) == Seq((0L, 1L), (0L, 201L), (1L, 6L), (2L, 8L)))
    }
  }

  test("q200 lifecycle: ingest auto-compacts past the delta threshold; replay stays idempotent") {
    // Round-10 verdict #3: compaction existed only as a separately-invoked
    // operator, so a long-running ingest accumulated one store partition
    // per batch. The ingest now folds the store itself once the deltas not
    // covered by the base manifest reach `autoCompactDeltas`.
    TestSpark.withTempDir("graft_fuzzy_autocompact") { work =>
      val corpus = s"$work/corpus"
      Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").parquet(corpus)
      val fs = new org.apache.hadoop.fs.Path(corpus)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val basePath = new org.apache.hadoop.fs.Path(s"$corpus/_fuzzy_sigs/_base")
      def manifest = graft.dedup.IncrementalDedup.readStateFile(
        fs, s"$corpus/_fuzzy_sigs", "_base_manifest")
      // Threshold 3 through the STREAMING wrapper: after stream batch 0 the
      // store holds {-1, 0} (2 residual deltas → below threshold, no base);
      // after stream batch 1 it holds 3 → the ingest compacts itself.
      val ms = MemoryStream[(Long, String)](spark)
      val q = graft.dedup.IncrementalDedup.streamingFuzzyIngest(
        ms.toDF().toDF("doc_id", "text"), corpus, s"$work/_ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        autoCompactDeltas = 3)
      ms.addData(Seq((1L, "x y z w")))
      q.processAllAvailable()
      assert(!fs.exists(basePath), "compacted below threshold")
      ms.addData(Seq((4L, "a b c d")))
      q.processAllAvailable(); q.stop()
      assert(fs.exists(basePath), "threshold crossed but no auto-compaction ran")
      assert(manifest.keySet == Set(-1L, 0L, 1L), s"manifest covers $manifest")
      // The base serves the next batch's probes: doc 5 twins the batch-0
      // survivor (dropped via the BASE read), doc 6 is fresh.
      val b2 = Seq((5L, "x y z w"), (6L, "f g h i")).toDF("doc_id", "text")
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b2, corpus, 2L)
      def published = spark.read.parquet(corpus).where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(published == Seq((0L, 1L), (1L, 4L), (2L, 6L)))
      // Replay of batch 2 against the compacted store: identical survivors,
      // and the base manifest is still honored (batch 2 is a residual delta,
      // not an invalidation).
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b2, corpus, 2L)
      assert(published == Seq((0L, 1L), (1L, 4L), (2L, 6L)))
      assert(manifest.keySet == Set(-1L, 0L, 1L))
    }
  }

  test("q256 torn compaction: a base without _SUCCESS is never trusted and self-heals") {
    // Round-11 advice #1: compactSigStore used to overwrite the base while
    // the previous manifest was still on disk and still digest-valid (the
    // FOLDED batches' digests don't change when the base is razed), so a
    // crash mid-rewrite left probes trusting a partial base. The fix is
    // twofold — the manifest is deleted BEFORE the base rewrite, and the
    // read path additionally requires the base write's own _SUCCESS. This
    // drives the second clause: a committed store whose base loses its
    // _SUCCESS (the observable state of a torn rewrite) must route probes
    // to the per-batch layout, keep survivors identical, and let the next
    // ingest's auto-compaction repair the base.
    TestSpark.withTempDir("graft_sig_torn_spec") { work =>
      val corpus = s"$work/corpus"
      Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").parquet(corpus)
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(
        Seq((1L, "x y z w")).toDF("doc_id", "text"), corpus, 0L)
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpus)
      val fs = new org.apache.hadoop.fs.Path(corpus)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val success = new org.apache.hadoop.fs.Path(s"$corpus/_fuzzy_sigs/_base/_SUCCESS")
      assert(fs.exists(success), "compaction committed a base")
      fs.delete(success, false) // the torn-rewrite observable
      // Doc 5 twins the batch-0 survivor: it must still drop — via the
      // per-batch fallback, never the damaged base. Doc 6 is fresh.
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(
        Seq((5L, "x y z w"), (6L, "a b c d")).toDF("doc_id", "text"), corpus, 1L,
        autoCompactDeltas = 2)
      val published = spark.read.parquet(corpus).where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(published == Seq((0L, 1L), (1L, 6L)))
      // An invalid base counts the WHOLE store as residual (3 ≥ threshold 2),
      // so the same ingest re-compacted: base committed again, manifest
      // covering every batch.
      assert(fs.exists(success), "auto-compaction repaired the torn base")
      assert(graft.dedup.IncrementalDedup.readStateFile(
        fs, s"$corpus/_fuzzy_sigs", "_base_manifest").keySet == Set(-1L, 0L, 1L))
    }
  }

  test("q256 torn manifest: an unparseable state file reads as absent and probes fall back") {
    // Round-12 advice #2: the torn-compaction fix covered a torn BASE but
    // not a torn MANIFEST — writeStateFile published in place (no
    // temp+rename) and readStateFile threw MatchError on a truncated line,
    // wedging every subsequent probe. This pins both halves of the fix:
    // (a) writeStateFile goes through a temp file + rename and leaves no
    // .tmp behind; (b) a manifest torn mid-line (no '=') reads as
    // Map.empty, so baseValid routes probes to the per-batch fallback
    // instead of crashing, and the next compaction self-heals it.
    TestSpark.withTempDir("graft_sig_torn_manifest") { work =>
      val corpus = s"$work/corpus"
      Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").parquet(corpus)
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(
        Seq((1L, "x y z w")).toDF("doc_id", "text"), corpus, 0L)
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpus)
      val fs = new org.apache.hadoop.fs.Path(corpus)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sigDir = s"$corpus/_fuzzy_sigs"
      val manifestPath = new org.apache.hadoop.fs.Path(sigDir, "_base_manifest")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(sigDir, "_base_manifest.tmp")),
        "temp+rename publish leaves no .tmp behind")
      assert(graft.dedup.IncrementalDedup.readStateFile(
        fs, sigDir, "_base_manifest").nonEmpty, "compaction committed a manifest")
      // Tear the manifest: truncate the file mid-line so the last line has
      // no '=' — the observable state of a crash mid-publish on a filesystem
      // without atomic visibility.
      val in = fs.open(manifestPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val torn = txt.substring(0, txt.lastIndexOf('=') max 1)
      val out = fs.create(manifestPath, true)
      try out.write(torn.getBytes("UTF-8")) finally out.close()
      assert(graft.dedup.IncrementalDedup.readStateFile(
        fs, sigDir, "_base_manifest").isEmpty,
        "a torn manifest reads as absent, not a crash")
      // The probe path must not crash and must still dedup via the
      // per-batch fallback: doc 5 twins the batch-0 survivor → dropped.
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(
        Seq((5L, "x y z w"), (6L, "a b c d")).toDF("doc_id", "text"), corpus, 1L)
      val published = spark.read.parquet(corpus).where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(published == Seq((0L, 1L), (1L, 6L)))
      // Re-compaction republishes a clean manifest over the torn one.
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpus)
      assert(graft.dedup.IncrementalDedup.readStateFile(
        fs, sigDir, "_base_manifest").keySet == Set(-1L, 0L, 1L))
    }
  }

  test("q200 replay guard: a zero-survivor replay clears the stale partition") {
    // Round-6 advice: DPO writes no partition for an empty frame, so a
    // replay that legitimately derives zero survivors (the corpus grew
    // between the original run and the replay) must truncate explicitly.
    TestSpark.withTempDir("graft_fuzzy_replay") { work =>
      val corpus = s"$work/corpus"
      Seq((100L, "p q r s", -1L)).toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").parquet(corpus)
      // Original run of batch 0: doc 1 is fresh → published.
      val b = Seq((1L, "x y z w")).toDF("doc_id", "text")
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b, corpus, 0L)
      assert(spark.read.parquet(corpus).where(col("batch_id") === 0).count() == 1)
      // The corpus then gains an exact twin of doc 1 in another batch; a
      // replay of batch 0 now derives ZERO survivors — the stale batch-0
      // partition must come out, not linger.
      Seq((50L, "x y z w", 1L)).toDF("doc_id", "text", "batch_id")
        .write.mode("append").partitionBy("batch_id").parquet(corpus)
      graft.dedup.IncrementalDedup.fuzzyIngestBatch(b, corpus, 0L)
      assert(spark.read.parquet(corpus).where(col("batch_id") === 0).count() == 0)
      assert(spark.read.parquet(corpus).select(col("doc_id")).as[Long]
        .collect().toSet == Set(100L, 50L))
    }
  }

  test("each staged stream input is read back with the schema of the frame written") {
    import graft.analytics.PipelineQueries
    val docs = Tables.documents(spark, TestSpark.SfDir)
    val staged = Seq(
      "q100" -> PipelineQueries.ingestDedupIncoming(docs),
      "q282" -> PipelineQueries.boilerGateIncoming(docs, "promo sale banner click here "),
      "q293" -> PipelineQueries.trenderIncoming(Tables.events(spark, TestSpark.SfDir)),
      "q307" -> PipelineQueries.pplGateIncoming(docs))
    TestSpark.withTempDir("graft_staged_schema") { dir =>
      staged.foreach { case (q, frame) =>
        frame.write.parquet(s"$dir/$q")
        assert(frame.schema.toNullable == spark.read.parquet(s"$dir/$q").schema, q)
      }
    }
  }
}
