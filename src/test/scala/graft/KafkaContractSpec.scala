package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.EventModel
import graft.sources.EventSources

/** Pins the S1/S2 Kafka source contract as far as this harness can: no
  * broker or kafka connector jar exists here, so the readers cannot produce
  * an analyzed plan. What CAN be pinned: (a) both builders wire up
  * `format("kafka")` with their options and get all the way to provider
  * resolution — the failure is precisely "kafka provider not found", not a
  * builder/option error; (b) the (value, timestamp) envelope contract the
  * whole downstream ETL assumes, via the memory twin that substitutes for
  * Kafka everywhere else in the suite. */
class KafkaContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def providerMissing(t: Throwable): Boolean = {
    val msgs = Iterator
      .iterate(t)(_.getCause)
      .takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse(""))
      .mkString(" | ")
      .toLowerCase
    msgs.contains("kafka")
  }

  test("kafkaStream builder reaches kafka provider resolution") {
    val t = intercept[Throwable] {
      EventSources.kafkaStream(spark, "localhost:9092", "events").schema
    }
    assert(providerMissing(t), s"expected kafka provider lookup, got: $t")
  }

  test("kafkaBatch builder reaches kafka provider resolution") {
    val t = intercept[Throwable] {
      EventSources.kafkaBatch(spark, "localhost:9092", "events").schema
    }
    assert(providerMissing(t), s"expected kafka provider lookup, got: $t")
  }

  test("memory twin delivers exactly the Kafka envelope the ETL consumes") {
    val df = EventSources.memoryBatch(
      spark, Seq(("{}", new java.sql.Timestamp(0L))))
    assert(df.schema == EventModel.kafkaValueSchema)
  }

  test("kafkaStream analyzes to a streaming relation with the Kafka envelope; options round-trip") {
    val provider = classOf[KafkaEnvelopeTestProvider].getName
    val df = EventSources.kafkaStream(
      spark, "broker-1:9092,broker-2:9092", "events",
      startingOffsets = "earliest", provider = provider)
    assert(df.isStreaming)
    assert(df.schema == EventModel.kafkaEnvelopeSchema, df.schema.treeString)
    assert(df.queryExecution.analyzed.getClass.getSimpleName.contains("StreamingRelation"),
      df.queryExecution.analyzed.getClass.getName)
    val opts = KafkaEnvelopeTestProvider.lastOptions
    assert(opts.get("kafka.bootstrap.servers").contains("broker-1:9092,broker-2:9092"), opts)
    assert(opts.get("subscribe").contains("events"), opts)
    assert(opts.get("startingoffsets").contains("earliest"), opts)
    // The whole downstream ETL analyzes over the envelope source: the
    // builder → parse → filter composition is plan-checked end to end.
    val etl = graft.streaming.StreamPipeline.extractValidEvents(df)
    assert(etl.isStreaming)
    assert(etl.columns.toSeq == Seq("raw_event", "timestamp", "event_time",
      "Accept", "Host", "User-Agent", "event_type", "direction", "event_detail"))
  }

  test("kafkaBatch analyzes with the Kafka envelope; offset options round-trip") {
    val provider = classOf[KafkaEnvelopeTestProvider].getName
    val df = EventSources.kafkaBatch(spark, "broker-1:9092", "events", provider = provider)
    assert(!df.isStreaming)
    assert(df.schema == EventModel.kafkaEnvelopeSchema, df.schema.treeString)
    val opts = KafkaEnvelopeTestProvider.lastOptions
    assert(opts.get("startingoffsets").contains("earliest"), opts)
    assert(opts.get("endingoffsets").contains("latest"), opts)
  }

  test("S1 multi-partition: records land with per-partition offsets, all partitions read") {
    import graft.sources.EventGen
    import spark.implicits._
    val us = 1700000000000000L
    // 7 records round-robin over 3 topic-partitions: partitions get
    // 3/2/2 records with independent offset sequences 0,1,2 / 0,1 / 0,1.
    KafkaEnvelopeTestProvider.stage(
      (0 until 7).map(i => (EventGen.json("sword_event", "increase", "iron", s"P$i"), us + i)),
      partitions = 3)
    val stream = EventSources.kafkaStream(
      spark, "broker-1:9092", "events",
      provider = classOf[KafkaEnvelopeTestProvider].getName)
    val out = graft.streaming.StreamPipeline
      .runToMemory(spark, stream.selectExpr("partition", "offset"), "t_kafka_parts")
      .as[(Int, Long)].collect().toSet
    assert(out == Set((0, 0L), (0, 1L), (0, 2L), (1, 0L), (1, 1L), (2, 0L), (2, 1L)))
  }

  test("S1 checkpoint restart resumes per-partition offsets; no dupes through the demux") {
    import graft.sources.EventGen
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    TestSpark.withTempDir("graft_kafka_restart") { dir =>
      val us = 1700000000000000L
      def ev(i: Int) = (EventGen.json(
        if (i % 2 == 0) "purchase_sword" else "join_guild", "", "", s"Player $i"), us + i * 1000000L)
      KafkaEnvelopeTestProvider.stage((0 until 4).map(ev), partitions = 2)
      val provider = classOf[KafkaEnvelopeTestProvider].getName
      def startDemux() = {
        val stream = EventSources.kafkaStream(spark, "broker-1:9092", "events", provider = provider)
        graft.streaming.StreamPipeline.demuxToParquet(
          graft.operators.Parse.extractEvents(stream), dir,
          trigger = Trigger.ProcessingTime("100 milliseconds"))
      }
      val q1 = startDemux()
      q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
      // The broker keeps receiving while the query is down...
      KafkaEnvelopeTestProvider.stageMore((4 until 8).map(ev))
      // ...and the restarted query resumes from the committed per-partition
      // offsets: batch 0's four events are NOT replayed, the new four flow.
      val q2 = startDemux()
      q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
      val hosts = spark.read.parquet(s"$dir/sword_purchases")
        .unionByName(spark.read.parquet(s"$dir/guild_joins"))
        .select($"Host").as[String].collect().toSeq
      // Every event exactly once — a replayed batch would duplicate Hosts.
      assert(hosts.sorted == (0 until 8).map(i => s"Player $i"),
        s"expected 8 unique hosts, got: $hosts")
    }
  }

  test("S1 executes end-to-end: builder -> DSv2 micro-batch -> ETL -> sink") {
    import graft.sources.EventGen
    import spark.implicits._
    // Three staged envelope records: two valid gen-2 events + one default
    // the filter must drop — through the REAL streaming engine (offset
    // planning, PartitionReader execution, micro-batch commit), not a
    // memory-stream stand-in.
    val us = 1700000000000000L
    KafkaEnvelopeTestProvider.stage(Seq(
      (EventGen.json("sword_event", "increase", "iron", "Player 1"), us),
      (EventGen.json("guild_event", "join", "g", "Player 2"), us + 1000000L),
      (EventGen.json("default", "", "", "Player 1"), us + 2000000L)))
    val stream = EventSources.kafkaStream(
      spark, "broker-1:9092", "events",
      provider = classOf[KafkaEnvelopeTestProvider].getName)
    val out = graft.streaming.StreamPipeline.runToMemory(
      spark, graft.streaming.StreamPipeline.extractValidEvents(stream), "t_kafka_exec")
    val rows = out.select("event_type", "Host").as[(String, String)].collect().sorted
    assert(rows.toSeq == Seq(("guild_event", "Player 2"), ("sword_event", "Player 1")))
    // Event time flows from the envelope timestamp into event_time.
    val times = out.select("event_time").as[java.sql.Timestamp].collect().map(_.getTime).sorted
    assert(times.toSeq == Seq(us / 1000, us / 1000 + 1000))
  }
}
