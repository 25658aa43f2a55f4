package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EventGen
import graft.streaming.StreamPipeline

/** Checkpoint-resume semantics (SURVEY.md §2.8/§5.2): a file-sink stream
  * stopped and restarted from the same checkpoint must not duplicate or
  * lose rows (exactly-once via the FileSink manifest). */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parquet sink resumes from checkpoint without duplicates") {
    TestSpark.withTempDir("graft_ckpt") { dir =>
      val ms = MemoryStream[(String, Timestamp)](spark)
      val stream = ms.toDF().selectExpr("cast(_1 as binary) as value", "_2 as timestamp")
      val parsed = StreamPipeline.extractValidEvents(stream)

      def startQuery() = parsed.writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()

      val batch1 = EventGen.burst("sword_event", "increase", "wood", "h1", 50)
        .zipWithIndex.map { case (j, i) => (j, new Timestamp(1700000000000L + i)) }
      ms.addData(batch1)
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(spark.read.parquet(s"$dir/out").count() == 50)

      // restart from the same checkpoint; add more data
      val batch2 = EventGen.burst("guild_event", "increase", "g", "h2", 25)
        .zipWithIndex.map { case (j, i) => (j, new Timestamp(1700000100000L + i)) }
      ms.addData(batch2)
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()

      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 75) // no dupes from batch1, no loss of batch2
      assert(out.filter($"event_type" === "sword_event").count() == 50)
      assert(out.filter($"event_type" === "guild_event").count() == 25)
    }
  }

  test("demux resumes from checkpoint without duplicating any route") {
    // The multi-sink path's exactly-once: batch-id-keyed dynamic-overwrite
    // writes + the stream checkpoint must survive a stop/restart with no
    // route double-counting — the end-to-end form of the unit replay test.
    TestSpark.withTempDir("graft_demux_ckpt") { dir =>
      val ms = MemoryStream[(String, Timestamp)](spark)
      val stream = ms.toDF().selectExpr("cast(_1 as binary) as value", "_2 as timestamp")
      val parsed = graft.operators.Parse.parseAndFlatten(
        graft.operators.Parse.projectRaw(stream), graft.model.EventModel.gen1Schema)

      def startQuery() = StreamPipeline.demuxToParquet(
        parsed, dir, trigger = Trigger.ProcessingTime("100 milliseconds"))

      val mk = (t: String, n: Int, t0: Long) => (0 until n).map { i =>
        (s"""{"event_type": "$t", "x": "$i"}""", new Timestamp(t0 + i))
      }
      ms.addData(mk("purchase_sword", 20, 1700000000000L) ++ mk("join_guild", 10, 1700000050000L))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 20)

      ms.addData(mk("purchase_sword", 5, 1700000100000L) ++ mk("other", 3, 1700000150000L))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()

      assert(spark.read.parquet(s"$dir/sword_purchases").count() == 25) // 20 + 5, no dupes
      assert(spark.read.parquet(s"$dir/guild_joins").count() == 10)
      assert(spark.read.parquet(s"$dir/default_events").count() == 3)
    }
  }
}
