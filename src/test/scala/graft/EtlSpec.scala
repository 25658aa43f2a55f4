package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EventModel
import graft.operators.{Filters, Parse, Sinks}
import graft.sources.{EventGen, EventSources}

/** Reference-parity ETL semantics (SURVEY.md §2.1–§2.3, §5.2): parse,
  * schema-on-read, filters, demux partition law, sink round-trip, and the
  * reference's count-reconciliation protocol as exact assertions. */
class EtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val corpus = EventGen.corpus(
    swordPerHost = Map("Player 1" -> 100, "Player 2" -> 200),
    guildPerHost = Map("Player 1" -> 30),
    defaults = 5)

  def parsed = Parse.extractEvents(EventSources.memoryBatch(spark, corpus))

  test("parse + flatten lands the Gen-2 schema") {
    val cols = parsed.columns.toSeq
    assert(cols == Seq("raw_event", "timestamp", "event_time",
      "Accept", "Host", "User-Agent", "event_type", "direction", "event_detail"))
    assert(parsed.count() == 335)
  }

  test("count reconciliation: per-host group-by equals the generated bursts") {
    val counts = parsed
      .filter(Filters.isValidEvent)
      .groupBy($"Host", $"event_type")
      .count()
      .as[(String, String, Long)]
      .collect()
      .map { case (h, t, n) => (h, t) -> n }
      .toMap
    assert(counts == Map(
      ("Player 1", "sword_event") -> 100L,
      ("Player 2", "sword_event") -> 200L,
      ("Player 1", "guild_event") -> 30L))
  }

  test("presto case-fold: lower-case surface resolves alongside fidelity") {
    val folded = Parse.prestoFolded(parsed)
    assert(folded.columns.toSeq == Seq("raw_event", "timestamp", "event_time",
      "accept", "host", "user-agent", "event_type", "direction", "event_detail"))
    // Both vocabularies answer the same query with the same result.
    val fidelity = parsed.groupBy(col("Host")).count().as[(String, Long)].collect().toMap
    val presto = folded.groupBy(col("host")).count().as[(String, Long)].collect().toMap
    assert(fidelity == presto && fidelity.nonEmpty)
    // Registered as views, both resolve in SQL (hyphenated name backticked).
    parsed.createOrReplaceTempView("valid_events_fidelity")
    folded.createOrReplaceTempView("valid_events_presto")
    assert(spark.sql("SELECT Host, `User-Agent` FROM valid_events_fidelity").count() ==
      spark.sql("SELECT host, `user-agent` FROM valid_events_presto").count())
  }

  test("schema-on-read: unknown keys dropped, missing keys null, bad JSON null row") {
    val rows = Parse
      .extractEvents(EventSources.memoryBatch(
        spark, EventGen.malformed.zipWithIndex.map { case (j, i) =>
          (j, new java.sql.Timestamp(1700000000000L + i))
        }))
      .collect()
    assert(rows.length == EventGen.malformed.size)
    val withExtra = rows(0)
    assert(withExtra.getAs[String]("event_type") == "sword_event")
    assert(!withExtra.schema.fieldNames.contains("extra_key"))
    assert(rows(1).getAs[String]("event_type") == null) // missing key → null
    assert(rows(2).getAs[String]("event_type") == null) // invalid JSON → nulls
    assert(rows(3).getAs[String]("event_detail") == "こんにちは")
  }

  test("filter partition law: valid ∪ invalid = all; demux partitions the input") {
    val all = parsed.count()
    val valid = parsed.filter(Filters.isValidEvent).count()
    val invalid = parsed.filter(!Filters.isValidEvent || Filters.isValidEvent.isNull).count()
    assert(valid + invalid == all)

    // Gen-1 demux over gen-1 events
    val gen1 = Seq(
      """{"event_type": "purchase_sword", "sword_type": "iron"}""",
      """{"event_type": "join_guild", "guild_name": "g"}""",
      """{"event_type": "default"}""",
      """{"event_type": "other"}""").zipWithIndex
      .map { case (j, i) => (j, new java.sql.Timestamp(1700000000000L + i)) }
    val parsed1 = Parse.parseAndFlatten(
      Parse.projectRaw(EventSources.memoryBatch(spark, gen1)), EventModel.gen1Schema)
    val (s, g, d) = Filters.demux(parsed1)
    assert(s.count() == 1 && g.count() == 1 && d.count() == 2)
    assert(s.count() + g.count() + d.count() == parsed1.count())
  }

  test("native filter matches the reference's UDF-twin on well-formed events") {
    val nat = parsed.filter(Filters.isValidEvent).count()
    val udf = parsed.filter(Filters.isValidEventUdf($"raw_event")).count()
    assert(nat == udf)
  }

  test("dynamic schema inference (X1): union of JSON keys becomes columns") {
    val df = Parse.inferJson(spark, Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 2, "c": true}""").toDS())
    assert(df.columns.sorted.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 2)
  }

  test("props column as map and raw-JSON single-key probe") {
    val ev = Tables.events(spark, TestSpark.SfDir)
    val m = ev.select(Parse.jsonAsMap($"props").as("m"))
      .select(element_at($"m", "k").cast("int").as("k"))
    assert(m.filter($"k".isNull).count() == 0)
    val probed = Seq(("""{"event_type": "sword_event"}""", ""))
      .toDF("raw", "x")
      .filter(graft.operators.Filters.rawJsonTypeIs($"raw", "sword_event"))
    assert(probed.count() == 1)
  }

  test("sink round-trip: batch parquet overwrite preserves frame") {
    TestSpark.withTempDir("graft_sink") { dir =>
      val before = parsed.filter(Filters.isValidEvent)
      Sinks.batchParquet(before, s"$dir/out", partitionBy = Seq("event_type"))
      val after = spark.read.parquet(s"$dir/out")
      assert(after.count() == before.count())
      assert(after.select("Host", "event_type", "event_detail").distinct().count() ==
        before.select("Host", "event_type", "event_detail").distinct().count())
    }
  }

  test("external table DDL registers a queryable catalog table") {
    TestSpark.withTempDir("graft_tbl") { dir =>
      Sinks.batchParquet(parsed.select("Host", "event_type"), s"$dir/t")
      Sinks.registerExternalTable(spark, "graft_valid_events", s"$dir/t")
      assert(spark.sql("SELECT count(*) FROM graft_valid_events").as[Long].head() == 335L)
      spark.sql("DROP TABLE graft_valid_events")
    }
  }
}
