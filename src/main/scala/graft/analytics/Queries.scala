package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Parse

/** The relational query surface (SURVEY.md §2.4–§2.6 + §7.2 step 3).
  *
  * Each query is paired with a DuckDB oracle (`oracle` map) that the driver
  * executes over the same parquet; Spark result and oracle must hash-match.
  *
  * Determinism contract for the oracle diff:
  *  - Float aggregation is order-dependent, so every SUM over doubles is
  *    computed in exact decimal (inputs have ≤2 decimal digits) and cast
  *    back to double — identical bits regardless of partitioning/engine.
  *  - Every oracle query carries a total ORDER BY on its key columns so the
  *    compare is row-order-proof (Catalyst's EliminateSorts removes these
  *    sorts under Bench's count(), so they cost nothing at bench time).
  *
  * Scale notes are attached per query: which side broadcasts, where the
  * shuffles are, and why the plan survives 1000 executors.
  */
object Queries {

  private val D12 = DecimalType(12, 2) // prices/quantities: ≤ 1e10, 2 digits
  private val D4 = DecimalType(4, 2) // rates in [0,1]: discount/tax
  private def dec(c: Column): Column = c.cast(D12)
  private def rate(c: Column): Column = c.cast(D4)
  private val one: Column = lit(1).cast(D4)
  /** Exact decimal sum surfaced as double (order-independent). */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  // ---------------------------------------------------------------------------
  // Aggregations (reference workload A1–A6 recast on the harness tables)
  // ---------------------------------------------------------------------------

  /** TPC-H Q1-style pricing summary. One hash-aggregate with map-side partial
    * aggregation over 6 groups — at 100 TB this is a near-perfect scan:
    * filter + projection push into parquet, partials shrink each task's
    * output to 6 rows before the shuffle. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00"))
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") <= cutoff)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .cast("double")
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** A2 analog: per-type event counts + exact value sums. */
  def eventTypeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))

  /** A1: global count. */
  def countAll(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(count(lit(1)).as("num_entries"))

  /** A3 analog: two-key group-by with sort. */
  def userEventCounts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("event_type"))

  /** A4 analog: distinct via group-by. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"))

  /** A6: limit — made deterministic with a total order (CollectLimit after
    * a TakeOrderedAndProject, no full sort materialization). */
  def headEvents(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
      .limit(10)

  /** props JSON probe (SURVEY.md §1.5): one codegen'd get_json_object, no
    * UDF, no second parse. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn("k", Parse.jsonKey(col("props"), "k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))

  /** F2 analog: native IN-list filter (pushed to the parquet scan). */
  def filterValid(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), col("event_type"), col("user_id"))
      .orderBy(col("event_id"))

  /** F3 analog: single-pass CASE classifier + distribution. */
  def classify(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn(
        "event_class",
        when(col("event_type") === "purchase", 1)
          .when(col("event_type") === "signup", 2)
          .otherwise(3))
      .groupBy(col("event_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_class"))

  // ---------------------------------------------------------------------------
  // Joins (§2.5 — the joins the reference promises at README.md:819)
  // ---------------------------------------------------------------------------

  /** Broadcast-hash join: customer is the small dim — broadcast() pins the
    * strategy so the fact side never shuffles. At 100 TB the fact scan
    * streams through map tasks; only the 6-row aggregate shuffles. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))

  /** Fact-to-fact equi-join (lineitem ⋈ orders): both sides large → Spark
    * picks shuffle/sort-merge; AQE converts to broadcast if one side turns
    * out small, and splits skewed partitions at runtime. */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q5-style dim-chain: region→nation→customer broadcast down onto
    * the orders⋈lineitem fact join. The only large shuffle is on
    * l_orderkey/o_orderkey; all dim joins are broadcasts. */
  def joinChain(spark: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables
        .region(spark, dir)
        .filter(col("r_name") === "ASIA")
        .join(Tables.nation(spark, dir), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(spark, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    Tables
      .orders(spark, dir)
      .join(dims, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .cast("double")
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join (EXISTS). Semi-joins ship only the key column of the
    * filter side and stop probing on first match. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .join(
        Tables.lineitem(spark, dir).filter(col("l_quantity") > 45).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  /** Left-anti join (NOT EXISTS): customers with no high-value orders.
    * (Plain "no orders" is vacuously empty in this dataset.) */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(col("o_totalprice") > 400000).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // ---------------------------------------------------------------------------
  // Windows / sort / limit / set ops (§2.6)
  // ---------------------------------------------------------------------------

  /** Top-K per group via row_number — the scalable top-k idiom: one shuffle
    * on the partition key, no global sort. */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables
      .orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running sum + lag per user (event-time ordered). Exact decimal framing
    * keeps the cumulative sum bit-identical to the oracle. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val framed = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        sum(dec(col("value"))).over(framed).cast("double").as("running_value"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .orderBy(col("event_id"))
  }

  /** Global top-k: ORDER BY + LIMIT → TakeOrderedAndProject (per-partition
    * heaps, no global sort — the only scalable global-top-k plan). */
  def orderLimit(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  /** UNION ALL of two filtered views — one scan each, no dedup shuffle. */
  def unionEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("event_type"))
    ev.filter(col("event_type") === "purchase")
      .union(ev.filter(col("event_type") === "error"))
      .orderBy(col("event_id"))
  }

  /** ROLLUP grouping sets (beyond the reference's flat group-bys). */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Exact COUNT(DISTINCT) — expands to a two-stage aggregate. */
  def countDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** HAVING: post-aggregation filter (~66 events/user at every SF). */
  def havingFilter(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 66)
      .orderBy(col("user_id"))

  // ---------------------------------------------------------------------------
  // Event-time operators (tumbling windows, sessionization)
  // ---------------------------------------------------------------------------

  /** Tumbling 1-hour event-time window — the batch twin of the streaming
    * windowed aggregation in graft.streaming. */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sessionization: 30-minute-gap session windows per user. session_window
    * keys state by (user, session) — at scale this is one shuffle on
    * user_id and per-key merging, the same operator the streaming path
    * uses with watermarked state. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Streaming twin of tumblingHourly: file stream → windowed count →
    * AvailableNow trigger → memory sink. Proves the same plan runs
    * incrementally with streaming semantics and matches the batch oracle.
    * Runs on the parent's [[graft.Engine.narrowSession]]. */
  def streamHourly(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark)
    val counts = Tables
      .eventsStream(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("n"))
    graft.streaming.StreamPipeline
      .runToMemory(s, counts, "graft_stream_hourly", "complete")
      .orderBy(col("hour_start"))
  }

  /** Streaming twin of q23's sessionization on the Spark-4
    * transformWithState path (StatefulProcessor + RocksDB state store +
    * event-time timers): file stream → sessionizeTws → memory sink. The
    * batch oracle is the same gap-sessionization in SQL, so the
    * arbitrary-state streaming operator gets a full hash-checked
    * CORRECTNESS row, not just a ScalaTest.
    *
    * Append-mode arbitrary state only emits sessions whose timers the
    * final watermark passes, so the stage dir carries the events file
    * plus ONE far-future sentinel row (user_id = -1, ts = 2100-01-01):
    * the sentinel drags the final watermark past every real session's
    * last+gap and is filtered from the output. Runs on the parent's
    * RocksDB-backed [[graft.Engine.narrowSession]]. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark, rocksDbState = true)
    import java.nio.file.{Files, Paths}
    // Staged once per parent session: the link, plus a sentinel written in
    // the SAME ts encoding as the source files (epoch-nanos long for
    // legacy drops, TIMESTAMP_NTZ for current micros drops) so the staged
    // dir stays schema-uniform.
    val stage = graft.SessionMemo.memo(spark, s"twsStage|$dir") {
      val stage = graft.SessionMemo.workDir(spark, "graft_tws_src")
      Files.createSymbolicLink(stage.resolve("events.parquet"),
        Paths.get(s"$dir/events.parquet").toAbsolutePath)
      val src = Tables.load(s, dir, "events")
      val sentinelTs =
        if (src.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          lit(4102444800000000000L) // 2100-01-01 UTC
        else lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0))
      val tmp = graft.SessionMemo.workDir(spark, "graft_tws_sentinel").toString
      src.limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", sentinelTs)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, stage.resolve("sentinel.parquet"))
      stage
    }
    val schema = Tables.eventsSchema(spark, dir)
    val ev = Tables.normalizeTs(
      s.readStream.schema(schema).parquet(stage.toString))
    val sessions = graft.streaming.StreamPipeline.sessionizeTws(
      s, ev, keyCol = "user_id", tsCol = "ts",
      gapMs = 30L * 60 * 1000, watermark = "0 seconds")
    graft.streaming.StreamPipeline
      .runToMemory(s, sessions.toDF(), "graft_stream_sessions")
      .filter(col("host") =!= "-1")
      .select(col("session_start"), col("host").cast("bigint").as("user_id"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming user-journey transitions (q120) — the ingest-time twin of
    * the batch lead()-window matrix (q119): per-user last-event state in
    * flatMapGroupsWithState chains each arrival into a (from → to) edge
    * the moment it lands (see
    * [[graft.streaming.StreamPipeline.transitionPairs]] for the per-key
    * ordering contract a keyed topic provides); the emitted pair stream
    * is then counted and normalized IN BATCH on the sink table by the
    * same [[PipelineQueries.transitionMatrixOf]] the batch path uses, so
    * the two formulations share one oracle — a hash divergence reads as
    * "streaming state drifted from the window semantics".
    *
    * Scale shape: state is a constant few bytes per user (RocksDB-backed,
    * like q63); the shuffle is the same user_id Exchange; the sink
    * carries edges, not events. */
  def streamTransitions(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark, rocksDbState = true)
    val pairs = graft.streaming.StreamPipeline
      .transitionPairs(s, Tables.eventsStream(s, dir))
    PipelineQueries.transitionMatrixOf(
      graft.streaming.StreamPipeline
        .runToMemory(s, pairs.toDF(), "graft_stream_transitions"))
  }

  /** q152 attribution lookback window: 7 days in microseconds, shared
    * with the oracle. */
  private[graft] val AttribWindowUs = 7L * 86400L * 1000000L

  /** Last-touch marketing attribution (q152) — every purchase's value
    * (exact floor-cents) credits the user's most recent preceding
    * click/view within a 7-day lookback, else the 'direct' channel. The
    * classic attribution job, computed with ONE user-keyed window: the
    * running last-touch (type, time) is carried by last(..., ignoreNulls)
    * over the merged event sequence — no as-of join, no per-purchase
    * probe — then purchases project their channel and reduce. Ordering is
    * the deterministic (µs, event_id) total order everywhere.
    *
    * Scale shape: one corpus shuffle (user_id window), streaming window
    * frame (running last — no buffering), map-side-combinable final
    * aggregate to a channel-count-sized result. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame =
    lastTouchAttributionOf(Tables.events(spark, dir))

  private[graft] def lastTouchAttributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("event_type").isin("click", "view")
    events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      .withColumn("touch_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us", last(when(isTouch, col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("touch_us").isNotNull && col("touch_us") >= col("us") - AttribWindowUs,
          col("touch_type")).otherwise(lit("direct")).as("channel"),
        col("cents"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("attributed_cents"))
      .orderBy(col("channel"))
  }

  /** Streaming CDC upsert serving view (q151) — the keyed change-apply
    * that turns an event stream into a serving table: per user, the
    * latest record wins ((event-time µs, event_id) total order, held in
    * [[graft.streaming.StreamPipeline.upsertLatest]]'s per-key state),
    * and a latest event of type 'error' tombstones the key (the
    * account-deletion CDC pattern). The memory sink holds the per-batch
    * change feed (versions, not events); the serving view reduces to the
    * max-version row per key and drops tombstones — the same
    * reduce-on-the-sink discipline as q120. The oracle is the batch
    * last-writer-wins window over the full table: hash divergence reads
    * as "streaming state drifted from batch semantics". */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark, rocksDbState = true)
    val latest = graft.streaming.StreamPipeline.upsertLatest(s, Tables.eventsStream(s, dir))
    upsertServingView(graft.streaming.StreamPipeline
      .runToMemory(s, latest.toDF(), "graft_stream_upsert"))
  }

  /** Max-version-per-key reduce + tombstone drop over an upsertLatest
    * change feed (factored out for the planted-scenario spec). */
  private[graft] def upsertServingView(versions: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us").desc, col("eid").desc)
    versions
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("last_type") =!= "error")
      .select(col("user_id"), col("last_type"),
        when(col("cents_null"), lit(null).cast("long"))
          .otherwise(col("last_value_cents")).as("last_value_cents"))
      .orderBy(col("user_id"))
  }

  /** Stream-stream interval join for the driver gate: purchases joined to
    * the same user's views within the preceding hour, both sides
    * watermarked file streams (bounded state — the §2.8 two-unbounded-
    * streams contract). The join emits matches append-mode as data
    * arrives; the per-user aggregate runs in BATCH on the sink table, so
    * no sentinel is needed (inner-join completeness doesn't depend on the
    * final watermark — only state GC does). Oracle = the same interval
    * join in SQL. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark)
    val p = Tables.eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val v = Tables.eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
    val joined = graft.streaming.StreamPipeline
      .intervalJoin(p, v, "user_id", "p_ts", "v_ts", window = "1 hour", watermark = "2 hours")
      .select(p("user_id"))
    graft.streaming.StreamPipeline
      .runToMemory(s, joined, "graft_stream_ij")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Streaming dedup driver row: dropDuplicatesWithinWatermark over the
    * events stream keyed by (user_id, event_type) — first occurrence per
    * key survives; with bounded input in one AvailableNow batch the state
    * never evicts mid-run, so the output is exactly the batch DISTINCT
    * (the oracle). At 100 TB/day the watermark bounds the state store —
    * the property StreamingSpec exercises with replayed late events. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Engine.narrowSession(spark)
    val deduped = graft.streaming.StreamPipeline.dedupWithinWatermark(
      Tables.eventsStream(s, dir).select(col("user_id"), col("event_type"), col("ts")),
      keyCols = Seq("user_id", "event_type"), tsCol = "ts", watermark = "2 hours")
    graft.streaming.StreamPipeline
      .runToMemory(s, deduped.drop("ts"), "graft_stream_dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------------------
  // Wider SQL surface: pivot, set ops, scalar functions, subqueries, raw SQL
  // ---------------------------------------------------------------------------

  /** Pivot with an explicit value list (deterministic output schema). */
  def pivotEventTypes(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("purchase", "signup", "click", "view", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** INTERSECT + EXCEPT (set semantics): big purchasers who also had a big
    * signup but no large error. (Unqualified type membership is vacuous —
    * every user has every event type in this corpus.) */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def usersOf(t: String, minValue: Double) =
      ev.filter(col("event_type") === t && col("value") > minValue).select(col("user_id"))
    usersOf("purchase", 150)
      .intersect(usersOf("signup", 150))
      .except(usersOf("error", 180))
      .orderBy(col("user_id"))
  }

  /** Bag-semantics set ops (q94): INTERSECT ALL / EXCEPT ALL keep
    * per-row multiplicities — a different physical operator from the
    * DISTINCT forms in q44 (count-matching joins instead of dedup), and
    * the one you want when duplicates carry meaning (event streams).
    * Counted output keeps the oracle away from bag row-order. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def usersOf(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id"))
    usersOf("purchase")
      .intersectAll(usersOf("click"))
      .exceptAll(usersOf("error"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  }

  /** Null-safe equality join (q95): `<=>` (IS NOT DISTINCT FROM) — the
    * join form where NULL keys MATCH each other instead of dropping out,
    * needed whenever a nullable dimension is a legitimate join key. Keys
    * are nullified ('N' → NULL) so the semantics are exercised for real:
    * a plain equi-join would lose those rows. */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(nullif(col("l_returnflag"), lit("N")).as("flag"), col("l_quantity"))
    val dims = Tables
      .lineitem(spark, dir)
      .select(nullif(col("l_returnflag"), lit("N")).as("flag"))
      .distinct()
      .withColumn("flag_label", coalesce(col("flag"), lit("unflagged")))
    li.join(dims, li("flag") <=> dims("flag"))
      .groupBy(col("flag_label"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy(col("flag_label"))
  }

  /** Time-series gap-fill (q96): hourly event counts on a COMPLETE hour
    * grid — missing hours appear as explicit zeros (downstream reporting
    * and anomaly detection need the gaps, not their absence). The grid is
    * a sequence explode between the corpus min/max hour (two-row
    * aggregate → generate — never a driver loop), cross-joined with the
    * observed event types, left-joined to the actual counts. */
  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = ev
      .agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_start"))
      .crossJoin(ev.select(col("event_type")).distinct())
    grid
      .join(counts, Seq("hour_start", "event_type"), "left")
      .select(col("hour_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Data-quality validation report (q97) — the Deequ/GreatExpectations
    * capability as one constraint-results row per table: row count, key
    * completeness (null keys), key uniqueness (duplicate keys), and a
    * domain constraint, each as an exact violation COUNT plus the pass
    * boolean. The shape every ingest gate runs before publishing a
    * snapshot; one aggregate per table, count-distinct for uniqueness. */
  def dataQualityReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def check(table: String, df: DataFrame, key: String, domainViolations: Column) = {
      val r = df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(key).isNull, 1L).otherwise(0L)).as("n_null_key"),
        (count(col(key)) - countDistinct(col(key))).as("n_dup_key"),
        sum(when(domainViolations, 1L).otherwise(0L)).as("n_domain_violations"))
        .head()
      (table, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0)
    }
    val rows = Seq(
      check("events", Tables.events(spark, dir), "event_id",
        !col("event_type").isin("purchase", "signup", "click", "view", "error")),
      check("orders", Tables.orders(spark, dir), "o_orderkey",
        col("o_totalprice") < 0),
      check("documents", Tables.documents(spark, dir), "doc_id",
        length(col("text")) === 0))
    rows.toDF("table_name", "n_rows", "n_null_key", "n_dup_key",
      "n_domain_violations", "all_pass")
      .orderBy(col("table_name"))
  }

  /** Scalar string-function surface. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        length(col("c_name")).as("name_len"),
        concat_ws(":", col("c_mktsegment"), col("c_name")).as("seg_name"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"))
      .orderBy(col("c_custkey"))

  /** Scalar date-function surface over order dates. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1995-01-01"))).as("days_since"))
      .orderBy(col("o_orderkey"))

  /** Scalar subquery through the spark.sql SQL surface (the reference's
    * Presto role — SURVEY.md §3.3 collapses into spark.sql). */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("graft_events")
    spark.sql(
      """SELECT event_type, COUNT(*) AS n_above
        |FROM graft_events
        |WHERE value > (SELECT MAX(value) * 0.5 FROM graft_events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** TPC-H Q3-style shipping-priority query in raw SQL over temp views —
    * the full parse→analyze→optimize path the reference delegated to
    * Presto. */
  def sqlShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM graft_customer
        |JOIN graft_orders ON c_custkey = o_custkey
        |JOIN graft_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin)
  }

  /** Exact decimal revenue term shared by q160/q161 (the q48/q01
    * discipline: sum in DECIMAL, cast the result to double — identical
    * bits in both engines regardless of aggregation order). */
  private val decimalRevenue =
    expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))" +
      " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)")

  /** Local-supplier volume (q160, the TPC-H Q5 shape) — the classic
    * 6-table star join: revenue per nation from 1995 ASIA orders where
    * the CUSTOMER's and SUPPLIER's nation coincide. The canonical test
    * of join planning: the fact-fact chain (orders⋈lineitem) shuffles on
    * its keys while supplier/nation/region broadcast, and the
    * o_orderdate range reaches the orders scan as a pushed filter
    * (PlanSpec pins both). */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(Tables.orders(spark, dir)
        .filter(expr("o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decimalRevenue.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Returned-item customer ranking (q161, the TPC-H Q10 shape): lost
    * revenue per customer from 'R'-flagged lineitems of Q3-1995 orders,
    * top 20. The returnflag and date predicates are pushed to their
    * scans; nation broadcasts; the cut is TakeOrdered. */
  def returnedCustomerRanking(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      .join(Tables.orders(spark, dir)
        .filter(expr("o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP '1995-10-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(decimalRevenue.as("revenue"),
        expr("CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)").as("acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** As-of (temporal) join: each view event picks up the user's most
    * recent purchase at-or-before it. Spark has no native as-of operator;
    * graft.operators.AsOfJoin composes it with one shuffle + sorted
    * window carry. Oracle: DuckDB's native ASOF LEFT JOIN. */
  def asofViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"))
    graft.operators.AsOfJoin
      .asOf(views, purchases, "user_id", "ts", "ts", Seq("p_event_id", "ts"))
      .orderBy(col("event_id"))
  }

  /** Range (interval) join via graft.operators.RangeJoin: lineitems whose
    * extended price falls in each part's 10×-retail price band. A pure
    * range predicate — Spark's native plan would be a broadcast nested
    * loop (O(|L|·|R|) compares); the binned operator equi-joins on compact
    * bin longs and re-checks exactly. Single-multiply double arithmetic on
    * both engines → bit-identical band membership. */
  def rangeJoinPriceBand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    val parts = Tables.part(spark, dir).select(col("p_partkey"), col("p_retailprice"))
    graft.operators.RangeJoin
      .inner(li, parts,
        value = col("l_extendedprice"),
        lo = col("p_retailprice") * 10,
        hi = col("p_retailprice") * 10 + 50,
        binWidth = 50.0)
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_in_band"))
      .orderBy(col("p_partkey"))
  }

  /** Generator operator (explode): token frequency table — the X1
    * per-record expansion analog as a first-class relational op. */
  def tokenFrequency(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** Wider window-function surface: rank, dense_rank, ntile, first_value
    * over one event-time window per user. */
  def windowMisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        first(col("event_id")).over(w).as("first_event"))
      .orderBy(col("event_id"))
  }

  /** Conversion funnel (q89): of the users who ever signed up, how many
    * made a purchase within one hour of their FIRST signup — the classic
    * event-analytics question over the reference's user-behavior domain
    * (the natural next query after its per-type counts). Scale shape: one
    * per-user aggregate and one equi-join, BOTH keyed on user_id — the
    * corpus shuffles once onto its natural partitioning and stays there;
    * AQE's skew split (ScaleSpec pin) covers whale users. Conversion rate
    * in integer basis points — no float division crosses engines. */
  def conversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_signup"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val perUser = signups
      .join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"))
      .agg(max(
        when(
          col("p_ts").isNotNull &&
            col("p_ts") > col("first_signup") &&
            col("p_ts") <= col("first_signup") + expr("INTERVAL 1 HOUR"),
          1L).otherwise(0L)).as("conv"))
    perUser.agg(
      count(lit(1)).as("n_signup_users"),
      sum(col("conv")).as("n_converted"),
      expr("sum(conv) * 10000 div count(1)").as("conv_bp"))
  }

  /** Sliding windows (q91): hourly counts at 15-minute slide — the
    * overlapping-window aggregation (each event lands in 4 windows; Spark
    * expands map-side then aggregates, so it shuffles 4× the rows, never
    * 4× the data width). Completes the window-assigner family next to
    * tumbling (q22) and session (q23). The oracle replicates the
    * epoch-aligned window math by generating slide marks and
    * range-joining. */
  def slidingQuarterHour(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))

  /** CUBE (q92): all 2² grouping sets over (returnflag, linestatus) —
    * completes the grouping-sets family next to ROLLUP (q19). Same
    * two-phase expanded aggregate; DECIMAL sums keep the measure
    * hash-exact. */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Distribution window functions (q93): percent_rank + cume_dist per
    * event-time ordering within user — the remaining built-ins of the
    * q15/q16/q54 window family. Both are rank ratios (exact integer
    * ratios in double — single divisions, portable). */
  def windowDistributions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("event_id"))
  }

  /** Retention cohorts (q90): the other half of classic event analytics
    * next to the q89 funnel — per first-seen-day cohort, how many users
    * are active again exactly 1 and within 7 days. Same scale shape:
    * everything keys on user_id (first-seen aggregate, distinct active
    * days, one equi-join), then a small per-cohort aggregate. All-integer
    * date arithmetic — fully oracle-portable. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstSeen = ev
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val activeDays = ev
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    firstSeen
      .join(activeDays, Seq("user_id"))
      .withColumn("age", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("age") === 1, col("user_id"))).as("n_day1"),
        countDistinct(when(col("age").between(1, 7), col("user_id"))).as("n_within7"))
      .orderBy(col("cohort_day"))
  }

  // ---------------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q89_conversion_funnel" -> (conversionFunnel _),
    "q90_retention_cohorts" -> (retentionCohorts _),
    "q91_sliding_window" -> (slidingQuarterHour _),
    "q92_cube" -> (cubeCounts _),
    "q93_window_distributions" -> (windowDistributions _),
    "q94_set_ops_all" -> (setOpsAll _),
    "q95_null_safe_join" -> (nullSafeJoin _),
    "q96_gap_fill" -> (gapFillHourly _),
    "q97_data_quality" -> (dataQualityReport _),
    "q01_pricing_summary" -> (pricingSummary _),
    "q02_event_type_agg" -> (eventTypeAgg _),
    "q03_count_all" -> (countAll _),
    "q04_user_event_counts" -> (userEventCounts _),
    "q05_distinct_users" -> (distinctUsers _),
    "q06_head_events" -> (headEvents _),
    "q07_json_extract" -> (jsonExtract _),
    "q08_filter_valid" -> (filterValid _),
    "q09_classify" -> (classify _),
    "q10_join_broadcast" -> (joinBroadcast _),
    "q11_join_shuffle" -> (joinShuffle _),
    "q12_join_chain" -> (joinChain _),
    "q13_semi_join" -> (semiJoin _),
    "q14_anti_join" -> (antiJoin _),
    "q15_window_topk" -> (windowTopK _),
    "q16_window_running" -> (windowRunning _),
    "q17_order_limit" -> (orderLimit _),
    "q18_union" -> (unionEvents _),
    "q19_rollup" -> (rollupCounts _),
    "q20_count_distinct" -> (countDistinctUsers _),
    "q21_having" -> (havingFilter _),
    "q22_tumbling_hourly" -> (tumblingHourly _),
    "q23_sessionize" -> (sessionize _),
    "q24_stream_hourly" -> (streamHourly _),
    "q63_stream_sessions" -> (streamSessions _),
    "q66_stream_interval_join" -> (streamIntervalJoin _),
    "q120_stream_transitions" -> (streamTransitions _),
    "q151_stream_upsert" -> (streamUpsert _),
    "q152_attribution" -> (lastTouchAttribution _),
    "q68_stream_dedup" -> (streamDedup _),
    "q43_pivot" -> (pivotEventTypes _),
    "q44_set_ops" -> (setOps _),
    "q45_string_funcs" -> (stringFuncs _),
    "q46_date_funcs" -> (dateFuncs _),
    "q47_scalar_subquery" -> (scalarSubquery _),
    "q48_sql_shipping_priority" -> (sqlShippingPriority _),
    "q52_asof_join" -> (asofViewPurchase _),
    "q53_token_frequency" -> (tokenFrequency _),
    "q54_window_misc" -> (windowMisc _),
    "q58_range_join" -> (rangeJoinPriceBand _),
    "q160_local_supplier_volume" -> (localSupplierVolume _),
    "q161_returned_customers" -> (returnedCustomerRanking _))

  val oracle: Map[String, String] = Map(
    // q120 shares the q119 oracle: same pair semantics, same matrix.
    "q120_stream_transitions" -> PipelineQueries.TransitionOracleSql,
    // q160/q161: identical DECIMAL revenue folds and date windows.
    "q160_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q161_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acctbal
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // q151: batch last-writer-wins window — the streaming state must
    // land exactly here or the hash diverges.
    "q151_stream_upsert" ->
      """WITH r AS (SELECT user_id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, cents AS last_value_cents
        |FROM r WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    // q152: identical running last-touch (IGNORE NULLS) over the same
    // (µs, event_id) order; window constant interpolated from the engine.
    "q152_attribution" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
         |m AS (SELECT *,
         |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_type,
         |    last_value(CASE WHEN event_type IN ('click', 'view') THEN us END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_us
         |  FROM e)
         |SELECT CASE WHEN touch_us IS NOT NULL AND touch_us >= us - ${AttribWindowUs}
         |    THEN touch_type ELSE 'direct' END AS channel,
         |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
         |  CAST(SUM(cents) AS BIGINT) AS attributed_cents
         |FROM m WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q89_conversion_funnel" ->
      """WITH s AS (SELECT user_id, MIN(ts) AS fs FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT s.user_id,
        |  MAX(CASE WHEN p.ts IS NOT NULL AND p.ts > s.fs AND p.ts <= s.fs + INTERVAL '1 hour'
        |           THEN 1 ELSE 0 END) AS conv
        |  FROM s LEFT JOIN events p ON p.user_id = s.user_id AND p.event_type = 'purchase'
        |  GROUP BY s.user_id)
        |SELECT COUNT(*) AS n_signup_users, CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  CAST(SUM(conv) * 10000 // COUNT(*) AS BIGINT) AS conv_bp FROM c""".stripMargin,
    "q96_gap_fill" ->
      """WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events),
        |g AS (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT g.hour_start, t.event_type, COALESCE(c.n, 0) AS n
        |FROM g CROSS JOIN t
        |LEFT JOIN c ON c.hour_start = g.hour_start AND c.event_type = t.event_type
        |ORDER BY g.hour_start, t.event_type""".stripMargin,
    "q97_data_quality" ->
      """WITH e AS (SELECT 'events' AS table_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_key,
        |  CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS n_dup_key,
        |  CAST(SUM(CASE WHEN event_type NOT IN ('purchase','signup','click','view','error') THEN 1 ELSE 0 END) AS BIGINT) AS n_domain_violations
        |  FROM events),
        |o AS (SELECT 'orders', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders),
        |d AS (SELECT 'documents', COUNT(*),
        |  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT),
        |  CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents),
        |u AS (SELECT * FROM e UNION ALL SELECT * FROM o UNION ALL SELECT * FROM d)
        |SELECT table_name, n_rows, n_null_key, n_dup_key, n_domain_violations,
        |  (n_null_key = 0 AND n_dup_key = 0 AND n_domain_violations = 0) AS all_pass
        |FROM u ORDER BY table_name""".stripMargin,
    "q94_set_ops_all" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |er AS (SELECT user_id FROM events WHERE event_type = 'error'),
        |bag AS (SELECT user_id FROM (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM c)
        |        EXCEPT ALL SELECT user_id FROM er)
        |SELECT user_id, COUNT(*) AS n FROM bag GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q95_null_safe_join" ->
      """WITH li AS (SELECT NULLIF(l_returnflag, 'N') AS flag, l_quantity FROM lineitem),
        |d AS (SELECT DISTINCT NULLIF(l_returnflag, 'N') AS flag FROM lineitem),
        |dd AS (SELECT flag, COALESCE(flag, 'unflagged') AS flag_label FROM d)
        |SELECT dd.flag_label, COUNT(*) AS n,
        |  CAST(SUM(CAST(li.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM li JOIN dd ON li.flag IS NOT DISTINCT FROM dd.flag
        |GROUP BY dd.flag_label ORDER BY dd.flag_label""".stripMargin,
    // Spark's sliding windows are epoch-aligned multiples of the slide;
    // the oracle generates the same 900 s marks and range-joins. Marks are
    // built by naive-timestamp arithmetic (epoch origin + seconds), NOT
    // via to_timestamp: to_timestamp yields TIMESTAMPTZ and casting it to
    // TIMESTAMP applies the DuckDB session timezone, so the oracle would
    // only match on a UTC host.
    "q91_sliding_window" ->
      """WITH b AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events),
        |m AS (SELECT TIMESTAMP '1970-01-01 00:00:00' + to_seconds(e.x * 900) AS win_start
        |  FROM b, (SELECT unnest(range(CAST(floor(epoch(b2.lo)/900) AS BIGINT) - 3,
        |                               CAST(floor(epoch(b2.hi)/900) AS BIGINT) + 1)) AS x
        |            FROM b b2) e)
        |SELECT m.win_start, ev.event_type, COUNT(*) AS n
        |FROM events ev JOIN m ON ev.ts >= m.win_start AND ev.ts < m.win_start + INTERVAL '1 hour'
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q92_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q93_window_distributions" ->
      """SELECT event_id, user_id,
        |  percent_rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cume
        |FROM events ORDER BY event_id""".stripMargin,
    "q90_retention_cohorts" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |j AS (SELECT f.cohort_day, f.user_id, date_diff('day', f.cohort_day, a.day) AS age
        |  FROM f JOIN a ON f.user_id = a.user_id)
        |SELECT cohort_day, COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT CASE WHEN age = 1 THEN user_id END) AS n_day1,
        |  COUNT(DISTINCT CASE WHEN age BETWEEN 1 AND 7 THEN user_id END) AS n_within7
        |FROM j GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_event_type_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q03_count_all" -> "SELECT COUNT(*) AS num_entries FROM events",
    "q04_user_event_counts" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "q05_distinct_users" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q06_head_events" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 10",
    "q07_json_extract" ->
      """SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q08_filter_valid" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('purchase', 'signup') ORDER BY event_id""".stripMargin,
    "q09_classify" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 1
        |            WHEN event_type = 'signup' THEN 2 ELSE 3 END AS event_class,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_class""".stripMargin,
    "q10_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q11_join_shuffle" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q12_join_chain" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q13_semi_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q15_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q16_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_order_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q18_union" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q20_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q21_having" ->
      """SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        |HAVING COUNT(*) > 66 ORDER BY user_id""".stripMargin,
    "q22_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "q23_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q24_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin,
    "q68_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n_distinct_users
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q66_stream_interval_join" ->
      """SELECT p.user_id, COUNT(*) AS n_pairs
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin,
    // Gap semantics note: foldSessionEvent MERGES an event landing exactly
    // at last+gap (t <= last+gap), so the oracle's new-session test is the
    // STRICT >, unlike q23's session_window (right-open, >=).
    "q63_stream_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q43_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q44_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'signup' AND value > 150
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 180
        |ORDER BY user_id""".stripMargin,
    "q45_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix,
        |  length(c_name) AS name_len,
        |  concat_ws(':', c_mktsegment, c_name) AS seg_name,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q46_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  quarter(o_orderdate) AS q, dayofmonth(o_orderdate) AS dom,
        |  date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q47_scalar_subquery" ->
      """SELECT event_type, COUNT(*) AS n_above FROM events
        |WHERE value > (SELECT MAX(value) * 0.5 FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q48_sql_shipping_priority" ->
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,
    "q52_asof_join" ->
      """WITH views AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |purchases AS (
        |  SELECT user_id, ts, MAX(event_id) AS p_event_id FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT v.event_id, v.user_id, v.ts,
        |  p.p_event_id AS asof_p_event_id, p.ts AS asof_ts
        |FROM views v ASOF LEFT JOIN purchases p
        |  ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY event_id""".stripMargin,
    "q53_token_frequency" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(str_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "q54_window_misc" ->
      """SELECT event_id, user_id,
        |  RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        |  NTILE(4) OVER w AS quartile, FIRST_VALUE(event_id) OVER w AS first_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q58_range_join" ->
      """SELECT p_partkey, COUNT(*) AS n_in_band
        |FROM part p JOIN lineitem l
        |  ON l.l_extendedprice >= p.p_retailprice * 10
        | AND l.l_extendedprice < p.p_retailprice * 10 + 50
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin)
}
