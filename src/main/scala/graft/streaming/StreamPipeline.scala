package graft.streaming

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{classic, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.{Filters, Parse}

/** The reference's streaming ETL (SURVEY.md §3.2), fixed and extended.
  *
  * Reference shape: Kafka → filter(Python UDF) → from_json → flatten →
  * parquet sink @10 s trigger (README.md:372–421). Fixed here: single JSON
  * parse, native filter, one source feeding all sinks via foreachBatch
  * (the reference re-reads Kafka per sink and deadlocks on sequential
  * awaitTermination — SURVEY.md §0.2).
  *
  * Extensions (§7.4): event-time watermarks, tumbling/session windows,
  * streaming dedup — all absent in the reference (it is purely stateless)
  * but required for a pipeline that aggregates at 100 TB.
  */
object StreamPipeline {

  /** Kafka-frame stream → flattened valid_events stream (Gen-2 semantics:
    * keep sword/guild, drop default/malformed). */
  def extractValidEvents(kafkaFrame: DataFrame): DataFrame =
    Parse.extractEvents(kafkaFrame).filter(Filters.isValidEvent)

  /** [[extractValidEvents]] with pipeline-health metrics riding the plan:
    * parsed / valid / malformed counts accumulate DURING the pass (no
    * second scan of the stream) and surface per micro-batch in
    * `StreamingQueryProgress.observedMetrics("graft_etl")` — the drop-rate
    * signal an unattended 100 TB/day ingest needs to page on. Works
    * identically on batch frames via `Observation`. */
  def extractValidEventsObserved(kafkaFrame: DataFrame): DataFrame =
    Parse
      .extractEvents(kafkaFrame)
      .observe(
        "graft_etl",
        count(lit(1)).as("n_parsed"),
        sum(when(Filters.isValidEvent, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_malformed"))
      .filter(Filters.isValidEvent)

  /** The demux routes: classifier value → output directory under `baseDir`. */
  private val Routes = Seq(1 -> "sword_purchases", 2 -> "guild_joins", 3 -> "default_events")

  /** Daemon threads for [[writeRoutedBatch]], one per route. Each route
    * write is a separate Spark job (a one-task job for a one-file
    * micro-batch) with its own commit; run one after another they leave
    * the host's other cores idle between jobs. */
  private lazy val routeWritePool: ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(Routes.size, (r: Runnable) => {
      val t = new Thread(r, s"graft-route-write-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** The route writes of one micro-batch, keyed by batch id: each route's
    * output is partitioned by `batch_id` and written with DYNAMIC
    * partition overwrite, so a replayed micro-batch (failure/restart
    * re-delivers the same batchId from the checkpoint) replaces its own
    * partition instead of appending a duplicate — foreachBatch's
    * idempotence contract, the property the single-sink path gets for
    * free from the FileStreamSink manifest. A route with no rows writes no
    * files. Exposed for the replay test.
    *
    * The three writes run CONCURRENTLY over one persisted `routed` frame:
    * the first task to reach a partition computes it into the cache (so
    * observed metrics on `batch`, e.g. `graft_etl`, count each row once)
    * and the other writes read it. Each write is submitted through
    * `SQLExecution.withThreadLocalCaptured`, which carries the calling
    * thread's local properties onto the pool thread — the stream's job
    * group and tags (so `query.stop()` still cancels the writes), the SQL
    * execution and conf, and the active session. The caller waits for ALL
    * writes, failed or not, before unpersisting `routed`, then rethrows
    * the first failing route's exception (in route order) unwrapped. */
  def writeRoutedBatch(batch: DataFrame, batchId: Long, baseDir: String,
      classify: Column): Unit = {
    val routed = batch.withColumn("route", classify).persist()
    val session = batch.sparkSession.asInstanceOf[classic.SparkSession]
    try {
      val writes = Routes.map { case (k, name) =>
        SQLExecution.withThreadLocalCaptured(session, routeWritePool) {
          routed.filter(col("route") === k).drop("route")
            // A string literal is a reference in generated code, where a
            // long would be inlined and recompiled for every batch id; the
            // directory name (`batch_id=N`) and its inferred type are the same.
            .withColumn("batch_id", lit(batchId.toString))
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$baseDir/$name")
        }
      }
      // allOf completes only once every write has finished; join, unlike
      // get, is not cut short by an interrupt — query.stop() cancels the
      // captured job group first, so the writes end promptly, and none is
      // still reading `routed` when the finally unpersists it.
      try CompletableFuture.allOf(writes: _*).join()
      catch { case _: CompletionException => () }
      writes.foreach { w =>
        try w.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally { routed.unpersist(); () }
  }

  /** The reference's 3-way demux (rpg_spark_stream.py:60–145) done right:
    * ONE source, one micro-batch loop, three filtered parquet writes per
    * batch, run concurrently by [[writeRoutedBatch]] — instead of three
    * Kafka re-reads and blocking awaits. The query's one stream thread
    * waits for all three writes of a batch before committing it, and a
    * failed write fails the batch. The classifier defaults to the Gen-1
    * vocabulary the reference demuxes; pass
    * `Filters.classifyEventGen2(...)` for streams coming out of
    * [[extractValidEvents]] (Gen-2 types). */
  def demuxToParquet(parsed: DataFrame, baseDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      classify: Column = Filters.classifyEvent(col("event_type"))): StreamingQuery =
    parsed.writeStream
      .option("checkpointLocation", s"$baseDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeRoutedBatch(batch, batchId, baseDir, classify)
      }
      .start()

  /** Windowed event counts with a watermark: append-mode-safe aggregation —
    * state is bounded by the watermark horizon, the property that keeps
    * per-executor state finite on an unbounded 100 TB/day stream. */
  def windowedCounts(events: DataFrame, tsCol: String = "event_time",
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per host with a gap timeout (streaming sessionization). */
  def sessionCounts(events: DataFrame, keyCol: String = "Host",
      tsCol: String = "event_time", gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col(keyCol),
        col("n_events"))

  /** Streaming dedup within the watermark horizon: exactly-once per key
    * for late/replayed events without unbounded state. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "event_time", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: a streaming fact joined to a broadcast dim.
    * The dim is re-resolved per micro-batch (picks up slowly-changing
    * dimensions) and never shuffles the stream side. */
  def enrich(stream: DataFrame, dim: DataFrame, joinCond: org.apache.spark.sql.Column,
      how: String = "left"): DataFrame =
    stream.join(broadcast(dim), joinCond, how)

  /** Stream-stream interval join: right events within [left.ts - window,
    * left.ts]. Both sides carry watermarks so the join state expires —
    * the bounded-state requirement for joining two unbounded streams. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightTsCol: String,
      window: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(
      r,
      l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $window") &&
        r(rightTsCol) <= l(leftTsCol))
  }

  /** A closed session emitted by the custom stateful sessionizer. */
  case class SessionOut(host: String, session_start: java.sql.Timestamp, n_events: Long)

  /** Per-key last-seen event (state for [[transitionPairs]]): enough to
    * chain the next arrival into a (from → to) pair across micro-batches. */
  case class LastEvent(us: Long, eid: Long, typ: String)

  /** One consecutive-event transition emitted by [[transitionPairs]]. */
  case class TransitionOut(from_type: String, to_type: String)

  /** Ingest-time user-journey transitions — the streaming twin of the
    * batch lead()-window formulation (q119): per user, each arriving
    * event pairs with the PREVIOUS one (state = that user's last event,
    * a constant few bytes per key) and the (from_type, to_type) edge
    * emits immediately, so a downstream counter maintains the live
    * transition matrix without ever replaying history.
    *
    * Ordering contract: within a micro-batch the group's rows are sorted
    * by (event time micros, event_id); ACROSS batches arrivals must be
    * per-key in order — exactly the delivery guarantee a user_id-keyed
    * Kafka topic provides (per-partition order), and the q100 ingest
    * shape this operator composes with. An out-of-order cross-batch
    * straggler would need a watermark-delayed buffer (list state +
    * event-time timers) — deliberately not paid here, matching the
    * reference pipeline's in-order consumption (filter_swords_stream
    * .py:47-52 reads one ordered topic). */
  def transitionPairs(spark: SparkSession, events: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts"): org.apache.spark.sql.Dataset[TransitionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    events
      .select(col(keyCol).cast("long").as("u"), col("event_id").as("eid"),
        col(tsCol).as("t"), col("event_type").as("et"))
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
            state: GroupState[LastEvent]) => {
          val sorted = rows.map(r => (microsOf(r._3), r._2, r._4)).toArray
            .sortBy(r => (r._1, r._2))
          var last = state.getOption
          val out = Vector.newBuilder[TransitionOut]
          sorted.foreach { case (us, eid, typ) =>
            last.foreach(l => out += TransitionOut(l.typ, typ))
            last = Some(LastEvent(us, eid, typ))
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  /** Rolling context state for [[behaviorExamples]]: the key's last K
    * event types, oldest first — constant bytes per user. */
  case class BehaviorCtx(types: Vector[String])
  case class BehaviorOut(target_event: String, user_id: Long,
      ctx: String, value: Option[Double])

  /** Ingest-time behavior-example assembly — the streaming twin of the
    * batch lag-window dataset builder (q266): per-user state holds the
    * last `k` event types (a constant few bytes per key, the
    * [[transitionPairs]] state discipline generalized from 1 to k), and
    * each arrival with a full context emits one (context → target)
    * training example the moment it lands — an online dataset builder
    * whose cumulative sink equals the batch formulation row-for-row.
    * Same per-key ordering contract as [[transitionPairs]]: in-batch
    * rows sort by (event-time µs, event_id); cross-batch order is the
    * keyed topic's per-partition guarantee. */
  def behaviorExamples(spark: SparkSession, events: DataFrame, k: Int,
      keyCol: String = "user_id", tsCol: String = "ts")
      : org.apache.spark.sql.Dataset[BehaviorOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    events
      .select(col(keyCol).cast("long").as("u"), col("event_id").as("eid"),
        col(tsCol).as("t"), col("event_type").as("et"), col("value").as("v"))
      .as[(Long, Long, java.sql.Timestamp, String, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (u: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String, Option[Double])],
            state: GroupState[BehaviorCtx]) => {
          val sorted = rows.map(r => (microsOf(r._3), r._2, r._4, r._5)).toArray
            .sortBy(r => (r._1, r._2))
          var ctx = state.getOption.map(_.types).getOrElse(Vector.empty)
          val out = Vector.newBuilder[BehaviorOut]
          sorted.foreach { case (_, _, typ, v) =>
            if (ctx.length == k) out += BehaviorOut(typ, u, ctx.mkString(" "), v)
            ctx = (ctx :+ typ).takeRight(k)
          }
          state.update(BehaviorCtx(ctx))
          out.result().iterator
        })
  }

  /** Latest-record CDC state for [[upsertLatest]]: the max-(us, eid)
    * version seen so far for one key. */
  case class UpsertState(us: Long, eid: Long, typ: String, cents: Long, centsNull: Boolean)
  case class UpsertOut(user_id: Long, us: Long, eid: Long,
      last_type: String, last_value_cents: Long, cents_null: Boolean)

  /** Streaming last-writer-wins upsert apply (q151) — the CDC
    * change-apply every keyed serving table runs at ingest: per key the
    * state holds the latest version (total order (event-time µs,
    * event_id) — the tie-break a keyed CDC topic's offset provides), and
    * after each micro-batch's arrivals the key emits its CURRENT latest
    * record (Update-style change feed). The sink therefore carries one
    * row per (key, batch-with-arrivals) — versions, not events — and the
    * serving view is the max-version row per key, with tombstoned keys
    * (latest type 'error' — the account-deletion event) dropped.
    *
    * Scale shape: state is one small record per key (RocksDB-backed);
    * the only shuffle is the user_id Exchange the state store already
    * requires; emissions are key-count-sized per batch, never
    * event-sized. */
  def upsertLatest(spark: SparkSession, events: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts"): org.apache.spark.sql.Dataset[UpsertOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    events
      .select(col(keyCol).cast("long").as("u"), col("event_id").as("eid"),
        col(tsCol).as("t"), col("event_type").as("et"),
        expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      .as[(Long, Long, java.sql.Timestamp, String, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String, Option[Long])],
            state: GroupState[UpsertState]) => {
          var cur = state.getOption
          rows.foreach { case (_, eid, t, et, cents) =>
            val us = microsOf(t)
            if (cur.forall(c => us > c.us || (us == c.us && eid > c.eid)))
              cur = Some(UpsertState(us, eid, et, cents.getOrElse(0L), cents.isEmpty))
          }
          cur match {
            case Some(c) =>
              state.update(c)
              Iterator.single(UpsertOut(k, c.us, c.eid, c.typ, c.cents, c.centsNull))
            case None => Iterator.empty
          }
        })
  }

  /** Mutable per-key session accumulator (stored in the state store).
    * Times are epoch MICROSECONDS — Spark's native timestamp precision;
    * quantizing to Timestamp.getTime millis would shift session starts
    * (and, at the gap boundary, session membership) relative to any
    * micro-precision batch twin. */
  case class SessionAcc(start: Long, last: Long, n: Long)

  /** java.sql.Timestamp → epoch micros (getTime is millis; the nanos field
    * carries the full fractional second). */
  private[graft] def microsOf(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Epoch micros → java.sql.Timestamp, micros preserved. */
  private[graft] def tsOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Event-time timer arm point for a session (ms, ceil): fires only once
    * the watermark is at/after last+gap at micro precision. */
  private def timerMsFor(lastUs: Long, gapUs: Long): Long =
    math.floorDiv(lastUs + gapUs + 999L, 1000L)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * arbitrary-state API for semantics session_window can't express
    * (per-key accumulators, custom timeout actions). State is bounded by
    * the event-time timeout: a key's state is dropped (and its open
    * session emitted) once the watermark passes last+gap, which is what
    * keeps the state store finite on an unbounded stream. */
  def statefulSessionize(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String = "Host",
      tsCol: String = "event_time",
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("t"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (host: String, rows: Iterator[(String, java.sql.Timestamp)], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val a = state.get
            state.remove()
            Iterator.single(SessionOut(host, tsOfMicros(a.start), a.n))
          } else {
            val times = rows.map(r => microsOf(r._2)).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            var acc = state.getOption
            times.foreach { t =>
              acc = foldSessionEvent(acc, t, gapUs, closed)
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(timerMsFor(a.last, gapUs))
            }
            closed.iterator.map { case (start, n) => SessionOut(host, tsOfMicros(start), n) }
          })
  }

  /** One event folded into the per-key session state — shared by BOTH
    * arbitrary-state sessionizers so their semantics cannot drift.
    * Closed sessions append as raw (session_start, n_events) pairs; pure
    * arithmetic, TIME-UNIT AGNOSTIC (callers pass t and gap in the same
    * unit — the streaming paths use micros).
    *
    * Late (out-of-order ACROSS micro-batches) events are handled by
    * interval merge, not by overwriting `last`: an event inside
    * [start - gap, last + gap] extends the session on BOTH ends
    * (start=min, last=max), so a late arrival can never rewind the
    * session horizon and cause a premature timer close. An event after
    * last + gap closes the current session; an event before start - gap
    * is its own already-quiet session, emitted immediately. */
  private[graft] def foldSessionEvent(
      acc: Option[SessionAcc],
      t: Long,
      gap: Long,
      closed: scala.collection.mutable.ArrayBuffer[(Long, Long)]): Option[SessionAcc] =
    acc match {
      case Some(a) if t >= a.start - gap && t <= a.last + gap =>
        Some(a.copy(start = math.min(a.start, t), last = math.max(a.last, t), n = a.n + 1))
      case Some(a) if t > a.last + gap =>
        closed += ((a.start, a.n))
        Some(SessionAcc(t, t, 1))
      case Some(_) => // t < start - gap: a stale stand-alone session
        closed += ((t, 1L))
        acc
      case None => Some(SessionAcc(t, t, 1))
    }

  /** Sessionizer as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the transformWithState API that supersedes flatMapGroupsWithState
    * in Spark 4: typed composable state (value/list/map), explicit
    * event-time TIMERS instead of a single per-key timeout, TTL support,
    * and it runs only on the RocksDB state store (the backend that scales
    * past executor heap). Semantics are identical to
    * [[statefulSessionize]]: sessions close on a `gapMs` quiet period,
    * open sessions flush when the watermark passes last+gap. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp), SessionOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var acc: ValueState[SessionAcc] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SessionAcc](
        "session", Encoders.product[SessionAcc], TTLConfig.NONE)
    private def gapUs: Long = gapMs * 1000L
    override def handleInputRows(
        host: String,
        rows: Iterator[(String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val times = rows.map(r => microsOf(r._2)).toArray.sorted
      val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var a: Option[SessionAcc] = if (acc.exists()) Some(acc.get()) else None
      times.foreach { t =>
        a = foldSessionEvent(a, t, gapUs, closed)
      }
      a.foreach { s =>
        acc.update(s)
        // One live timer per key: re-arm at the new session horizon.
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerMsFor(s.last, gapUs))
      }
      closed.iterator.map { case (start, n) => SessionOut(host, tsOfMicros(start), n) }
    }
    override def handleExpiredTimer(
        host: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] =
      // Stale-timer guard (ms timer vs µs state): a re-armed session's
      // current horizon timer is timerMsFor(last, gap); anything earlier
      // is from a superseded horizon.
      if (acc.exists() &&
        expiredTimerInfo.getExpiryTimeInMs >= timerMsFor(acc.get().last, gapUs)) {
        val s = acc.get()
        acc.clear()
        Iterator.single(SessionOut(host, tsOfMicros(s.start), s.n))
      } else Iterator.empty
  }

  /** [[statefulSessionize]] re-expressed on transformWithState (see
    * [[SessionProcessor]]). Requires the RocksDB state store provider. */
  def sessionizeTws(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String = "Host",
      tsCol: String = "event_time",
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("t"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(
        new SessionProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run any streaming DataFrame to completion against bounded input and
    * return the result (AvailableNow + memory sink). Test/verify harness
    * for streaming plans. */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    runBounded(stream.writeStream.format("memory").queryName(name).outputMode(outputMode))
    spark.table(name)
  }

  /** Run `stream` to completion against bounded input (AvailableNow),
    * calling `f` with each micro-batch and its id; the query checkpoints
    * under `checkpoint`, so a rerun resumes after its last committed
    * batch. */
  def runEachBatch(stream: DataFrame, checkpoint: String)(f: (DataFrame, Long) => Unit): Unit =
    runBounded(stream.writeStream.option("checkpointLocation", checkpoint).foreachBatch(f))

  /** Start `writer` with the AvailableNow trigger and block until it has
    * drained its input, recording its startup in [[graft.StreamLog]]. */
  private def runBounded(writer: DataStreamWriter[Row]): Unit = {
    val t0 = System.currentTimeMillis()
    graft.StreamLog.await(t0, writer.trigger(Trigger.AvailableNow()).start())
  }
}
