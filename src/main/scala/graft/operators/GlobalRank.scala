package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Scalable EXACT global ranking — the range-partitioned two-pass that
  * replaces `row_number() OVER (ORDER BY …)`'s single sorted reducer
  * (round-7 verdict #2/#8: q168's three user-frame ranks and q185's Gini
  * rank were the suite's last unpartitioned windows over an unbounded
  * frame; this operator generalizes the q144/q59 PrefixSum discipline
  * into a reusable primitive).
  *
  * Mechanics:
  *   1. `repartitionByRange` on the full ordering key — Spark samples the
  *      key distribution and picks balanced boundaries, so no shard
  *      inherits a whole skewed partition; ordering ties land in the same
  *      shard by construction (RangePartitioner routes by key compare).
  *   2. A block-local `row_number` per shard — `spark_partition_id()` is
  *      the shard key, and because range partition i holds strictly
  *      smaller keys than partition i+1 (AQE does not reorder or split a
  *      user-specified range exchange with an explicit partition count),
  *      shard-id order IS key order.
  *   3. Each shard's row count is a metadata frame (≤ `shards` rows); a
  *      running sum over it (trivially small window) yields per-shard
  *      offsets, broadcast back and added to the local rank.
  *
  * The result is bit-identical to the serial window — ScaleSpec asserts
  * equality — but the big sort runs `shards`-wide in parallel and no
  * executor ever materializes more than ~1/shards of the frame.
  *
  * REQUIREMENT: `order` must be a TOTAL order (include a unique
  * tiebreaker column) — equal full keys would make block-local ranks
  * nondeterministic across retries.
  *
  * EAGER: `rowNumber`, `prefixMax` and `prefixSums` (and `prefixSum`,
  * which calls it) are not lazy plan builders. Each call persists its
  * range-partitioned input (MEMORY_AND_DISK) and runs Spark jobs on the
  * driver to collect the per-shard offsets before it returns the frame.
  * A caller that only builds or explains the plan still pays those jobs,
  * and the persisted frame stays registered until the caller unpersists
  * it or the session ends.
  */
object GlobalRank {

  /** Default shard count = the session's shuffle parallelism. Parsed
    * defensively: deployments that set `spark.sql.shuffle.partitions` to a
    * non-numeric value (e.g. "auto" under an AQE coordinator) must fall
    * back to 200, not throw NumberFormatException out of a rank. */
  private def defaultShards(df: DataFrame): Int =
    scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      .toOption.filter(_ > 0).getOrElse(200)

  /** The collected per-shard carries below are longs: reject a value
    * column that is not integral before any job runs, instead of failing
    * in `Row.getLong` on the collected shard aggregates. */
  private def requireIntegral(df: DataFrame, v: Column, op: String): Unit = {
    val t = df.select(v).schema.head.dataType
    require(t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"GlobalRank.$op: value column $v must be an integral type, got ${t.sql}")
  }

  /** Adds `outCol` = row_number() over (ORDER BY `order`…), computed with
    * a `shards`-way range exchange instead of a single-partition sort. */
  def rowNumber(df: DataFrame, order: Seq[Column], outCol: String,
      shards: Int = 0): DataFrame = {
    val n =
      if (shards > 0) shards
      else defaultShards(df)
    val pid = "__gr_pid"
    val lrk = "__gr_lrk"
    val cnt = "__gr_cnt"
    val off = "__gr_off"
    // PERSIST is load-bearing, not an optimization: the sharded frame has
    // two consumers (block-local ranks, per-shard offsets). Un-persisted,
    // each consumer re-executes the range exchange as a SEPARATE shuffle
    // whose sampled boundaries depend on the RDD id (RangePartitioner
    // seeds its reservoir sample with it) — under heavy ordering-key ties
    // the two executions can draw DIFFERENT boundaries, and offsets
    // computed against one sharding join local ranks computed against
    // another (observed at sf0.1: 1344/1500 tied recency keys → whole
    // shards scored one quintile off, nondeterministically per run). One
    // materialized sharding makes both consumers see the same boundaries;
    // the result is then the exact serial rank regardless of which
    // boundaries the sample drew.
    val parted = df.repartitionByRange(n, order: _*)
      .withColumn(pid, spark_partition_id().cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // DRIVER-SIDE offsets (r14, guide §1.1/§5): the offsets frame is
    // ≤ `n` metadata rows, but as a lazy second consumer of `parted` it
    // made the final plan carry two independent AQE stages over the
    // un-populated cache — their tasks RACED on cache population (one
    // task computes each partition, every other blocks on the
    // BlockInfoManager lock; measured: q226/q301/q311 carried 7–15 s of
    // aggregate task run at <25% CPU for <2 s of wall), plus a
    // single-partition WindowExec over the metadata frame per call.
    // Collecting the per-shard counts instead (a) materializes the cache
    // in the one pass that was already needed, (b) leaves the final plan
    // with exactly ONE consumer of `parted`, and (c) computes the
    // running offsets on ≤ `n` driver rows — the same rows the broadcast
    // already shipped. Boundary consistency is now pinned by
    // materialization order, not cache-population timing.
    val counts = parted.groupBy(col(pid)).agg(count(lit(1)).as(cnt))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var running = 0L
    val offRows = counts.map { case (p, c) => val o = running; running += c; (p, o) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF(pid, off)
    // Window.partitionBy(pid) re-shuffles by pid hash, but each shard
    // moves as ONE block to one reducer — the per-shard sort is the same
    // work the serial window would have done on 1/n of the data.
    val local = parted.withColumn(lrk,
      row_number().over(Window.partitionBy(col(pid)).orderBy(order: _*)).cast("long"))
    local.join(broadcast(offsets), pid)
      .withColumn(outCol, col(off) + col(lrk))
      .drop(pid, lrk, off)
  }

  /** Adds `outCol` = max(`valCol`) over (ORDER BY `orderCol` RANGE BETWEEN
    * UNBOUNDED PRECEDING AND -1) — the running prefix-max over STRICTLY
    * smaller order values — computed with the same range-sharded two-pass
    * as [[rowNumber]] (PrefixSum generalized from sum to max; round-8
    * verdict #1: q207's skyline dominance test was the suite's last
    * unpartitioned running window over a data-scaling frame).
    *
    * Decomposition: ties colocate under `repartitionByRange` (the
    * RangePartitioner routes by key compare, so equal keys share a
    * shard), hence every strictly-smaller row is either in the same shard
    * (covered by the block-local RANGE window) or in an earlier shard
    * (covered by the broadcast running max of whole-shard maxima, which
    * by the range invariant holds only strictly-smaller keys). `greatest`
    * merges the two, staying NULL only when no strictly-smaller row
    * exists anywhere (SQL max-over-empty-frame semantics).
    *
    * `inclusiveOut` (optional) additionally emits the INCLUSIVE prefix
    * max (RANGE ≤ 0 — order-value peers and self included) from the same
    * sort: both frames share one window spec, so Spark evaluates them in
    * a single WindowExec with no extra exchange.
    *
    * REQUIREMENT: `orderCol` must be numeric (RANGE frame arithmetic);
    * `valCol` must be integral (IllegalArgumentException otherwise). */
  def prefixMax(df: DataFrame, orderCol: Column, valCol: Column, outCol: String,
      inclusiveOut: String = null, shards: Int = 0): DataFrame = {
    requireIntegral(df, valCol, "prefixMax")
    val n =
      if (shards > 0) shards
      else defaultShards(df)
    val pid = "__gm_pid"
    val locS = "__gm_loc_strict"
    val locI = "__gm_loc_incl"
    val mx = "__gm_shard_max"
    val off = "__gm_off"
    // Same load-bearing persist as [[rowNumber]]: local window and shard
    // maxima must read ONE materialized sharding, or tied order values
    // can land either side of independently-sampled boundaries.
    val parted = df.repartitionByRange(n, orderCol)
      .withColumn(pid, spark_partition_id().cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wStrict = Window.partitionBy(col(pid)).orderBy(orderCol)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.partitionBy(col(pid)).orderBy(orderCol)
      .rangeBetween(Window.unboundedPreceding, 0)
    val localStrict = parted.withColumn(locS, max(valCol).over(wStrict))
    val local =
      if (inclusiveOut == null) localStrict
      else localStrict.withColumn(locI, max(valCol).over(wIncl))
    // Whole-shard maxima are a ≤`n`-row metadata frame; the EXCLUSIVE
    // running max over shard order is each shard's carry-in — computed
    // DRIVER-SIDE from a collect (r14): materializes the cache in the
    // one pass already needed and leaves the final plan with one
    // consumer of `parted` — see [[rowNumber]]. The max keeps valCol's
    // integral type, so it is read through Number; a shard whose valCol
    // is all-NULL carries no maximum (None), matching SQL
    // max-over-empty semantics.
    val maxima = parted.groupBy(col(pid)).agg(max(valCol).as(mx))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getAs[Number](1).longValue)))
      .sortBy(_._1)
    var runMax: Option[Long] = None
    val offRows = maxima.map { case (p, m) =>
      val o = runMax
      runMax = (runMax, m) match {
        case (Some(a), Some(b)) => Some(math.max(a, b))
        case (a, b) => a.orElse(b)
      }
      (p, o)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq
      .map { case (p, o) => (p, o.map(java.lang.Long.valueOf).orNull) }
      .toDF(pid, off)
    val merged = local.join(broadcast(offsets), pid)
      .withColumn(outCol, greatest(col(locS), col(off)))
    val out =
      if (inclusiveOut == null) merged
      else merged.withColumn(inclusiveOut, greatest(col(locI), col(off)))
    out.drop(pid, locS, locI, off)
  }

  /** Adds `outCol` = sum(`valCol`) over (ORDER BY `order`… ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING) — the EXCLUSIVE running sum over
    * a total order (0 for the first row) — computed with the same
    * range-sharded two-pass as [[rowNumber]]. This is the GLOBAL-order
    * complement of [[PrefixSum.runningSum]]: that primitive shards a
    * partitioned running sum over a caller-supplied monotone bucket key
    * whose count grows with the frame; here the sampled range exchange
    * keeps the offset frame ≤ `shards` rows at ANY corpus size, which is
    * what a corpus-wide order (e.g. the GPT-style concat-and-chunk token
    * offset) needs.
    *
    * Decomposition: block-local exclusive ROWS sums per range shard, plus
    * the exclusive running sum of whole-shard totals (a ≤`shards`-row
    * metadata window) broadcast back as each shard's carry-in.
    *
    * REQUIREMENT: `order` must be a TOTAL order (include a unique
    * tiebreaker) — a ROWS frame over tied keys is otherwise
    * nondeterministic across retries. */
  def prefixSum(df: DataFrame, order: Seq[Column], valCol: Column,
      outCol: String, shards: Int = 0): DataFrame =
    prefixSums(df, order, Seq(valCol -> outCol), shards)

  /** [[prefixSum]] for SEVERAL value columns over ONE total order — e.g.
    * q226's two running CDFs over the same cents axis. All columns share
    * one sampled range exchange, one persisted sharding, and one
    * WindowExec (every local frame uses the same window spec, so Spark
    * evaluates them in a single pass); the per-shard totals for every
    * column ride the same ≤`shards`-row metadata aggregate and one
    * broadcast join carries every carry-in back. N columns through
    * separate [[prefixSum]] calls would pay N range exchanges and N
    * persists for the same answer. Every value column must be integral
    * (IllegalArgumentException otherwise). */
  def prefixSums(df: DataFrame, order: Seq[Column],
      valCols: Seq[(Column, String)], shards: Int = 0): DataFrame = {
    valCols.foreach { case (v, _) => requireIntegral(df, v, "prefixSums") }
    val n =
      if (shards > 0) shards
      else defaultShards(df)
    val pid = "__gs_pid"
    def loc(i: Int) = s"__gs_loc$i"
    def tot(i: Int) = s"__gs_shard_sum$i"
    def off(i: Int) = s"__gs_off$i"
    // Same load-bearing persist as [[rowNumber]]: block-local sums and
    // shard totals must read ONE materialized sharding, or independently
    // sampled boundaries could route rows to different shards per consumer.
    val parted = df.repartitionByRange(n, order: _*)
      .withColumn(pid, spark_partition_id().cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col(pid)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = valCols.zipWithIndex.foldLeft(parted) {
      case (acc, ((v, _), i)) =>
        acc.withColumn(loc(i), coalesce(sum(v).over(w), lit(0L)))
    }
    // Per-shard totals → DRIVER-SIDE exclusive running sums (r14): the
    // collect materializes the cache in the one pass already needed,
    // leaves the final plan with one consumer of `parted`, and drops the
    // single-partition metadata WindowExec — see [[rowNumber]]. Values
    // ride the repo's integer (LongType) discipline; an all-NULL shard
    // total contributes 0, matching the SQL running sum's null-skip.
    val totExprs = valCols.zipWithIndex.map { case ((v, _), i) => sum(v).as(tot(i)) }
    val totals = parted.groupBy(col(pid)).agg(totExprs.head, totExprs.tail: _*)
      .collect()
      .map(r => (r.getLong(0), valCols.indices.map(i =>
        if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)).toArray))
      .sortBy(_._1)
    val running = Array.fill(valCols.size)(0L)
    val offRows = totals.map { case (p, ts) =>
      val o = running.clone()
      valCols.indices.foreach(i => running(i) += ts(i))
      org.apache.spark.sql.Row.fromSeq(p +: o.toSeq)
    }
    val spark = df.sparkSession
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(pid, org.apache.spark.sql.types.LongType,
        nullable = false) +:
        valCols.indices.map(i => org.apache.spark.sql.types.StructField(off(i),
          org.apache.spark.sql.types.LongType, nullable = false)))
    val carried = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val out = valCols.zipWithIndex.foldLeft(
      local.join(broadcast(carried), pid)) {
      case (acc, ((_, name), i)) =>
        acc.withColumn(name, col(off(i)) + col(loc(i)))
    }
    out.drop(pid +: valCols.indices.flatMap(i => Seq(loc(i), off(i))): _*)
  }
}
