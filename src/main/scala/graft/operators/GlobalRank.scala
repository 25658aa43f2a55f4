package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Scalable EXACT global ranking — the range-partitioned two-pass that
  * replaces `row_number() OVER (ORDER BY …)`'s single sorted reducer
  * (round-7 verdict #2/#8: q168's three user-frame ranks and q185's Gini
  * rank were the suite's last unpartitioned windows over an unbounded
  * frame; this operator generalizes the q144/q59 PrefixSum discipline
  * into a reusable primitive). `rowNumber`, `prefixMax` and `prefixSums`
  * are the same scan with different per-shard totals, block-local
  * windows and carries.
  *
  * Mechanics:
  *   1. `repartitionByRange` on the full ordering key — Spark samples the
  *      key distribution and picks balanced boundaries, so no shard
  *      inherits a whole skewed partition; ordering ties land in the same
  *      shard by construction (RangePartitioner routes by key compare).
  *   2. A block-local window per shard — `spark_partition_id()` is the
  *      shard key, and because range partition i holds strictly smaller
  *      keys than partition i+1 (AQE does not reorder or split a
  *      user-specified range exchange with an explicit partition count),
  *      shard-id order IS key order. `Window.partitionBy(pid)` re-shuffles
  *      by pid hash, but each shard moves as ONE block to one reducer.
  *   3. Each shard's total (row count, sum or max) is a ≤ `shards`-row
  *      metadata frame; its exclusive running sum or max over shard order
  *      is each shard's carry-in, broadcast back and merged into the local
  *      value (`+` or `greatest`).
  *
  * The result is bit-identical to the serial window — ScaleSpec asserts
  * equality — but the big sort runs `shards`-wide in parallel and no
  * executor ever materializes more than ~1/shards of the frame.
  *
  * The PERSIST of the sharded frame is load-bearing, not an optimization:
  * the frame has two consumers (block-local windows, per-shard totals).
  * Un-persisted, each consumer re-executes the range exchange as a
  * SEPARATE shuffle whose sampled boundaries depend on the RDD id
  * (RangePartitioner seeds its reservoir sample with it) — under heavy
  * ordering-key ties the two executions can draw DIFFERENT boundaries,
  * and carries computed against one sharding join local values computed
  * against another (observed at sf0.1: 1344/1500 tied recency keys →
  * whole shards scored one quintile off, nondeterministically per run).
  *
  * The carries are computed on the DRIVER from one collect (r14): as a
  * lazy second consumer of the persisted frame, the metadata frame made
  * the final plan carry two independent AQE stages over the unpopulated
  * cache, whose tasks RACED on cache population (measured: q226/q301/q311
  * carried 7–15 s of aggregate task run at <25% CPU for <2 s of wall),
  * plus a single-partition WindowExec per call. The collect materializes
  * the cache in the one pass that was already needed, leaves the final
  * plan ONE consumer of the sharded frame, and folds ≤ `shards` rows.
  *
  * EAGER: these are not lazy plan builders. Each call persists its
  * range-partitioned input (MEMORY_AND_DISK) and runs Spark jobs on the
  * driver to collect the per-shard totals before it returns the frame.
  * A caller that only builds or explains the plan still pays those jobs,
  * and the persisted frame stays registered until the caller unpersists
  * it or the session ends.
  *
  * Carried values are longs: value columns must be integral
  * (IllegalArgumentException before any job otherwise). `shards` ≤ 0
  * means the session's shuffle width. */
object GlobalRank {

  /** One output column of [[scan]]: `total` aggregates a whole shard,
    * `local` is the block-local window given the pid-partitioned, ordered
    * spec, and the carry is a running sum (NULL totals add 0, merged with
    * `+`) or a running max (NULL totals add nothing, merged with
    * `greatest`). */
  private final case class Out(name: String, total: Column,
      local: WindowSpec => Column, runningSum: Boolean)

  private def scan(df: DataFrame, order: Seq[Column], shards: Int, tag: String,
      outs: Seq[Out]): DataFrame = {
    val n = if (shards > 0) shards else Tables.shuffleWidth(df.sparkSession)
    val pid = s"__${tag}_pid"
    def loc(i: Int) = s"__${tag}_loc$i"
    def off(i: Int) = s"__${tag}_off$i"
    val parted = df.repartitionByRange(n, order: _*)
      .withColumn(pid, spark_partition_id().cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col(pid)).orderBy(order: _*)
    val local = outs.zipWithIndex.foldLeft(parted) { case (acc, (o, i)) =>
      acc.withColumn(loc(i), o.local(w))
    }
    val totals = outs.zipWithIndex.map { case (o, i) => o.total.as(s"__${tag}_tot$i") }
    val shardTotals = parted.groupBy(col(pid)).agg(totals.head, totals.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> outs.indices.map(i =>
        if (r.isNullAt(i + 1)) None else Some(r.getAs[Number](i + 1).longValue)))
      .sortBy(_._1)
    var carry: Seq[Option[Long]] = outs.map(o => if (o.runningSum) Some(0L) else None)
    val offRows = shardTotals.map { case (p, ts) =>
      val row = Row.fromSeq(p +: carry.map(_.map(Long.box).orNull))
      carry = outs.indices.map { i =>
        if (outs(i).runningSum) Some(carry(i).get + ts(i).getOrElse(0L))
        else (carry(i) ++ ts(i)).maxOption
      }
      row
    }
    val offSchema = StructType(StructField(pid, LongType, nullable = false) +:
      outs.indices.map(i => StructField(off(i), LongType, nullable = !outs(i).runningSum)))
    val offsets = df.sparkSession.createDataFrame(java.util.Arrays.asList(offRows: _*), offSchema)
    val merged = outs.zipWithIndex.foldLeft(local.join(broadcast(offsets), pid)) {
      case (acc, (o, i)) => acc.withColumn(o.name,
        if (o.runningSum) col(off(i)) + col(loc(i)) else greatest(col(loc(i)), col(off(i))))
    }
    merged.drop(pid +: outs.indices.flatMap(i => Seq(loc(i), off(i))): _*)
  }

  private def requireIntegral(df: DataFrame, v: Column, op: String): Unit = {
    val t = df.select(v).schema.head.dataType
    require(t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"GlobalRank.$op: value column $v must be an integral type, got ${t.sql}")
  }

  /** Adds `outCol` = row_number() over (ORDER BY `order`…).
    *
    * REQUIREMENT: `order` must be a TOTAL order (include a unique
    * tiebreaker column) — equal full keys would make block-local ranks
    * nondeterministic across retries. */
  def rowNumber(df: DataFrame, order: Seq[Column], outCol: String,
      shards: Int = 0): DataFrame =
    scan(df, order, shards, "gr",
      Seq(Out(outCol, count(lit(1)), w => row_number().over(w).cast("long"), runningSum = true)))

  /** Adds `outCol` = max(`valCol`) over (ORDER BY `orderCol` RANGE BETWEEN
    * UNBOUNDED PRECEDING AND -1) — the running prefix-max over STRICTLY
    * smaller order values (round-8 verdict #1: q207's skyline dominance
    * test was the suite's last unpartitioned running window over a
    * data-scaling frame).
    *
    * Ties colocate under the range exchange, so every strictly-smaller
    * row is either in the same shard (the block-local RANGE window) or in
    * an earlier shard (the carry, which by the range invariant holds only
    * strictly-smaller keys). The result stays NULL only when no
    * strictly-smaller row exists anywhere (SQL max-over-empty-frame).
    *
    * `inclusiveOut` (optional) additionally emits the INCLUSIVE prefix
    * max (RANGE ≤ 0 — order-value peers and self included) from the same
    * sort, in the same WindowExec.
    *
    * REQUIREMENT: `orderCol` must be numeric (RANGE frame arithmetic). */
  def prefixMax(df: DataFrame, orderCol: Column, valCol: Column, outCol: String,
      inclusiveOut: String = null, shards: Int = 0): DataFrame = {
    requireIntegral(df, valCol, "prefixMax")
    def upTo(name: String, end: Long) = Out(name, max(valCol),
      w => max(valCol).over(w.rangeBetween(Window.unboundedPreceding, end)), runningSum = false)
    scan(df, Seq(orderCol), shards, "gm", upTo(outCol, -1) +: Option(inclusiveOut).map(upTo(_, 0)).toSeq)
  }

  /** Adds `outCol` = sum(`valCol`) over (ORDER BY `order`… ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING) — the EXCLUSIVE running sum over
    * a total order (0 for the first row). This is the GLOBAL-order
    * complement of [[PrefixSum.runningSum]]: that primitive shards a
    * partitioned running sum over a caller-supplied monotone bucket key
    * whose count grows with the frame; here the sampled range exchange
    * keeps the carry frame ≤ `shards` rows at ANY corpus size, which is
    * what a corpus-wide order (e.g. the GPT-style concat-and-chunk token
    * offset) needs.
    *
    * REQUIREMENT: `order` must be a TOTAL order (include a unique
    * tiebreaker) — a ROWS frame over tied keys is otherwise
    * nondeterministic across retries. */
  def prefixSum(df: DataFrame, order: Seq[Column], valCol: Column,
      outCol: String, shards: Int = 0): DataFrame =
    prefixSums(df, order, Seq(valCol -> outCol), shards)

  /** [[prefixSum]] for SEVERAL value columns over ONE total order — e.g.
    * q226's two running CDFs over the same cents axis. All columns share
    * one range exchange, one persisted sharding, one WindowExec, one
    * collect and one broadcast join; N separate [[prefixSum]] calls would
    * pay N of each for the same answer. */
  def prefixSums(df: DataFrame, order: Seq[Column],
      valCols: Seq[(Column, String)], shards: Int = 0): DataFrame = {
    valCols.foreach { case (v, _) => requireIntegral(df, v, "prefixSums") }
    scan(df, order, shards, "gs", valCols.map { case (v, name) => Out(name, sum(v),
      w => coalesce(sum(v).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
      runningSum = true) })
  }
}
