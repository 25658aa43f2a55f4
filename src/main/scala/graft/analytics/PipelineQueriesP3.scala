package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.{Mp4, Multimodal}
import graft.similarity.Ann
import graft.text.TextAnalysis

/** Pipeline query defs, slab 3 of 4 (power iteration through the
  * incremental score store and the q317 curation DAG) — a PURE MOVE out of the former 17k-line PipelineQueries.scala
  * (round-10 verdict #4): same members, same order, no logic change.
  * Self-typed to the object so every cross-slab reference resolves
  * unqualified and initialization order is exactly the old file order. */
trait PipelineQueriesP3 { this: PipelineQueries.type =>

  /** q188 constants, shared with the oracle generator. */
  private[graft] val PowerIters = 3
  private[graft] val PowerScale = 1000000L

  /** Integer power iteration for the dominant PCA direction (q188) —
    * distributed linear algebra with the q86/q139 exactness discipline
    * taken further: because every float product is floored to fixed
    * point PER ELEMENT before any sum, the ENTIRE iteration (not just
    * iteration 0) is order-free integer arithmetic, and the DuckDB
    * oracle replays all [[PowerIters]] rounds with unrolled CTEs. Per
    * round: uᵢ = Σⱼ ⌊xᵢⱼ·vⱼ⌋ fused into ONE map-only projection
    * (64-term codegen'd sum, v in-expression); wⱼ = Σᵢ ⌊xᵢⱼ·uᵢ⌋ via
    * posexplode + a 64-key aggregate that partial-combines map-side;
    * the 64-row w collects to the driver (the Ivf/Kmeans seed-sized
    * collect), renormalizes to v·10⁶/max|w|, and feeds the next round.
    * Emitted per round: dominant dimension, growth factor max|w|, and
    * the alignment ⟨vₖ, vₖ₊₁⟩/10⁶ (→10⁶ at convergence). */
  def powerIteration(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Pq.Dim
    // r13 optimization: persist the filtered vectors per (session, dir) —
    // every iteration (and every bench replay) re-read + re-filtered the
    // parquet corpus for one matvec; the iteration itself must stay
    // sequential (each round's v feeds the next expression).
    val e = graft.SessionMemo.frame(spark, s"q188e|$dir") {
      graft.Tables.fan( // r13: per-iteration matvec maps over this cache
        Tables.embeddings(spark, dir)
          .filter(col("embedding").isNotNull && size(col("embedding")) >= Dim),
        col("vec_id"))
    }
    var v = Array.tabulate(Dim)(j => if (j == 0) PowerScale else 0L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    for (k <- 1 to PowerIters) {
      val uExpr = (0 until Dim).filter(j => v(j) != 0L)
        .map(j => s"floor(CAST(embedding[$j] AS DOUBLE) * ${v(j)}L)")
        .mkString(" + ")
      val w = new Array[Long](Dim)
      e.select(expr(uExpr).as("u"), posexplode(col("embedding")).as(Seq("j", "x")))
        .select(col("j"), expr("floor(CAST(x AS DOUBLE) * u)").as("c"))
        .groupBy(col("j")).agg(sum(col("c")).as("w"))
        .collect().foreach(r => w(r.getInt(0)) = r.getLong(1))
      val m = w.map(math.abs).max
      require(m > 0L, "degenerate corpus: zero matvec")
      val vNext = w.map(wj => wj * PowerScale / m) // Long / truncates like div and //
      val dom = (0 until Dim).minBy(j => (-math.abs(w(j)), j))
      val align = (0 until Dim).map(j => v(j) * vNext(j)).sum / PowerScale
      rows += ((k, dom, m, align))
      v = vNext
    }
    import spark.implicits._
    rows.toSeq.toDF("iter", "dominant_dim", "growth", "align_fp")
      .orderBy(col("iter"))
  }

  /** q189 constants: micro-batch width (in event_id space) and the
    * watermark delay, shared with the oracle and the streaming twin. */
  private[graft] val WmBatchIds = 10000L
  private[graft] val WmDelayUs = 600000000L

  /** Watermark lateness audit (q189) — what a Structured Streaming
    * watermark WOULD do to this corpus, computed batch-side: events
    * arrive in event_id order in [[WmBatchIds]]-wide micro-batches; the
    * watermark entering batch b is max event-time over batches < b minus
    * [[WmDelayUs]] (watermarks advance at batch boundaries — the engine
    * semantic). Rows classify as dropped (< watermark), late-but-kept
    * (out-of-order but ≥ watermark), or on-time. The per-batch stats
    * frame is BATCH-count-sized; the running max rides a window over it;
    * the row classification is one broadcast join back over the corpus —
    * no corpus-sized window anywhere. StreamingSpec proves the real
    * engine (MemoryStream + withWatermark) drops exactly the rows this
    * audit predicts on planted batches. */
  def watermarkAudit(spark: SparkSession, dir: String): DataFrame =
    watermarkAuditOf(Tables.events(spark, dir))

  private[graft] def watermarkAuditOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("event_id"), expr("unix_micros(ts)").as("us"),
      expr(s"event_id div $WmBatchIds").as("batch"))
    val stats = e.groupBy(col("batch")).agg(max(col("us")).as("mx"))
      .withColumn("wm",
        max(col("mx")).over(Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, -1)) - WmDelayUs)
      .withColumn("prev_mx",
        max(col("mx")).over(Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    e.join(broadcast(stats.select(col("batch"), col("wm"), col("prev_mx"))), "batch")
      .select(col("batch"),
        when(col("wm").isNotNull && col("us") < col("wm"), "dropped")
          .when(col("prev_mx").isNotNull && col("us") < col("prev_mx"), "late_kept")
          .otherwise("on_time").as("status"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("status") === "on_time", 1L).otherwise(0L)).as("n_on_time"),
        sum(when(col("status") === "late_kept", 1L).otherwise(0L)).as("n_late_kept"),
        sum(when(col("status") === "dropped", 1L).otherwise(0L)).as("n_dropped"))
      .orderBy(col("batch"))
  }

  /** Degree profile of the co-purchase graph (q190) — the log₂-bucketed
    * degree histogram that diagnoses hub structure before any graph
    * algorithm is priced (q139/q149 iteration cost and q177 wedge
    * fan-out are both degree-distribution questions). Shares the q177
    * edge memo; degrees are one aggregate; the histogram is a second,
    * bucket-count-sized. `length(bin(deg)) − 1` is exact integer
    * ⌊log₂⌋ in both engines — no float log. */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: the degree frame rides the cross-query
    // [[coPurchaseDegrees]] memo (one explode pass shared with q177's
    // orientation and q195's round-1 peel) instead of a per-call
    // union-of-projections that scanned the edge cache twice.
    degreeProfileOfDeg(coPurchaseDegrees(spark, dir))

  private[graft] def degreeProfileOf(edges: DataFrame): DataFrame =
    degreeProfileOfDeg(
      edges.select(col("u").as("node")).union(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))

  private[graft] def degreeProfileOfDeg(deg: DataFrame): DataFrame =
    deg
      .select(col("deg"), (length(expr("bin(deg)")) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"), sum(col("deg")).as("sum_deg"))
      .orderBy(col("bucket"))

  /** q191 sketch geometry, shared with the oracle. */
  private[graft] val CmsDepth = 5
  private[graft] val CmsWidth = 2048L

  /** CMS/AMS self-join size estimation (q191) — the cardinality-
    * estimation primitive under every cost-based join planner: the
    * self-join size Σₖ c(k)² of lineitem on l_partkey, estimated from a
    * count-min sketch's inner product with itself (minᵈ Σ_w cell²) and
    * audited against the exact value. The sketch is built from first
    * principles on PORTABLE md5 row hashes (depth [[CmsDepth]] × width
    * [[CmsWidth]]), so unlike a library sketch the ESTIMATE ITSELF is
    * oracle-replayable exactly — stronger than the q79 bounded claim.
    * Estimator guarantee (est ≥ exact, overestimate ≤ ε·N² w.h.p.)
    * emitted as integancy columns. Scale shape: the sketch build is one
    * map-only ×depth explode into a (depth·width)-row aggregate that
    * partial-combines — the mergeable-sketch family (HLL q42 / GK q69 /
    * CMS q79 / Bloom q84); the exact branch is the harness audit, dropped
    * at corpus scale where the sketch is the product. */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame =
    joinSizeEstimateOf(Tables.lineitem(spark, dir).select(col("l_partkey").as("k")),
      // Two consumers: the sketch cells and the exact branch.
      c => graft.SessionMemo.frame(spark, s"q191counts|$dir")(c))

  private[graft] def joinSizeEstimateOf(keys: DataFrame,
      memoCounts: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    // r13 optimization (guide §2.3 — aggregate before you explode): the
    // sketch hashed every ROW ×depth (5×|rows| md5 calls); hashing is
    // per-KEY work, so reduce to the per-key count frame first (one
    // map-side-combinable aggregate, shared with the exact branch via the
    // persist) and weight each cell by the count — 5×|keys| hashes,
    // 30× fewer at sf0.1, identical cells by Σ-additivity.
    val counts = memoCounts(keys.groupBy(col("k")).agg(count(lit(1)).as("c")))
    val cells = counts
      .select(col("c"), explode(expr(
        s"transform(sequence(0, ${CmsDepth - 1}), d -> struct(d AS d, concat(d, ':', k) AS s))"))
        .as("p"))
      .select(col("c"), col("p.d").as("d"),
        (element_at(md5_token_hashes(array(col("p.s")), 31), 1) % CmsWidth).as("w"))
      .groupBy(col("d"), col("w")).agg(sum(col("c")).as("c"))
    val est = cells
      .groupBy(col("d")).agg(sum(expr("c * c")).as("ip"))
      .agg(min(col("ip")).as("est_selfjoin"))
    val exact = counts
      .agg(sum(expr("c * c")).as("exact_selfjoin"), count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"))
    exact.crossJoin(broadcast(est))
      .select(col("n_rows"), col("n_keys"), col("exact_selfjoin"), col("est_selfjoin"),
        expr("(est_selfjoin - exact_selfjoin) * 10000L div exact_selfjoin").as("over_bp"),
        (col("est_selfjoin") >= col("exact_selfjoin")).as("never_under"))
  }

  /** Mergeable exact moment statistics (q192) — distributed mean /
    * variance / third-central-moment per event type WITHOUT Welford
    * float state: the raw power sums Σv, Σv², Σv³ (cents, DECIMAL(38,0)
    * for the cube) partial-combine map-side, and every derived statistic
    * is an integer expression over them — `n·Σv² − S²` is exactly
    * n²·variance, `n²Σv³ − 3nSΣv² + 2S³ = Σ(nv−S)³/n` scales to the
    * mean third central moment. Order-free, mergeable across segments
    * (the q135 incremental-stats algebra extended to higher moments),
    * bit-identical in both engines. */
  def momentStats(spark: SparkSession, dir: String): DataFrame =
    momentStatsOf(Tables.events(spark, dir))

  private[graft] def momentStatsOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("CAST(value * 100 AS DECIMAL(14,0))").cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v * v")).as("s3"))
      .select(col("event_type"), col("n"), col("s").as("sum_cents"),
        expr("s div n").as("mean_cents"),
        expr("CAST((n * s2 - CAST(s AS DECIMAL(38,0)) * s) div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)")
          .as("var_cents2"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * n * s3
          |  - 3 * CAST(n AS DECIMAL(38,0)) * s * s2
          |  + 2 * CAST(s AS DECIMAL(38,0)) * s * s)
          |  div (CAST(n AS DECIMAL(38,0)) * n * n) AS BIGINT)""".stripMargin)
          .as("m3_scaled"),
        expr("""CAST(n AS DECIMAL(38,0)) * n * s3
          |  - 3 * CAST(n AS DECIMAL(38,0)) * s * s2
          |  + 2 * CAST(s AS DECIMAL(38,0)) * s * s > 0""".stripMargin)
          .as("right_skewed"))
      .orderBy(col("event_type"))

  /** q193 audit constants, shared with the oracle. */
  private[graft] val QuantileEpsBp = 100L // approx_percentile accuracy 1/eps = 10000/QuantileEpsBp

  /** Quantile-sketch accuracy audit (q193) — the production check on the
    * q69 approximate-quantile path: for each decile, the engine's
    * approx_percentile estimate is rank-audited EXACTLY (one conditional
    * aggregate computes every estimate's true rank in a single corpus
    * pass) and the GK-style guarantee `|rank/n − q| ≤ ε` becomes the
    * portable claim row (the q42/q79 bounded-claim pattern: the raw
    * estimate is engine-internal, the guarantee is the contract). A
    * violated bound names the decile on stderr and breaks the hash.
    *
    * The two aggregate passes are inherently sequential (the rank audit
    * conditions on the first pass's estimates), but both now read ONE
    * memoized `cents` frame (round-6 verdict #8) — a single projected
    * long column, so the cache is the narrowest possible slice of the
    * fact table, not the table itself; the parquet scan + DECIMAL cast
    * is paid once instead of twice. */
  def quantileAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = graft.SessionMemo.frame(spark, s"q193cents|$dir") {
      Tables.lineitem(spark, dir)
        .select(expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long").as("v"))
    }
    val qs = (1 to 9).map(_ * 0.1)
    val accuracy = (10000L / QuantileEpsBp) * 100L // eps = QuantileEpsBp/1e4 → acc 1e4/..·..
    val row = cents.agg(
      expr(s"approx_percentile(v, array(${qs.mkString(",")}), $accuracy)").as("est"),
      count(lit(1)).as("n")).head()
    val ests = row.getSeq[Long](0)
    val n = row.getLong(1)
    val rankAggs = ests.zipWithIndex.map { case (e, i) =>
      sum(when(col("v") <= e, 1L).otherwise(0L)).as(s"r$i")
    }
    val ranks = cents.agg(rankAggs.head, rankAggs.tail: _*).head()
    val out = qs.zipWithIndex.map { case (q, i) =>
      val qBp = math.round(q * 10000).toLong
      val rank = ranks.getLong(i)
      val errBp = math.abs(rank * 10000L / n - qBp)
      val ok = errBp <= QuantileEpsBp
      if (!ok) System.err.println(
        s"[q193] quantile bound VIOLATED at q=$qBp bp: rank=$rank n=$n err=$errBp bp " +
          "— the oracle's TRUE row will hash-mismatch")
      (qBp, n, QuantileEpsBp, ok)
    }
    out.toDF("quantile_bp", "n", "eps_bp", "within_bound").orderBy(col("quantile_bp"))
  }

  /** q194 session gap (the q23 sessionize constant) — a session interval
    * is [first event, last event + 0]; concurrency counts overlapping
    * session extents. */
  private[graft] val ConcurrencySessionGapUs = 1800000000L

  /** Peak session concurrency (q194) — the sweep-line interval-overlap
    * counter behind capacity planning: per-user 30-min-gap sessions
    * become (+1 at start, −1 after end) deltas; concurrency at t is the
    * prefix sum of deltas ≤ t. The prefix sum is TWO-LEVEL (the q144
    * sharded-PrefixSum idea expressed in windows): a running sum WITHIN
    * each day partition plus a day-frame carry window — no global
    * single-partition ordering ever touches event-sized data. Ties
    * order (us, delta DESC): a session starting at the exact instant
    * another ends counts as overlapping. Output: per-day session
    * starts/ends and the exact peak concurrency. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakConcurrencyOf(Tables.events(spark, dir))

  private[graft] def peakConcurrencyOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("user_id"), expr("unix_micros(ts)").as("us"))
    val wGap = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val sessions = e
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(wGap) > ConcurrencySessionGapUs
          || lag(col("us"), 1).over(wGap).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wGap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
    val deltas = sessions.select(col("s_start").as("us"), lit(1L).as("d"))
      .union(sessions.select(col("s_end").as("us"), lit(-1L).as("d")))
      .withColumn("day", expr("us div 86400000000L"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("us"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = deltas
      .withColumn("run", sum(col("d")).over(wDay))
      .groupBy(col("day"))
      .agg(sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("d") === -1L, 1L).otherwise(0L)).as("n_ends"),
        max(col("run")).as("peak_in_day"), sum(col("d")).as("net"))
    val wCarry = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry", coalesce(sum(col("net")).over(wCarry), lit(0L)))
      // A session spanning midnight leaves carry > 0 with only a −1
      // delta inside the day: the day's true peak is the GREATER of the
      // carried-in concurrency and any within-day prefix.
      .select(col("day"), col("n_starts"), col("n_ends"),
        greatest(col("carry"), col("carry") + col("peak_in_day")).as("peak_concurrency"))
      .orderBy(col("day"))
  }

  /** Point-in-time loyalty attribution (q196) — the as-was vs as-is
    * reporting correctness every SCD2 warehouse must get right: per
    * customer a deterministic tier history (bronze until the 2nd order
    * instant, silver until the 4th, gold after — boundaries from the
    * customer's own order sequence), then every order attributed BOTH to
    * the tier valid at its own timestamp (as-was: strictly-after
    * semantics — the boundary order itself still counts in the lower
    * tier) and to the customer's final tier (as-is). Revenue in exact
    * cents. One custkey shuffle shared by the sequence window, the
    * boundary aggregate, and the attribution join; the report is
    * tier-sized. */
  def pitLoyalty(spark: SparkSession, dir: String): DataFrame =
    pitLoyaltyOf(Tables.orders(spark, dir))

  private[graft] def pitLoyaltyOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders.select(col("o_custkey"), col("o_orderkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"),
      expr("CAST(o_totalprice * 100 AS DECIMAL(14,0))").cast("long").as("cents"))
    // One custkey partitioning serves both the sequence rank (as-was)
    // and the final count (as-is) — no join, one shuffle.
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("us"), col("o_orderkey"))
    val wAll = Window.partitionBy(col("o_custkey"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .select(col("cents"),
        when(col("rn") <= 2L, "bronze").when(col("rn") <= 4L, "silver")
          .otherwise("gold").as("tier_as_was"),
        when(col("cnt") <= 2L, "bronze").when(col("cnt") <= 4L, "silver")
          .otherwise("gold").as("tier_as_is"))
      .groupBy(col("tier_as_was"), col("tier_as_is"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      .orderBy(col("tier_as_was"), col("tier_as_is"))
  }

  /** q197 batch width, shared with the oracle. */
  private[graft] val InferBatchSize = 32L

  /** Inference batch-padding economics (q197) — the serving-cost readout
    * behind length-sorted batching: documents batched [[InferBatchSize]]
    * at a time, padded to each batch's max length, under two policies —
    * arrival order (doc_id) vs length-sorted. Both global ranks run on
    * the SHARDED [[graft.operators.PrefixSum]] (bucket = leading bits of
    * the order key), bit-identical to a serial row_number with no
    * single-task corpus sort; per-batch stats and the 2-row report are
    * aggregates. The emitted waste_bp difference IS the GPU-hours
    * argument for sorted batching. */
  def batchPadding(spark: SparkSession, dir: String): DataFrame =
    batchPaddingOf(Tables.documents(spark, dir))

  private[graft] def batchPaddingOf(docs: DataFrame): DataFrame = {
    import graft.operators.PrefixSum
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .withColumn("one", lit(1L))
    val arrival = PrefixSum.runningSum(lens, Seq.empty, Seq("doc_id"), "one",
        expr("doc_id div 4096"), "rn")
      .select(lit("arrival").as("policy"), col("len"), col("rn"))
    val sorted = PrefixSum.runningSum(lens, Seq.empty, Seq("len", "doc_id"), "one",
        expr("len div 64"), "rn")
      .select(lit("sorted").as("policy"), col("len"), col("rn"))
    arrival.union(sorted)
      .select(col("policy"), expr(s"(rn - 1) div $InferBatchSize").as("batch"), col("len"))
      .groupBy(col("policy"), col("batch"))
      .agg(count(lit(1)).as("n"), max(col("len")).as("mx"), sum(col("len")).as("s"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_batches"), sum(col("s")).as("total_tokens"),
        sum(expr("n * mx")).as("capacity"))
      .select(col("policy"), col("n_batches"), col("total_tokens"),
        expr("capacity - total_tokens").as("padded_tokens"),
        expr("(capacity - total_tokens) * 10000L div capacity").as("waste_bp"))
      .orderBy(col("policy"))
  }

  /** q198 bootstrap constants, shared with the oracle: resample count,
    * CI order-statistic ranks, and the Poisson(1) CDF cut points on the
    * 31-bit uniform hash (⌊CDF·2³¹⌋ for k = 0..3; mass above is w=4). */
  private[graft] val BootB = 200L
  private[graft] val BootCiLoRank = 5L   // ceil(0.025 · B)
  private[graft] val BootCiHiRank = 196L // B − ceil(0.025·B) + 1
  private[graft] val BootPoissonCuts = Seq(790015084L, 1580030168L, 1975037710L, 2106706891L)

  /** Deterministic Poisson-bootstrap confidence interval (q198) — the
    * statistical-rigor primitive an experimentation platform needs at
    * corpus scale: the per-user conversion metric resampled [[BootB]]
    * times with Poisson(1) weights derived from a PORTABLE md5 hash of
    * (resample, user) — no RNG state, identical in both engines, and
    * embarrassingly parallel (the resample dimension explodes map-side,
    * weights partial-combine into B rows). The 95% CI is exact order
    * statistics over the B-row rate frame. The same shape bootstraps
    * any per-entity metric (eval scores, revenue/user) at any scale:
    * corpus work is one user aggregate + one ×B map-only pass. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapCiOf(Tables.events(spark, dir))

  private[graft] def bootstrapCiOf(events: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    import org.apache.spark.sql.expressions.Window
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val Seq(t0, t1, t2, t3) = BootPoissonCuts
    val rates = users
      .select(col("user_id"), col("conv"),
        explode(expr(s"sequence(0L, ${BootB - 1}L)")).as("b"))
      .select(col("b"), col("conv"),
        element_at(md5_token_hashes(array(concat(col("b"), lit(":"), col("user_id"))), 31), 1)
          .as("h"))
      .select(col("b"), col("conv"),
        when(col("h") < t0, 0L).when(col("h") < t1, 1L)
          .when(col("h") < t2, 2L).when(col("h") < t3, 3L).otherwise(4L).as("w"))
      .groupBy(col("b"))
      .agg(sum(expr("w * conv")).as("wc"), sum(col("w")).as("wt"))
      .select(expr("wc * 10000L div wt").as("rate_bp"))
    val ci = rates
      .withColumn("rk", row_number().over(Window.orderBy(col("rate_bp"))).cast("long"))
      .agg(max(when(col("rk") === BootCiLoRank, col("rate_bp"))).as("ci_lo_bp"),
        max(when(col("rk") === BootCiHiRank, col("rate_bp"))).as("ci_hi_bp"))
    users.agg(count(lit(1)).as("n_users"),
        expr("sum(conv) * 10000L div count(1)").as("base_rate_bp"))
      .crossJoin(broadcast(ci))
      .select(col("n_users"), col("base_rate_bp"), lit(BootB).as("n_resamples"),
        col("ci_lo_bp"), col("ci_hi_bp"))
  }

  /** q199 vocabulary cut points, shared with the oracle. */
  private[graft] val VocabCurveSizes = Seq(100L, 1000L, 10000L)

  /** Vocabulary-size coverage curve (q199) — the tokenizer-budget
    * decision: what share of corpus tokens the top-V vocabulary covers,
    * at [[VocabCurveSizes]] cut points. One corpus tokenization into
    * vocab counts; the rank rides [[graft.operators.GlobalRank]] (round-8
    * verdict #1: the vocabulary of a web-scale corpus is billions of
    * distinct tokens, so an unpartitioned `row_number` over it is a
    * single-task sort — the range-sharded two-pass is bit-identical);
    * corpus totals are a 1-row aggregate broadcast back; the report is
    * |cuts| rows. */
  def vocabSizeCurve(spark: SparkSession, dir: String): DataFrame =
    vocabSizeCurveOf(Tables.documents(spark, dir))

  private[graft] def vocabSizeCurveOf(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("total"), count(lit(1)).as("nv"))
    val ranked = graft.operators.GlobalRank
      .rowNumber(counts, Seq(col("c").desc, col("token")), "rk")
      .filter(col("rk") <= lit(VocabCurveSizes.max))
    ranked
      .select(explode(expr(s"array(${VocabCurveSizes.mkString("L,")}L)")).as("v"),
        col("rk"), col("c"))
      .filter(col("rk") <= col("v"))
      .groupBy(col("v"))
      .agg(sum(col("c")).as("covered"))
      .crossJoin(broadcast(totals))
      .select(col("v"), least(col("v"), col("nv")).as("n_vocab_used"),
        expr("covered * 10000L div total").as("coverage_bp"))
      .orderBy(col("v"))
  }

  /** Streaming fuzzy ingest dedup (q200) — the near-dup completion of
    * the ingest-dedup progression (q84 exact batch sketch → q100 exact
    * streaming Bloom → q200 FUZZY streaming): arrivals (every 7th doc)
    * land in four sequential micro-batches against a pre-seeded standing
    * corpus (the rest); each batch drops within-batch dominated near-dups
    * (smaller-id Jaccard ≥ 0.8 twin in the same batch) and arrivals
    * fuzzy-matching the standing corpus (banded LSH candidates, exact
    * verification — [[graft.dedup.IncrementalDedup.fuzzyIngestBatch]]),
    * then appends survivors to its own batch partition. The registered
    * row replays the batch loop deterministically and reports the
    * published arrival survivors; the oracle replays all four batches
    * SEQUENTIALLY with brute-force Jaccard (the q62 recall-exactness
    * argument: the 48×4 banding misses nothing at the 0.8 gate, so
    * hash-equality against brute force proves both the recall and the
    * sequencing). StreamingSpec drives the same core through a real
    * MemoryStream and pins the drop semantics batch by batch. */
  def streamingFuzzyDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.SessionMemo.memo(spark, s"q200|$dir") {
      val corpus = fuzzyIngestCorpus(spark, dir)
      spark.read.parquet(corpus)
        .where(col("batch_id") >= 0)
        .select(col("batch_id").cast("long").as("batch_id"), col("doc_id"))
        .orderBy(col("batch_id"), col("doc_id"))
    }
  }

  /** The q200 batch-loop replay, memoized ONCE per (session, dir) and
    * shared by q200 (survivor frame) and q256 (store compaction) —
    * returns the work corpus dir. */
  private[analytics] def fuzzyIngestCorpus(spark: SparkSession, dir: String): String =
    graft.SessionMemo.memo(spark, s"q200corpus|$dir") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      // The ingest path is ~15 tiny sequential exchanges per batch; AQE's
      // per-stage re-planning turns each into its own job round-trip and
      // dominates wall-clock at this batch size. Static planning for the
      // ingest session only (the frames are KB-sized; nothing AQE would
      // fix), ~2× on the four-batch run.
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val work = graft.SessionMemo.workDir(spark, "graft_fuzzy_ingest").toString
      val corpus = s"$work/corpus"
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"), lit(-1L).as("batch_id"))
        .write.partitionBy("batch_id").parquet(corpus)
      (0 to 3).foreach { b =>
        val slice = docs
          .filter(col("doc_id") % 7 === 0 && expr("(doc_id div 7) % 4") === b)
          .select(col("doc_id"), col("text"))
        graft.dedup.IncrementalDedup.fuzzyIngestBatch(slice, corpus, b.toLong)
      }
      corpus
    }

  /** Signature-store nightly compaction (q256) — see
    * [[graft.dedup.IncrementalDedup.compactSigStore]]: fold the q200
    * store's per-batch partitions into a band-segmented, band_key-sorted
    * base layout with a digest manifest, then report the BASE's content
    * stats read back from disk (folded partitions, bands, rows, distinct
    * docs, id-sum checksum) — a lossy or stale compaction breaks the
    * oracle hash, whose expected values come from replaying the
    * sequential ingest. Shares q200's memoized ingest replay, so the
    * bench pays the four-batch loop once across both rows. */
  def sigStoreCompaction(spark: SparkSession, dir: String): DataFrame = {
    graft.SessionMemo.memo(spark, s"q256|$dir") {
      val corpus = fuzzyIngestCorpus(spark, dir)
      graft.dedup.IncrementalDedup.compactSigStore(spark, corpus)
      spark.read.parquet(s"$corpus/_fuzzy_sigs/_base")
        .agg(countDistinct(col("batch_id")).as("n_folded_partitions"),
          countDistinct(col("band_idx")).as("n_bands"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("sid")).as("n_distinct_sids"),
          sum_distinct(col("sid")).as("sid_sum"))
        .select(col("n_folded_partitions"), col("n_bands"), col("n_rows"),
          col("n_distinct_sids"), col("sid_sum").cast("long").as("sid_sum"))
    }
  }

  /** q201 SLO constants (99% availability → 100 bp error budget), shared
    * with the oracle: fast-burn pages at 14.4× budget over 1 h AND 6×
    * over 6 h (the Google SRE multiwindow rule, in integer bp). */
  private[graft] val SloPage1hBp = 1440L
  private[graft] val SloPage6hBp = 600L
  private[graft] val SloTicket24hBp = 300L

  /** Multi-window SLO burn-rate alerts (q201) — the error-budget
    * monitoring rule production services page on: per-hour error rates
    * plus trailing 6 h and 24 h RANGE windows over the HOUR frame
    * (metadata-sized — events aggregate once, windows never see rows),
    * with the two-window fast-burn page and the slow-burn ticket as
    * integer-bp comparisons. Gap hours follow the q128 observed-hours
    * contract. */
  def sloBurnRate(spark: SparkSession, dir: String): DataFrame =
    sloBurnRateOf(Tables.events(spark, dir))

  private[graft] def sloBurnRateOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .select(expr("unix_micros(ts) div 3600000000L").as("hour_id"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy(col("hour_id"))
      .agg(count(lit(1)).as("n_total"), sum(col("is_err")).as("n_err"))
    def trailing(hours: Long) = Window.orderBy(col("hour_id"))
      .rangeBetween(-(hours - 1), Window.currentRow)
    hourly
      .withColumn("e6", sum(col("n_err")).over(trailing(6L)))
      .withColumn("t6", sum(col("n_total")).over(trailing(6L)))
      .withColumn("e24", sum(col("n_err")).over(trailing(24L)))
      .withColumn("t24", sum(col("n_total")).over(trailing(24L)))
      .select(col("hour_id"), col("n_total"),
        expr("n_err * 10000L div n_total").as("err_1h_bp"),
        expr("e6 * 10000L div t6").as("err_6h_bp"),
        expr("e24 * 10000L div t24").as("err_24h_bp"))
      .withColumn("page",
        col("err_1h_bp") >= SloPage1hBp && col("err_6h_bp") >= SloPage6hBp)
      .withColumn("ticket", col("err_24h_bp") >= SloTicket24hBp)
      .orderBy(col("hour_id"))
  }

  /** q202 pixel budget per GPU batch, shared with the oracle. */
  private[graft] val PixelBudget = 1048576L

  /** Pixel-budget media batching (q202) — q197's packing economics for
    * the MULTIMODAL side: variable-resolution images (deterministic
    * per-doc dimensions — the decode stubs' metadata contract) packed in
    * arrival order into GPU batches by cumulative pixel count. The
    * global running sum is the sharded PrefixSum (no single-partition
    * sort); batch assignment is start-offset div budget (streaming-fill
    * semantics: the straddling item overflows its batch by < one item —
    * the DALI-style contract, documented rather than hidden). Per-batch
    * fill factors price the padding the serving tier will pay. */
  def pixelPacking(spark: SparkSession, dir: String): DataFrame =
    pixelPackingOf(Tables.documents(spark, dir))

  private[graft] def pixelPackingOf(docs: DataFrame): DataFrame = {
    import graft.operators.PrefixSum
    val media = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        (lit(32L) + (col("doc_id") % 8) * 16L).as("w"),
        (lit(32L) + (col("doc_id") % 5) * 32L).as("h"))
      .withColumn("px", col("w") * col("h"))
    PrefixSum.runningSum(media, Seq.empty, Seq("doc_id"), "px",
        expr("doc_id div 4096"), "cum")
      .select(expr(s"(cum - px) div $PixelBudget").as("batch"), col("px"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_items"), sum(col("px")).as("px_total"))
      .select(col("batch"), col("n_items"), col("px_total"),
        expr(s"px_total * 10000L div $PixelBudget").as("fill_bp"))
      .orderBy(col("batch"))
  }

  /** q203 assembly constants, shared with the oracle. */
  private[graft] val CtxTokenBudget = 512L
  private[graft] val CtxDedupJaccard = 0.5

  /** RAG context assembly (q203) — the serving step after hybrid
    * retrieval: q127's RRF fusion produces the candidate ranking
    * (corpus cost = exactly the two rankers); the top-10 then attach
    * text, drop passages whose token Jaccard vs a BETTER-ranked passage
    * is ≥ [[CtxDedupJaccard]] (context diversity — redundant passages
    * waste budget), and pack greedily in rank order into a
    * [[CtxTokenBudget]]-token context window. Everything above the
    * rankers is 10-row metadata work. The emitted `included` column IS
    * the context the generator would see. */
  def contextAssembly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = rrfFusion(spark, dir).limit(10)
      .withColumn("rn0",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
    val withText = fused
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("rn0"),
        expr("array_distinct(split(text, ' '))").as("toks"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val inter = size(array_intersect(col("a.toks"), col("b.toks"))).cast("double")
    val dropped = withText.alias("a")
      .join(withText.alias("b"), col("b.rn0") < col("a.rn0") &&
        inter / (size(col("a.toks")) + size(col("b.toks"))
          - size(array_intersect(col("a.toks"), col("b.toks")))) >= CtxDedupJaccard)
      .select(col("a.doc_id").as("doc_id")).distinct()
    withText.join(dropped, Seq("doc_id"), "left_anti")
      .withColumn("ctx_rank", row_number().over(Window.orderBy(col("rn0"))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.orderBy(col("rn0"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("ctx_rank"), col("doc_id"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= CtxTokenBudget).as("included"))
      .orderBy(col("ctx_rank"))
  }

  /** Metadata-filtered ANN search (q204) — the vector-DB feature every
    * production deployment needs and most indexes get wrong: top-k
    * cosine neighbors RESTRICTED to rows sharing the query's label
    * (pre-filtering, not post-filtering — a post-filtered top-k can
    * return fewer than k or miss true neighbors entirely). Here the
    * label predicate joins INTO the candidate stream before scoring
    * (the q33 broadcast shape with an equi-key), so the map-side
    * TopKAggregator ranks only eligible rows; at 100 TB the same
    * predicate becomes a partition filter on a label-partitioned q98
    * index layout. Bit-exact oracle (the q33 cosine folds). */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val embs = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val q = broadcast(embs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("ql")))
    val scored = embs
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"),
        col("label").as("nl"))
      .join(q, col("nl") === col("ql") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_sim(col("query_vec"), col("neighbor_vec")))
    graft.similarity.Ann.topKRanked(scored, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Incremental view maintenance (q206) — the delta-join algebra under
    * every continuously-maintained warehouse view:
    * `ΔV = γ(ΔA⋈B₀) ⊎ γ(A₀⋈ΔB) ⊎ γ(ΔA⋈ΔB)` for the revenue-per-customer
    * view over orders⋈lineitem, with SUM's additivity making the merge a
    * co-group sum. The registered row computes the view BOTH ways —
    * incrementally from the base snapshot + deltas, and by full
    * recompute — and emits the top-20 with the equality verdict, so the
    * hash proves the maintenance algebra exactly. Maintenance cost is
    * proportional to |Δ| (each delta join has one pruned side), which is
    * the entire point at 100 TB. */
  def incrementalView(spark: SparkSession, dir: String): DataFrame =
    incrementalViewOf(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  private[graft] def incrementalViewOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        (col("o_orderkey") % 5 === 0).as("od"))
    val l = lineitem
      .select(col("l_orderkey").as("ok"),
        (expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long") *
          expr("CAST((1 - l_discount) * 100 AS DECIMAL(5,0))").cast("long")).as("rev_u"),
        (expr("l_orderkey * 10 + l_linenumber") % 7 === 0).as("ld"))
    def view(os: DataFrame, ls: DataFrame): DataFrame = os
      .join(ls, "ok").groupBy(col("ck")).agg(sum(col("rev_u")).as("rev"))
    val o0 = o.filter(!col("od")); val dO = o.filter(col("od"))
    val l0 = l.filter(!col("ld")); val dL = l.filter(col("ld"))
    val inc = view(o0, l0).union(view(dO, l0)).union(view(o0, dL)).union(view(dO, dL))
      .groupBy(col("ck")).agg(sum(col("rev")).as("rev_ivm"))
    val full = view(o, l).withColumnRenamed("rev", "rev_full")
    full.join(inc, Seq("ck"), "full_outer")
      .select(col("ck").as("custkey"),
        coalesce(col("rev_full"), lit(0L)).as("rev_full"),
        coalesce(col("rev_ivm"), lit(0L)).as("rev_ivm"),
        (coalesce(col("rev_full"), lit(0L)) === coalesce(col("rev_ivm"), lit(0L)))
          .as("ivm_exact"))
      .orderBy(col("rev_full").desc, col("custkey"))
      .limit(20)
  }

  /** Skyline / Pareto frontier (q207) — the classic multi-criteria
    * dominance query (min price, max size over parts): a part survives
    * iff no part is at-least-as-good on both axes and strictly better on
    * one. Computed sort-free of the O(n²) formulation via
    * [[graft.operators.GlobalRank.prefixMax]] (round-8 verdict #1: the
    * old single RANGE window over the whole frame was an unpartitioned
    * sort; the range-sharded two-pass is bit-identical and runs
    * shards-wide): `best_cheaper` = max size over strictly-cheaper rows,
    * `best_le` = the inclusive twin from the same WindowExec. A part is
    * dominated iff a strictly-cheaper part matches-or-beats its size
    * (best_le > size covers a same-price strict beat; best_le == size
    * with best_cheaper == size covers a cheaper tie). */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skylineOf(Tables.part(spark, dir))

  private[graft] def skylineOf(part: DataFrame): DataFrame = {
    val p = part.select(col("p_partkey"),
      expr("CAST(p_retailprice * 100 AS DECIMAL(14,0))").cast("long").as("price_cents"),
      col("p_size").cast("long").as("p_size"))
    graft.operators.GlobalRank
      .prefixMax(p, col("price_cents"), col("p_size"), "best_cheaper",
        inclusiveOut = "best_le")
      .filter((col("best_cheaper").isNull || col("best_cheaper") < col("p_size")) &&
        col("best_le") === col("p_size"))
      .select(col("p_partkey"), col("price_cents"), col("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  /** q208 sample size, shared with the oracle. */
  private[graft] val UncertaintyK = 20

  /** Uncertainty sampling for labeling (q208) — the active-learning
    * primitive of a curation pipeline: the [[UncertaintyK]] documents
    * per language whose q37 quality score sits CLOSEST to that
    * language's q87 keep threshold (the p25 cut) — exactly the examples
    * where a human label or a stronger model buys the most decision
    * information. The per-language bounded top-k is the map-side
    * [[graft.similarity.Ann.TopKAggregator]] keyed by language (the
    * q118 shape — ≤ partitions·K rows cross the exchange, never a
    * per-language corpus window); thresholds are a 5-row broadcast. */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.text.TextAnalysis.qualityScore(Tables.documents(spark, dir))
      .select(col("lang"), col("doc_id"),
        floor(col("quality_score") * 1e6).cast("long").as("qfp"))
    val thr = scored.groupBy(col("lang")).agg(expr("percentile(qfp, 0.25)").as("p25_fp"))
    val withDiff = scored.join(broadcast(thr), Seq("lang"))
      .withColumn("dist", abs(col("qfp").cast("double") - col("p25_fp")))
    val kept = graft.similarity.Ann.topKRanked(
      withDiff.select(xxhash64(col("lang")).as("query_id"),
        col("doc_id").as("neighbor_id"), negate(col("dist")).as("cosine")),
      UncertaintyK)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    withDiff.join(broadcast(kept), Seq("doc_id"))
      .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"),
        col("qfp").as("quality_fp"), floor(col("dist")).cast("long").as("dist_fp"))
      .orderBy(col("lang"), col("rank"), col("doc_id"))
  }

  /** Per-dimension whitening statistics (q209) — the mean/variance
    * normalization every embedding pipeline runs before PCA/IVF
    * training, computed EXACTLY: per-element floors (f = ⌊x·10⁶⌋) make
    * the per-dimension sums order-free integers, and the q192 power-sum
    * algebra (`n·Σf² − S²` = n²·variance) yields exact fixed-point
    * whitening parameters — no float mean ever crosses an aggregation
    * boundary. One posexplode pass, 64-row output, fully
    * oracle-replayed (not a bounded claim). */
  def whiteningStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Pq.Dim
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) >= Dim)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), floor(expr("CAST(x AS DOUBLE) * 1000000")).cast("long").as("f"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("f")).as("s"),
        sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("s2"))
      .select(col("dim"), col("n"), expr("s div n").as("mean_fp"),
        expr("CAST((n * s2 - CAST(s AS DECIMAL(38,0)) * s) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("var_fp2"))
      .orderBy(col("dim"))
  }

  /** q210 bound: |HLL inclusion–exclusion − exact| ≤ 6% of the exact
    * union (three ~1.6%-σ estimates compose; 6% is ≳3σ slack). */
  private[graft] val HllInterBoundPct = 6L

  /** Sketch-algebra audience intersection (q210) — the segment-overlap
    * question answered from MERGEABLE state only: per event-type pair,
    * |A∩B| estimated by inclusion–exclusion over HLL sketches
    * (est(A) + est(B) − est(A∪B), the union being a lossless sketch
    * merge), audited against the exact intersection. The exact branch
    * is ONE aggregate pass — per-user presence flags, then every pair's
    * AND/OR counts fold in a single conditional aggregate (no joins,
    * no per-pair scans). The estimates are engine-internal, so the
    * portable contract is the [[HllInterBoundPct]] claim row (q42/q79
    * pattern); the exact integers hash directly. KMV (q121) answers the
    * same question with bottom-k sketches — HLL trades resampling
    * support for fixed memory. */
  def hllIntersection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val flagCols = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"f_$t"))
    val flags = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(flagCols.head, flagCols.tail: _*)
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val exactAggs = pairs.flatMap { case (a, b) => Seq(
      sum(when(col(s"f_$a") === 1L && col(s"f_$b") === 1L, 1L).otherwise(0L))
        .as(s"i_${a}_$b"),
      sum(when(col(s"f_$a") === 1L || col(s"f_$b") === 1L, 1L).otherwise(0L))
        .as(s"u_${a}_$b"))
    }
    val exactRow = flags.agg(exactAggs.head, exactAggs.tail: _*).head()
    val sk = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val est = { (a: String, b: String) =>
      val s = spark.createDataset(Seq((sk(a), sk(b))))
        .toDF("sa", "sb")
        .select(expr("hll_sketch_estimate(sa)").as("ea"),
          expr("hll_sketch_estimate(sb)").as("eb"),
          expr("hll_sketch_estimate(hll_union(sa, sb))").as("eu"))
        .head()
      s.getLong(0) + s.getLong(1) - s.getLong(2)
    }
    val out = pairs.zipWithIndex.map { case ((a, b), i) =>
      val exI = exactRow.getLong(2 * i)
      val exU = exactRow.getLong(2 * i + 1)
      val e = est(a, b)
      val ok = math.abs(e - exI) <= HllInterBoundPct * exU / 100L
      if (!ok) System.err.println(
        s"[q210] HLL intersection bound VIOLATED for ($a,$b): est=$e exact=$exI union=$exU")
      (a, b, exI, exU, ok)
    }
    out.toDF("type_a", "type_b", "exact_inter", "exact_union", "within_bound")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q211 outlier count, shared with the oracle. */
  private[graft] val PathOutlierK = 20L

  /** Behavioral path-likelihood outliers (q211) — the q186 bigram-LM
    * idea on EVENT SEQUENCES: a first-order transition model (q119's
    * matrix, in integer ppm) trained on the corpus scores every user's
    * own journey; the [[PathOutlierK]] least-likely journeys surface
    * for review (session hijacking, automation, and logging bugs all
    * live in the improbable-path tail). One user-keyed window serves
    * the transition extraction; the 25-row model broadcasts back; the
    * bottom-k is a single TakeOrdered. */
  def pathLikelihood(spark: SparkSession, dir: String): DataFrame =
    pathLikelihoodOf(Tables.events(spark, dir))

  private[graft] def pathLikelihoodOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("event_type").as("f"))
      .withColumn("t", lead(col("f"), 1).over(w))
      .filter(col("t").isNotNull)
      .select(col("user_id"), col("f"), col("t"))
    val model = steps.groupBy(col("f"), col("t")).agg(count(lit(1)).as("c"))
      .withColumn("cf", sum(col("c")).over(Window.partitionBy(col("f"))))
      .select(col("f"), col("t"), expr("c * 1000000L div cf").as("p_ppm"))
    steps.join(broadcast(model), Seq("f", "t"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_steps"), expr("sum(p_ppm) div count(1)").as("score_ppm"))
      .orderBy(col("score_ppm"), col("user_id"))
      .limit(PathOutlierK.toInt)
  }

  /** Clustering-factor audit (q212) — the ordering-quality companion to
    * q184's zone maps: within each simulated file, how well does the
    * arrival order cluster user_id? Breaks (a row whose user_id drops
    * below its predecessor, in event_id order) count monotone runs;
    * rows div runs is the average run length — the quantity that decides
    * whether min/max pruning and dictionary encoding actually bite. The
    * time layout interleaves every user (run length ≈ 1); the
    * user-clustered layout concentrates them. Per-(layout, file) windows
    * only; two-row report. */
  def clusteringFactor(spark: SparkSession, dir: String): DataFrame =
    clusteringFactorOf(Tables.events(spark, dir))

  private[graft] def clusteringFactorOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = events.agg(max(col("user_id")).as("maxu"))
    val rows = events
      .select(col("event_id"), col("user_id"), expr("unix_micros(ts) div 3600000000L").as("hour"))
      .crossJoin(broadcast(mx))
      .select(col("event_id"), col("user_id"), explode(expr(
        s"map('time', hour, 'user_clustered', user_id * $ZoneMapBuckets div (maxu + 1))"))
        .as(Seq("layout", "file")))
    val w = Window.partitionBy(col("layout"), col("file")).orderBy(col("event_id"))
    rows
      .withColumn("brk",
        when(lag(col("user_id"), 1).over(w).isNull
          || col("user_id") < lag(col("user_id"), 1).over(w), 1L).otherwise(0L))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_rows"), sum(col("brk")).as("n_runs"))
      .select(col("layout"), col("n_rows"), col("n_runs"),
        expr("n_rows * 100L div n_runs").as("avg_run_len_x100"))
      .orderBy(col("layout"))
  }

  /** q213 geometry, shared with the oracle. */
  private[graft] val HistBins = 8L
  private[graft] val HistPreds = 10L

  /** Histogram cardinality-estimation study (q213) — the optimizer-
    * statistics question behind every cost-based plan: how well do
    * equi-width vs equi-depth histograms ([[HistBins]] bins each, built
    * from the same data) estimate range-predicate selectivity? Ten
    * deterministic range predicates are estimated from each histogram
    * (uniform-within-bin interpolation, pure integer pro-rata) and
    * audited against the exact counts; the per-predicate error in bp IS
    * the argument for equi-depth statistics on skewed columns. All bin
    * math runs on the bounded-value-domain histogram frame (the q113
    * argument — the domain, not the corpus, bounds it); the exact
    * branch is one ×10 map-only conditional pass. Every division is
    * integer, so the oracle replays the estimates bit-for-bit — the
    * q191 companion for RANGE predicates. */
  def histogramAccuracy(spark: SparkSession, dir: String): DataFrame =
    histogramAccuracyOf(Tables.lineitem(spark, dir)
      .select(expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long").as("v")),
      // Four consumers: stats, histogram, bin counts, exact branch.
      vs => graft.SessionMemo.frame(spark, s"q213values|$dir")(vs))

  private[graft] def histogramAccuracyOf(values0: DataFrame,
      memoValues: DataFrame => DataFrame = identity): DataFrame = {
    val B = HistBins
    // Tables.fan (r13): the per-bin range join below is map-side on the
    // scan; and the values frame has three consumers (stats, histogram,
    // bin counts) — persist it once, fanned.
    val values = memoValues(graft.Tables.fan(values0, col("v")))
    val stats = values.agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
      max(col("v")).as("mx"))
    // Bounded-domain value histogram + cumulative counts (q113 idiom;
    // the single-partition window stays — the frame is value-DOMAIN-sized
    // and the q143 PrefixSum reroute measured 3x slower on this shape).
    val hist = values.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
    // Equi-depth boundaries: b_k = min value with cum ≥ k·n div B.
    val depthAggs = (1L until B).map(k =>
      min(when(col("cum") >= expr(s"$k * n div $B"), col("v"))).as(s"b$k"))
    val bounds = hist.crossJoin(broadcast(stats))
      .agg(depthAggs.head, depthAggs.tail: _*)
      .crossJoin(broadcast(stats))
    // 8 bins per histogram type as [lo, hi) rows; final bin ends mx+1.
    val widthBinExpr = (0L until B).map(b =>
      s"struct('width' AS htype, ${b}L AS bin, mn + $b * (mx - mn + 1) div $B AS lo, " +
        s"mn + ${b + 1} * (mx - mn + 1) div $B AS hi)").mkString(", ")
    val depthBinExpr = (0L until B).map { b =>
      val lo = if (b == 0) "mn" else s"b$b"
      val hi = if (b == B - 1) "mx + 1" else s"b${b + 1}"
      s"struct('depth' AS htype, ${b}L AS bin, $lo AS lo, $hi AS hi)"
    }.mkString(", ")
    val bins = bounds.select(explode(expr(s"array($widthBinExpr, $depthBinExpr)")).as("b"))
      .select(col("b.htype"), col("b.bin"), col("b.lo"), col("b.hi"))
    // Per-bin counts: one broadcast range join (16 bin rows).
    val binCounts = values.join(broadcast(bins),
        col("v") >= col("lo") && col("v") < col("hi"))
      .groupBy(col("htype"), col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("c"))
    // Deterministic range predicates p_i = [mn + i·span/20, mn + (i+5)·span/20].
    val preds = stats.select(explode(expr(
      s"transform(sequence(0L, ${HistPreds - 1}L), i -> struct(i AS pred, " +
        "mn + i * (mx - mn) div 20 AS p_lo, mn + (i + 5) * (mx - mn) div 20 AS p_hi))"))
      .as("p")).select(col("p.pred"), col("p.p_lo"), col("p.p_hi"))
    // Histogram estimates: uniform-within-bin integer pro-rata.
    val est = binCounts.crossJoin(broadcast(preds))
      .select(col("htype"), col("pred"),
        // hi > lo guard: duplicate equi-depth boundaries make a
        // zero-width bin — contribution 0, never a division by zero.
        when(col("hi") > col("lo"),
          expr("""c * greatest(0L, least(hi, p_hi + 1) - greatest(lo, p_lo))
            |  div (hi - lo)""".stripMargin)).otherwise(lit(0L)).as("contrib"))
      .groupBy(col("pred"), col("htype")).agg(sum(col("contrib")).as("est"))
      .groupBy(col("pred"))
      .agg(max(when(col("htype") === "width", col("est"))).as("est_width"),
        max(when(col("htype") === "depth", col("est"))).as("est_depth"))
    // Exact counts: one ×10 map-only pass; preds stays the base frame so
    // an (impossible-on-real-data) empty predicate still emits its row.
    val exactAgg = values.crossJoin(broadcast(preds))
      .filter(col("v") >= col("p_lo") && col("v") <= col("p_hi"))
      .groupBy(col("pred")).agg(count(lit(1)).as("exact0"))
    preds.join(exactAgg, Seq("pred"), "left")
      .withColumn("exact", coalesce(col("exact0"), lit(0L)))
      .join(est, "pred").crossJoin(broadcast(stats.select(col("n"))))
      .select(col("pred"), col("p_lo"), col("p_hi"), col("exact"),
        col("est_width"), col("est_depth"),
        expr("abs(est_width - exact) * 10000L div n").as("err_width_bp"),
        expr("abs(est_depth - exact) * 10000L div n").as("err_depth_bp"))
      .orderBy(col("pred"))
  }

  /** Near-dup difference explanations (q214) — the review surface a
    * dedup pipeline owes its operators: for every q27 near-dup pair
    * (memoized tier — the LSH work is not re-paid), the shared/only-a/
    * only-b token counts and a deterministic 3-token sample of what the
    * duplicate ADDS. Pair-sized work on id equi-joins; the sample is
    * sorted-then-sliced so both engines emit identical strings. Dedup
    * decisions that can't be explained don't survive review — this row
    * is the explanation. */
  def nearDupDiff(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDup(spark, dir).select(col("id_a"), col("id_b"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("toks"))
    pairs
      .join(toks, col("id_a") === col("doc_id"))
      .withColumnRenamed("toks", "ta").drop("doc_id")
      .join(toks, col("id_b") === col("doc_id"))
      .withColumnRenamed("toks", "tb").drop("doc_id")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("shared"),
        size(array_except(col("ta"), col("tb"))).cast("long").as("only_a"),
        size(array_except(col("tb"), col("ta"))).cast("long").as("only_b"),
        array_join(slice(array_sort(array_except(col("tb"), col("ta"))), 1, 3), ",")
          .as("added_sample"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Corpus-composition independence test (q215) — is source independent
    * of language? The q145 exact integer chi-square generalized to the
    * r×c contingency table: per cell, observed count, expected×100, and
    * the cell's chi-square contribution in bp — `(o·N − r·c)²·10⁴ div
    * (N·r·c)` — with the table total repeated per row. One corpus scan
    * to the cell counts; margins and totals ride windows on the
    * CELL frame (≤ langs·sources rows). A drifted crawler or a
    * mislabeled source shows up as one fat cell. */
  def independenceTest(spark: SparkSession, dir: String): DataFrame =
    independenceTestOf(Tables.documents(spark, dir))

  private[graft] def independenceTestOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("lang"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("source"))))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("cell_bp",
        // DECIMAL(38,0): (o·N−r·c)²·10⁴ overflows BIGINT past ~30k docs.
        expr("""CAST((CAST(o * n - r * c AS DECIMAL(38,0)) * (o * n - r * c) * 10000)
          |  div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)""".stripMargin))
      .withColumn("total_bp", sum(col("cell_bp")).over(wAll))
      .select(col("lang"), col("source"), col("o"),
        expr("r * c * 100L div n").as("expected_x100"), col("cell_bp"), col("total_bp"))
      .orderBy(col("lang"), col("source"))
  }

  /** Priority counts over an EXISTS predicate (q216, TPC-H Q4 shape) —
    * orders having at least one returned line, counted by priority: the
    * semi-join-then-aggregate pattern (the EXISTS must stay a LeftSemi;
    * materializing the inner join would multiply orders by their
    * matching lines and corrupt the count). The returnflag slice is a
    * pushed scan filter; the priority aggregate partial-combines. */
  def priorityReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** q217 constants, shared with the oracle. */
  private[graft] val KeynessMinCount = 10L
  private[graft] val KeynessK = 20L

  /** Corpus keyness / token shift (q217) — the corpus-linguistics
    * monitor for topic drift between crawls: which tokens are over-
    * represented in snapshot A (even doc ids) vs snapshot B, by
    * add-one-smoothed rate ratio in basis points —
    * `(ca+1)·(tb+V)·10⁴ div ((cb+1)·(ta+V))` — all integer, so the
    * ranking replays exactly. Tokens below [[KeynessMinCount]] total
    * occurrences are noise-gated; the top-[[KeynessK]] per direction
    * surface. One tokenization into the vocab frame; totals ride
    * unbounded windows over it; the report is 2·K rows. */
  def tokenKeyness(spark: SparkSession, dir: String): DataFrame =
    tokenKeynessOf(Tables.documents(spark, dir),
      c => graft.SessionMemo.frame(spark, s"q217counts|$dir")(c))

  /** `memoCounts` pins the vocab-sized keyness frame — its two direction
    * consumers would otherwise re-tokenize the corpus twice (q182
    * pattern). */
  private[graft] def tokenKeynessOf(docs: DataFrame,
      memoCounts: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val counts = memoCounts(docs
      .select(expr("doc_id % 2").as("snap"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("snap") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("snap") === 1L, 1L).otherwise(0L)).as("cb"))
      .withColumn("ta", sum(col("ca")).over(wAll))
      .withColumn("tb", sum(col("cb")).over(wAll))
      .withColumn("v", count(lit(1)).over(wAll))
      .filter(col("ca") + col("cb") >= KeynessMinCount)
      // (ca+1)·(tb+V)·10⁴ rides DECIMAL(38,0) (round-6 advice): tb is the
      // snapshot token total (~10¹² at 100 TB), so the BIGINT triple
      // product wraps silently — same q192/q185 wide-product discipline.
      .select(col("token"), col("ca"), col("cb"),
        expr("CAST(ca + 1 AS DECIMAL(38,0)) * (tb + v) * 10000 div (CAST(cb + 1 AS DECIMAL(38,0)) * (ta + v))").as("ab_bp"),
        expr("CAST(cb + 1 AS DECIMAL(38,0)) * (ta + v) * 10000 div (CAST(ca + 1 AS DECIMAL(38,0)) * (tb + v))").as("ba_bp")))
    val topA = counts.orderBy(col("ab_bp").desc, col("token")).limit(KeynessK.toInt)
      .select(lit("a_over_b").as("direction"), col("token"), col("ca"), col("cb"),
        col("ab_bp").as("ratio_bp"))
    val topB = counts.orderBy(col("ba_bp").desc, col("token")).limit(KeynessK.toInt)
      .select(lit("b_over_a").as("direction"), col("token"), col("ca"), col("cb"),
        col("ba_bp").as("ratio_bp"))
    topA.union(topB).orderBy(col("direction"), col("ratio_bp").desc, col("token"))
  }

  /** q234 IR-eval constants, shared with the oracle: the query-doc
    * selector modulus (doc_id ≡ 1 picks 1% of the corpus as queries), the
    * graded-relevance Jaccard threshold in basis points, and the run
    * cutoff k. */
  private[analytics] val IrQMod = 100L
  private[analytics] val IrRelBp = 9000L
  private[analytics] val IrK = 10

  /** q235 prefix-filter join threshold (Jaccard, basis points). 0.95 — the
    * near-identical band, where the prefix is 1–2 tokens and candidate
    * volume stays near-linear even on this densely-duplicated corpus. */
  private[graft] val PfxJacBp = 9500L

  /** Exact similarity self-join via prefix filtering (q235) — the
    * PPJoin/AllPairs family (Bayardo et al. 2007, Xiao et al. 2008): under
    * a global rarest-first token order, two sets with Jaccard ≥ t MUST
    * share a token inside each other's first |x| − ⌈t·|x|⌉ + 1 tokens, so
    * candidate generation joins only those prefixes (plus the length
    * filter t·max ≤ min) and verification touches candidate pairs only.
    * Unlike the MinHash/SimHash paths this is EXACT — zero false
    * negatives by theorem, verified pairs only — the right tool when the
    * dedup policy must be auditable. The per-doc prefix rank is computed
    * with a PER-DOCUMENT window over the global (frequency, token) key —
    * never a vocabulary-sized single-partition sort.
    *
    * Candidate pruning is the full PPJoin pair (round-7 verdict #1): the
    * prefix + length filters, AND the POSITIONAL filter (Xiao et al. 2008
    * §3.2) — the globally-first shared token of any pair with J ≥ t sits
    * inside both prefixes, so per candidate pair the match with the
    * minimal prefix rank IS that token, and its positions (i₁, j₁) bound
    * the overlap by 1 + min(|x|−i₁, |y|−j₁); pairs whose bound misses the
    * equivalent-overlap threshold α = ⌈t·(|x|+|y|)/(1+t)⌉ never reach
    * verification. */
  def prefixFilterJoin(spark: SparkSession, dir: String): DataFrame =
    prefixFilterJoinOf(Tables.documents(spark, dir),
      // The sets/members frames feed MANY lineage branches (prefix sides,
      // verify sides, clique expansion) — unpersisted, each branch re-runs
      // the grouping shuffle; persisted once, they serve them all.
      sm => (graft.SessionMemo.frame(spark, s"q235sets|$dir")(sm._1),
        graft.SessionMemo.frame(spark, s"q235members|$dir")(sm._2)),
      p => graft.SessionMemo.frame(spark, s"q235pfx|$dir")(p))

  private[graft] def prefixFilterJoinOf(docs: DataFrame,
      memoSets: ((DataFrame, DataFrame)) => (DataFrame, DataFrame) = identity(_),
      memoPfx: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Collapse identical token SETS first (the q131 discipline; round-7
    // verdict #1's deeper fix): on a densely-duplicated corpus the exact
    // duplicates form huge cliques whose pairs are quadratic, and a
    // small vocabulary leaves the prefix/positional filters little to
    // prune (sf0.1: 31-token vocabulary, 5 000 docs but only 3 935
    // DISTINCT sets, max clique 248). Deduping sets first makes the
    // quadratic stage scale with DISTINCT-set cardinality: every
    // exact-dup clique verifies once, and doc-level results expand back
    // by membership joins. The set id is the clique's MIN doc_id, which
    // the expansion exploits. The per-doc token set itself is MAP-ONLY
    // (array_distinct over the split — no explode/shuffle round-trip).
    val docSets = docs.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val sets0 = docSets.groupBy(col("toks"))
      .agg(min(col("doc_id")).as("sid"), count(lit(1)).as("m"))
    val members0 = docSets.join(sets0.select(col("toks"), col("sid")), Seq("toks"))
      .select(col("doc_id"), col("sid"))
    val (sets, members) = memoSets((sets0, members0))
    // PPJoin over distinct sets: prefix + length + positional filters.
    val shuffleN = graft.Tables.shuffleWidth(docs.sparkSession)
    val sdt = sets.select(col("sid"), size(col("toks")).cast("long").as("sz"),
      explode(col("toks")).as("token"))
    val cnt = sdt.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // r13 optimization: persist — TWO consumers (probe side `a`, index
    // side `idx`), so the whole postings + token-df + rank pipeline
    // otherwise executes twice per run; memoized + eager via memoPfx (r14).
    val pfx = memoPfx(sdt.join(cnt, Seq("token"))
      // Explicit width: the per-set rank window is CPU-shaped, and AQE's
      // byte-based coalescing would run the whole postings frame through
      // one sorted task (same rationale as the verify repartition below).
      .repartition(shuffleN, col("sid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sid")).orderBy(col("cnt"), col("token"))).cast("long"))
      .filter(col("rn") <= col("sz") - expr(s"($PfxJacBp * sz + 9999) div 10000") + 1L))
    def side(s: String) = pfx.select(col("token"), col("sid").as(s"id_$s"),
      col("sz").as(s"sz_$s"), col("rn").as(s"rn_$s"))
    // Asymmetric AllPairs candidate join, two refinements over the naive
    // prefix self-join:
    //  (1) Length keys: the probe side explodes its compatible partner
    //      sizes [⌈t·sz⌉, sz] into the join key, so size-incompatible
    //      prefix collisions never materialize as join rows (14.3 M → ~1 M
    //      raw candidates at sf0.1).
    //  (2) Index prefix: pairs orient probe = larger set (ties: larger
    //      sid), and the INDEX side only emits its first
    //      sz − ⌈2t/(1+t)·sz⌉ + 1 tokens — the tighter bound that holds
    //      because the required overlap α = t/(1+t)·(|x|+|y|) is
    //      ≥ 2t/(1+t)·|y| whenever |y| ≤ |x|, halving the index postings
    //      at t = 0.95 (1 token per set vs the probe's 2).
    // Each unordered pair survives under exactly one orientation, so the
    // positional groupBy below needs no id-order filter to dedupe.
    val a = side("a").withColumn("sz_b", explode(expr(
      s"sequence(($PfxJacBp * sz_a + 9999) div 10000, sz_a)")))
    val idx = side("b").filter(col("rn_b") <=
      col("sz_b") - expr(s"(2 * $PfxJacBp * sz_b + ${10000L + PfxJacBp} - 1) div ${10000L + PfxJacBp}") + 1L)
    val cands = a.join(idx, Seq("token", "sz_b"))
      .filter(col("sz_b") < col("sz_a") ||
        (col("sz_b") === col("sz_a") && col("id_b") < col("id_a")))
      // The groupBy both deduplicates multi-token candidates AND recovers
      // the globally-first shared prefix token's positions: prefix ranks
      // follow the global (frequency, token) order, so the minimal
      // (rn_a, rn_b) — packed into one long so the aggregate stays a
      // map-side-combining codegen HashAggregate instead of a min_by
      // SortAggregate — selects it and carries its partner position.
      // Pack shift 2²⁰ caps token-set size at ~1M, far above any
      // whitespace-tokenized document.
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("rn_a") * lit(1048576L) + col("rn_b")).as("p1"))
      .withColumn("i1", expr("p1 div 1048576"))
      .withColumn("j1", expr("p1 % 1048576"))
      // Positional filter: overlap ≤ 1 + min(|x|−i₁, |y|−j₁) must reach
      // α = ⌈t·(|x|+|y|)/(1+t)⌉ ⇔ bound·(10⁴+t_bp) ≥ t_bp·(|x|+|y|).
      .filter((lit(1L) + least(col("sz_a") - col("i1"), col("sz_b") - col("j1"))) *
        (lit(10000L) + lit(PfxJacBp)) >= lit(PfxJacBp) * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      // The verify stage below is CPU-bound (per-pair array
      // intersections), not byte-bound: AQE's size-based coalescing sees
      // a few MB of candidate pairs and funnels them into ONE partition —
      // an 8.5 s single task at sf0.1. Pin the stage to the session's
      // shuffle width instead (explicit numPartitions disables AQE
      // coalescing on this exchange).
      .repartition(shuffleN, col("id_a"), col("id_b"))
    // Verification: exact intersections for CANDIDATE set pairs only, via
    // each side's sorted token array (no re-shuffle of the postings).
    // Distinct sets intersect strictly below their union, so cross-set
    // jac_bp < 10000 always — the expansion below leans on that.
    val setsArr = sets.select(col("sid"), col("toks"))
    val spairs = cands
      .join(setsArr.select(col("sid").as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(setsArr.select(col("sid").as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 10000L >= lit(PfxJacBp) * col("uni"))
      .select(col("id_a"), col("id_b"), expr("inter * 10000L div uni").as("jac_bp"))
    // Expansion back to the per-document summary — output stays O(corpus)
    // at any SF. A doc's partners are (a) its clique co-members, all at
    // J = 10000 bp, and (b) every member of each verified partner set.
    // Symmetrize in ONE pass over the verified pairs (an explode of both
    // directions) — a self-union would execute the whole verify subtree
    // twice by lineage.
    val ssym = spairs.select(explode(array(
        struct(col("id_a").as("sid"), col("id_b").as("psid"), col("jac_bp")),
        struct(col("id_b").as("sid"), col("id_a").as("psid"), col("jac_bp")))).as("e"))
      .select(col("e.sid").as("sid"), col("e.psid").as("psid"), col("e.jac_bp").as("jac_bp"))
      .join(sets.select(col("sid").as("psid"), col("m").as("pm")), Seq("psid"))
    val cross = ssym.groupBy(col("sid")).agg(
      sum(col("pm")).as("n_cross"),
      min(col("jac_bp")).as("minx"),
      max(col("jac_bp")).as("maxx"),
      // Best cross partner doc = min member (= the sid itself) of the
      // best-Jaccard partner set, ties to the smaller set id.
      expr("min_by(psid, struct(-jac_bp, psid))").as("bestx_sid"))
    // Second-smallest clique member — needed as best_partner only for the
    // clique's own min doc; an aggregate over members, never a window.
    val min2 = members.filter(col("doc_id") =!= col("sid"))
      .groupBy(col("sid")).agg(min(col("doc_id")).as("min2"))
    members
      .join(sets.select(col("sid"), col("m")), Seq("sid"))
      .join(min2, Seq("sid"), "left")
      .join(cross, Seq("sid"), "left")
      .filter(col("m") > 1L || col("n_cross").isNotNull)
      .select(col("doc_id"),
        (col("m") - 1L + coalesce(col("n_cross"), lit(0L))).as("n_matches"),
        // Cross-set Jaccard sits strictly below 10000, so min/max/best
        // resolve without comparing the two partner classes row-wise.
        coalesce(col("minx"), lit(10000L)).as("min_jac_bp"),
        when(col("m") > 1L, lit(10000L)).otherwise(col("maxx")).as("max_jac_bp"),
        when(col("m") > 1L,
          when(col("doc_id") === col("sid"), col("min2")).otherwise(col("sid")))
          .otherwise(col("bestx_sid")).as("best_partner"))
      .orderBy(col("doc_id"))
  }

  /** q236 storage-encoding advisor: rows per storage block (the parquet
    * page/row-group proxy — runs are counted within blocks because that is
    * the granularity an encoder actually sees). */
  private[analytics] val EncBlockRows = 8192L

  /** Storage-encoding advisor (q236) — the layout decision a columnar
    * writer makes per column chunk, surfaced as a query: for each audited
    * column, NDV, storage-order run count (within [[EncBlockRows]]-row
    * blocks, never a global single-partition sort), and the exact byte
    * cost of PLAIN vs DICTIONARY (entries + ⌈log₂ ndv⌉-bit codes — the
    * `length(bin(...))` integer-log idiom) vs RLE (one value + length per
    * run) under a documented cost model; the advisor picks the argmin.
    * At 100 TB this is the query you run before rewriting a table — the
    * same statistics parquet-mr consults per chunk, here exact and
    * engine-portable. Cost model (documented, shared with the oracle):
    * ints are 8-byte PLAIN entries, strings are len+4; DICT codes pack at
    * ⌈log₂ ndv⌉ bits; an RLE run stores its value + a 4-byte length. */
  def encodingAudit(spark: SparkSession, dir: String): DataFrame =
    encodingAuditOf(Tables.events(spark, dir))

  private[graft] def encodingAuditOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col("event_id"), col("user_id"), col("event_type"),
      expr("CAST(value * 100 AS DECIMAL(14,0))").cast("long").as("cents"))
    def one(name: String, vExpr: String, stringy: Boolean): DataFrame =
      base.select(lit(name).as("col_name"),
        col("event_id").as("ord"),
        expr(s"event_id div $EncBlockRows").as("blk"),
        expr(vExpr).cast("string").as("v"),
        (if (stringy) length(expr(vExpr).cast("string")).cast("long") + 4L
         else lit(8L)).as("vbytes"))
    val u = one("user_id", "user_id", stringy = false)
      .unionByName(one("event_type", "event_type", stringy = true))
      .unionByName(one("cents", "cents", stringy = false))
    val w = Window.partitionBy(col("col_name"), col("blk")).orderBy(col("ord"))
    val runs = u.withColumn("is_start",
      when(lag(col("v"), 1).over(w).isNull || lag(col("v"), 1).over(w) =!= col("v"), 1L)
        .otherwise(0L))
    val perCol = runs.groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("v")).as("ndv"),
      sum(col("is_start")).as("n_runs"),
      sum(col("vbytes")).as("plain_bytes"),
      sum(when(col("is_start") === 1L, col("vbytes") + 4L).otherwise(0L)).as("rle_bytes"))
    val dictEntries = u.select(col("col_name"), col("v"), col("vbytes")).distinct()
      .groupBy(col("col_name")).agg(sum(col("vbytes")).as("dict_entry_bytes"))
    perCol.join(dictEntries, Seq("col_name"))
      .withColumn("bits",
        expr("CASE WHEN ndv <= 1 THEN 1L ELSE CAST(length(bin(ndv - 1)) AS BIGINT) END"))
      .withColumn("dict_bytes", expr("dict_entry_bytes + (bits * n_rows + 7) div 8"))
      .withColumn("encoding", expr(
        """CASE WHEN plain_bytes <= dict_bytes AND plain_bytes <= rle_bytes THEN 'plain'
          |     WHEN dict_bytes <= rle_bytes THEN 'dict' ELSE 'rle' END""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("ndv"), col("n_runs"),
        col("plain_bytes"), col("dict_bytes"), col("rle_bytes"), col("encoding"))
      .orderBy(col("col_name"))
  }

  /** q237 shard-rebalance constants: the before/after shard counts. */
  private[analytics] val ShardsOld = 8L
  private[analytics] val ShardsNew = 9L

  /** Consistent-placement audit (q237) — what adding one shard costs under
    * two routing disciplines, measured exactly: naive `hash mod N` (every
    * key whose residue changes moves — ~(N−1)/N of the corpus re-shuffles)
    * vs rendezvous/HRW hashing (Thaler–Ravishankar: route to
    * argmaxₛ h(key,s); adding shard N+1 moves ONLY keys whose new
    * candidate wins — ~1/(N+1)). Emits per strategy the moved fraction
    * and the max-shard load imbalance before/after, integer bp. Hashes
    * are the portable md5-h60, so the oracle replays routing bit-exactly.
    * Scale shape: distinct keys → one map-side explode ([[ShardsNew]]
    * rows per key) → one aggregate; no shuffle beyond the distinct. */
  def shardRebalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    // The 4-bit packing below holds shard ids 0..15 only (round-7 advice:
    // guard the invariant instead of silently mis-decoding shard 16+).
    require(ShardsNew <= 16L, s"packed-argmax routing supports ≤16 shards, got $ShardsNew")
    val keys = Tables.events(spark, dir).select(col("user_id")).distinct()
    val h = md5_token_hashes(array(col("user_id").cast("string")), bits = 60).getItem(0)
    val mod = keys.select(col("user_id"),
      pmod(h, lit(ShardsOld)).as("s_old"), pmod(h, lit(ShardsNew)).as("s_new"))
    val hrw = keys
      .select(col("user_id"), explode(expr(s"sequence(0L, ${ShardsNew - 1L})")).as("s"))
      .withColumn("hw", md5_token_hashes(
        array(concat(col("user_id").cast("string"), lit("#"), col("s").cast("string"))),
        bits = 60).getItem(0))
      // Pack (h, s) into one orderable BIGINT: drop h's low 4 bits so the
      // shard id fits below them with explicit headroom (round-7 advice:
      // the previous 1-bit drop relied on 59+4 bits landing EXACTLY on
      // Long.MaxValue) — both engines take the identical argmax. h keeps
      // 56 high bits; ties across shards are then h-collisions at 2⁻⁵⁶,
      // and the +s low bits break even those deterministically.
      .withColumn("packed", expr("(hw div 16) * 16 + s"))
      .groupBy(col("user_id"))
      .agg(max(when(col("s") < ShardsOld, col("packed"))).as("po"),
        max(col("packed")).as("pn"))
      .select(col("user_id"), pmod(col("po"), lit(16L)).as("s_old"),
        pmod(col("pn"), lit(16L)).as("s_new"))
    val both = mod.select(lit("mod").as("strategy"), col("user_id"), col("s_old"), col("s_new"))
      .unionByName(hrw.select(lit("hrw").as("strategy"), col("user_id"), col("s_old"), col("s_new")))
    val moved = both.groupBy(col("strategy")).agg(count(lit(1)).as("n_keys"),
      sum(when(col("s_old") =!= col("s_new"), 1L).otherwise(0L)).as("n_moved"))
    val loadOld = both.groupBy(col("strategy"), col("s_old")).agg(count(lit(1)).as("c"))
      .groupBy(col("strategy")).agg(max(col("c")).as("max_old"))
    val loadNew = both.groupBy(col("strategy"), col("s_new")).agg(count(lit(1)).as("c"))
      .groupBy(col("strategy")).agg(max(col("c")).as("max_new"))
    moved.join(loadOld, Seq("strategy")).join(loadNew, Seq("strategy"))
      .select(col("strategy"), col("n_keys"), col("n_moved"),
        expr("n_moved * 10000L div n_keys").as("moved_bp"),
        expr(s"max_old * 10000L * $ShardsOld div n_keys").as("max_load_old_bp"),
        expr(s"max_new * 10000L * $ShardsNew div n_keys").as("max_load_new_bp"))
      .orderBy(col("strategy"))
  }

  /** q238 Bloom runtime-filter constants: bit-array size and hash count
    * (m = 2¹⁷, k = 3 — sized so the sf0.1 build side loads the filter to
    * a measurable false-positive regime instead of a trivial one). */
  private[analytics] val BloomM = 131072L
  private[analytics] val BloomK = 3

  /** Bloom runtime-filter join pruning (q238) — the semi-join reduction
    * every warehouse applies before an expensive fact-side join (Spark's
    * own InjectRuntimeFilter, here engine-portable and exactly audited):
    * build a k-hash Bloom filter over the filtered dimension's keys, probe
    * every fact key, and join only survivors. Because the filter is
    * portable md5 arithmetic, the oracle replays membership bit-for-bit,
    * and the audit row reports EXACT false-positive accounting (the part
    * production systems estimate): keys/rows passing, truly matching, and
    * the FP rate among true negatives. Zero false negatives by
    * construction — asserted in spec, not just claimed. Scale shape: fact
    * keys pre-aggregate (dedup) before hashing; the filter's set bit
    * positions travel as a broadcast; nothing corpus-sized shuffles. */
  def bloomJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    def positions(key: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
      (0 until BloomK).map(i =>
      pmod(md5_token_hashes(
        array(concat(key.cast("string"), lit("/"), lit(i.toString))), bits = 60).getItem(0),
        lit(BloomM)))
    val build = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).distinct()
    val bits = build.select(explode(array(positions(col("o_orderkey")): _*)).as("pos")).distinct()
    val probe = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_rows"))
    val passKeys = probe
      .select(col("l_orderkey"), col("n_rows"),
        explode(array(positions(col("l_orderkey")): _*)).as("pos"))
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("l_orderkey"), col("n_rows")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomK)
    val truth = probe.join(
      broadcast(build.withColumnRenamed("o_orderkey", "l_orderkey")), Seq("l_orderkey"))
    probe.agg(sum(col("n_rows")).as("n_probe"), count(lit(1)).as("n_probe_keys"))
      .crossJoin(passKeys.agg(coalesce(sum(col("n_rows")), lit(0L)).as("n_pass")))
      .crossJoin(truth.agg(coalesce(sum(col("n_rows")), lit(0L)).as("n_true")))
      .crossJoin(build.agg(count(lit(1)).as("n_build")))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
      .select(col("n_build"), col("bits_set"), lit(BloomM).as("m_bits"),
        col("n_probe_keys"), col("n_probe"), col("n_pass"), col("n_true"),
        (col("n_pass") - col("n_true")).as("n_false_pos"),
        expr("CASE WHEN n_probe = n_true THEN 0L ELSE (n_pass - n_true) * 10000L div (n_probe - n_true) END")
          .as("fp_bp"))
  }

  /** Exact global ranking as a first-class query (q239) — the
    * [[graft.operators.GlobalRank]] primitive (round-7 verdict #8: the
    * range-partitioned two-pass that generalizes the q168/q185 fix)
    * surfaced on the lifetime-value leaderboard every analytics stack
    * ships: every user's exact spend rank and percentile, bit-identical
    * to `row_number() OVER (ORDER BY total DESC, user_id)` but computed
    * shard-parallel — block-local rank after a sampled range exchange,
    * plus broadcast block offsets. The corpus-sized stage is one user
    * reduction; the rank never funnels through a single sorted task. */
  def globalRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id"), expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("total_cents"), count(lit(1)).as("n_events"))
    val ranked = graft.operators.GlobalRank
      .rowNumber(users, Seq(col("total_cents").desc, col("user_id").asc), "rk")
    val n = users.agg(count(lit(1)).as("n_users"))
    ranked.crossJoin(broadcast(n))
      .select(col("user_id"), col("total_cents"), col("n_events"), col("rk"),
        expr("rk * 10000L div n_users").as("pctile_bp"))
      .orderBy(col("rk"))
  }

  /** Exact distributed quantiles (q241) — the selection complement to
    * q69's `approx_percentile`: p50/p90/p99/p99.9 of the event-value
    * distribution EXACTLY, via [[graft.operators.GlobalRank]] (sampled
    * range exchange + block-local rank — no single-task sort) and the
    * textbook ceiling-rank selection rk = ⌈p·n⌉. The 4-row quantile spec
    * broadcasts and matches ranks map-side, so the corpus-sized work is
    * one range shuffle; `approx_percentile`'s error bound becomes an
    * equality the oracle hash-checks. At 100 TB this is the exact-SLA
    * readout (p99.9 latency, p99 spend) a sketch can only bracket. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame =
    exactQuantilesOf(Tables.events(spark, dir))

  private[graft] def exactQuantilesOf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val v = events
      .filter(col("value").isNotNull)
      .select(col("event_id"), expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
    val ranked = graft.operators.GlobalRank
      .rowNumber(v, Seq(col("cents").asc, col("event_id").asc), "rk")
    val n = v.agg(count(lit(1)).as("n_rows"))
    val quants = Seq(("p50", 50L, 100L), ("p90", 90L, 100L),
      ("p99", 99L, 100L), ("p999", 999L, 1000L)).toDF("quantile", "p_num", "p_den")
    ranked.crossJoin(broadcast(n))
      .join(broadcast(quants),
        col("rk") === expr("(n_rows * p_num + p_den - 1) div p_den"))
      .select(col("quantile"), col("rk").as("rank"), col("n_rows"), col("cents"))
      .orderBy(col("quantile"))
  }

  /** q242 skew-audit constants, shared with the oracle: the simulated
    * shuffle width and the candidate salt factors. */
  private[graft] val SkewParts = 32L
  private[graft] val SkewSalts = Seq(1L, 2L, 4L, 8L)

  /** Shuffle-skew audit with salt sweep (q242) — the MEASURE step after
    * q107's diagnose step: q107 recommends a salt factor from per-key
    * counts; this query verifies what each factor actually buys at the
    * reducer. Route every
    * event row by the portable md5-h60 of `user_id#(event_id % s)` into
    * [[SkewParts]] reducers for each candidate salt factor
    * s ∈ [[SkewSalts]] (s = 1 is the unsalted baseline), and report per
    * factor the reducers used, the hottest reducer's load, and the
    * max/avg imbalance in bp (10000 = perfectly even). The routing hash
    * is the same engine-portable arithmetic as q237, so DuckDB replays
    * the placement bit-exactly — the salt recommendation is a measured
    * fact, not a heuristic. One map-side explode (|salts| rows per
    * event) + one aggregate pair; nothing corpus-sized joins. */
  def saltSweepAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val salts = SkewSalts.mkString("array(", "L,", "L)")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), explode(expr(salts)).as("salt"))
    val h = md5_token_hashes(
      array(concat(col("user_id").cast("string"), lit("#"),
        (col("event_id") % col("salt")).cast("string"))), bits = 60).getItem(0)
    ev.withColumn("part", pmod(h, lit(SkewParts)))
      .groupBy(col("salt"), col("part")).agg(count(lit(1)).as("load"))
      .groupBy(col("salt"))
      .agg(sum(col("load")).as("n_rows"), count(lit(1)).as("parts_used"),
        max(col("load")).as("max_load"))
      .select(col("salt"), col("n_rows"), col("parts_used"), col("max_load"),
        expr(s"max_load * 10000L * $SkewParts div n_rows").as("skew_bp"))
      .orderBy(col("salt"))
  }

  /** q243 patterns, shared with the oracle. Chosen to span the precision
    * spectrum: an adjacent-word literal, a rare collocation, and a
    * cross-word fragment whose trigrams are individually common. */
  private[graft] val TrigramPatterns = Seq("merge batch", "slow fast", "k agg r")

  /** q244 Benford expected first-digit shares in basis points —
    * ⌊log10(1 + 1/d)·10⁴⌋ for d = 1..9, public constants (the floor makes
    * them sum to 9998; the statistic uses them verbatim on both engines,
    * so the 2 bp of rounding cancels in the compare). */
  private[graft] val BenfordBp = Seq(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L)

  /** Benford first-digit conformance audit (q244) — the forensic
    * data-quality screen run on financial columns before trusting them
    * (fabricated or capped numbers flunk it): the first significant
    * digit of every positive order total, observed vs Benford-expected
    * share, per-digit deviation, and the Pearson χ² statistic — all in
    * exact integer arithmetic against the published constants
    * ([[BenfordBp]]), no libm log in either engine. Emits one row per
    * digit plus the χ² ride-along; the digit extraction is pure string
    * arithmetic on exact cents (`substring` of the BIGINT — never float
    * formatting). One scan → 9-key aggregate; nothing shuffles but the
    * 9-row digit frame. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordAuditOf(Tables.orders(spark, dir))

  private[graft] def benfordAuditOf(orders: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val cents = orders
      .select(expr("CAST(o_totalprice * 100 AS DECIMAL(14,0))").cast("long").as("cents"))
      .filter(col("cents") > 0L)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)").as("digit"))
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => (i + 1L, bp) }.toDF("digit", "expected_bp")
    val obs = cents.groupBy(col("digit")).agg(count(lit(1)).as("n_observed"))
    val joined = broadcast(expected).join(obs, Seq("digit"), "left")
      .withColumn("n_observed", coalesce(col("n_observed"), lit(0L)))
    val tot = cents.agg(count(lit(1)).as("n_total"))
    // χ² = Σ (obs − exp)² / exp with exp = n·p; in integer bp:
    // Σ (obs·10⁴ − n·p_bp)² · 10⁴ div (n · p_bp · 10⁴) — DECIMAL(38,0)
    // for the squared term (obs·10⁴ ~ 10¹¹ at production counts squares
    // past BIGINT, the q185/q192 wide-product discipline).
    joined.crossJoin(broadcast(tot))
      .withColumn("observed_bp", expr("n_observed * 10000L div n_total"))
      .withColumn("dev_bp", col("observed_bp") - col("expected_bp"))
      .withColumn("chi2_x10000",
        expr("""CAST((CAST(n_observed AS DECIMAL(38,0)) * 10000 - CAST(n_total AS DECIMAL(38,0)) * expected_bp)
               |  * (CAST(n_observed AS DECIMAL(38,0)) * 10000 - CAST(n_total AS DECIMAL(38,0)) * expected_bp)
               |  div (CAST(n_total AS DECIMAL(38,0)) * expected_bp * 10000) AS BIGINT)""".stripMargin))
      .select(col("digit"), col("n_observed"), col("n_total"),
        col("expected_bp"), col("observed_bp"), col("dev_bp"), col("chi2_x10000"))
      .orderBy(col("digit"))
  }

  /** Schema-evolution audit (q246) — the reference repo's own migration
    * problem (SURVEY §0.1: gen-1 payloads carry `sword_type`/`guild_name`,
    * gen-2 replaces them with `direction`/`event_detail`) surfaced as the
    * audit a lakehouse runs before merging mixed-generation JSON: both
    * generations serialize (deterministic field synthesis from the typed
    * rows), re-parse under the MERGED superset schema (PERMISSIVE —
    * absent fields read as null, exactly how schema-on-read sees old
    * files), and every field reports per-generation non-null coverage in
    * bp plus its migration status (common / removed_in_gen2 /
    * added_in_gen2). Map-only serialize+parse, one 5-key aggregate; the
    * oracle replays the field-synthesis rules directly — a parser that
    * dropped or hallucinated a field breaks the hash. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val gen1 = ev.filter(col("event_id") % 2 === 0)
      .select(lit(1L).as("gen"), to_json(struct(
        col("event_type"),
        concat(lit("sword_"), (col("user_id") % 3).cast("string")).as("sword_type"),
        concat(lit("guild_"), (col("user_id") % 5).cast("string")).as("guild_name"))).as("line"))
    val gen2 = ev.filter(col("event_id") % 2 === 1)
      .select(lit(2L).as("gen"), to_json(struct(
        col("event_type"),
        when(col("user_id") % 2 === 0, "increase").otherwise("reduce").as("direction"),
        concat(lit("detail_"), (col("user_id") % 7).cast("string")).as("event_detail"))).as("line"))
    val merged = org.apache.spark.sql.types.StructType.fromDDL(
      "event_type STRING, sword_type STRING, guild_name STRING, direction STRING, event_detail STRING")
    val fields = Seq("event_type", "sword_type", "guild_name", "direction", "event_detail")
    val stackExpr = "stack(" + fields.size + ", " +
      fields.map(f => s"'$f', CASE WHEN p.$f IS NOT NULL THEN 1L ELSE 0L END").mkString(", ") +
      ") AS (field, present)"
    gen1.unionByName(gen2)
      .select(col("gen"), from_json(col("line"), merged).as("p"))
      .select(col("gen"), expr(stackExpr))
      .groupBy(col("field"))
      .agg(sum(when(col("gen") === 1L, col("present")).otherwise(0L)).as("gen1_nonnull"),
        sum(when(col("gen") === 1L, 1L).otherwise(0L)).as("gen1_rows"),
        sum(when(col("gen") === 2L, col("present")).otherwise(0L)).as("gen2_nonnull"),
        sum(when(col("gen") === 2L, 1L).otherwise(0L)).as("gen2_rows"))
      .select(col("field"), col("gen1_nonnull"), col("gen2_nonnull"),
        expr("gen1_nonnull * 10000L div gen1_rows").as("gen1_coverage_bp"),
        expr("gen2_nonnull * 10000L div gen2_rows").as("gen2_coverage_bp"),
        expr("""CASE WHEN gen1_nonnull > 0 AND gen2_nonnull > 0 THEN 'common'
               |  WHEN gen1_nonnull > 0 THEN 'removed_in_gen2'
               |  WHEN gen2_nonnull > 0 THEN 'added_in_gen2'
               |  ELSE 'absent' END""".stripMargin).as("status"))
      .orderBy(col("field"))
  }

  /** Source cross-contamination matrix (q247) — the provenance question
    * a dedup run should answer but usually doesn't: WHICH sources
    * duplicate WHICH (same-source crawl redundancy vs cross-source
    * mirroring), from the already-verified Jaccard ≥ 0.95 pair tier (the
    * shared [[nearDupTiers]] memo — zero additional similarity work).
    * Emits the canonical (source_a ≤ source_b) matrix with pair counts
    * and each cell's share of all near-dup pairs in bp. At 100 TB this
    * is the table that decides "drop mirror X" vs "dedup within crawl
    * Y" — policy from provenance, not just pair counts. Scale shape:
    * pair-sized joins against a broadcast-able (doc, source) projection;
    * the matrix is |sources|²-bounded. */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val (members, setPairs) = nearDupTiers(spark, dir)
    val pairs = Dedup.pairsOfTiered(members, setPairs).select(col("id_a"), col("id_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val cells = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val tot = cells.agg(count(lit(1)).as("n_total"))
    cells.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("n_pairs * 10000L div n_total").as("share_bp"),
        (col("source_a") =!= col("source_b")).as("is_cross_source"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Committed-index cell-balance audit (q248) — the index health check
    * run against the LAYOUT ON DISK, not a recomputation: read the
    * committed IVFPQ layout's cell-partitioned code files (the same
    * layout q98 searches), and report per cell its occupancy and share,
    * plus the ride-along imbalance (max/avg in bp, with 10000 = even)
    * and empty-cell count — the numbers that decide "re-train the coarse
    * quantizer" at 100 TB, where a hot cell IS a hot partition. The
    * oracle recomputes the assignment independently from the embeddings
    * (the q81/q98 seeded-cell CTEs), so a STALE or corrupted committed
    * layout — not just a wrong aggregate — breaks the hash. Scale shape:
    * one scan of code rows (cell column only, partition-pruned by
    * layout), one nlist-key aggregate. */
  def cellBalanceAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.IvfPqIndex
    val embs = Tables.embeddings(spark, dir)
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    val nlist = idx.cellMatrix.length.toLong
    val occ = spark.read.parquet(s"${idx.location}/codes")
      .select(col("cell").cast("long").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val full = spark.range(0L, nlist).select(col("id").as("cell"))
      .join(occ, Seq("cell"), "left")
      .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
    val tot = full.agg(sum(col("n_vecs")).as("n_total"),
      max(col("n_vecs")).as("max_occ"),
      sum(when(col("n_vecs") === 0L, 1L).otherwise(0L)).as("n_empty"))
    full.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 10000L div n_total").as("share_bp"),
        expr(s"max_occ * 10000L * $nlist div n_total").as("imbalance_bp"),
        col("n_empty"))
      .orderBy(col("cell"))
  }

  /** q249 n-gram width, shared with the oracle. */
  private[graft] val NovN = 5

  /** Snapshot n-gram novelty (q249) — the freshness metric behind
    * "how much of today's crawl is actually NEW text" (the RefinedWeb /
    * memorization-risk readout, one level finer than q104's doc-level
    * diff): word [[NovN]]-grams of the NEW snapshot, marked against the
    * OLD snapshot's distinct gram set (q104's exact snapshot
    * derivation), reported per language at both the INSTANCE level
    * (token-mass novelty — what training actually sees) and the TYPE
    * level (distinct-gram novelty — what memorization studies count).
    * Scale shape: one explode per snapshot, one gram-keyed join (the old
    * side pre-distincts — at 100 TB that side is the gram dictionary, a
    * bucketed layout in practice), one lang-keyed aggregate. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyOf(Tables.documents(spark, dir))

  private[graft] def ngramNoveltyOf(docs0: DataFrame): DataFrame = {
    // Tables.fan (r13): both snapshot branches tokenize map-side.
    val docs = graft.Tables.fan(
      docs0.select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
    def gramsOf(textExpr: String): org.apache.spark.sql.Column = explode(expr(
      s"""transform(sequence(1, greatest(size(split($textExpr, ' ')) - ${NovN - 1}, 0)),
         |  i -> array_join(slice(split($textExpr, ' '), i, $NovN), ' '))""".stripMargin))
    val oldGrams = docs.filter(col("doc_id") % 5 =!= 1)
      .select(gramsOf("text").as("gram")).distinct()
    val newInst = docs.filter(col("doc_id") % 5 =!= 3)
      .withColumn("t",
        when(col("doc_id") % 5 === 2, concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .select(col("lang"), gramsOf("t").as("gram"))
    newInst.join(oldGrams.withColumn("seen", lit(1L)), Seq("gram"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_instances"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("novel_instances"),
        countDistinct(col("gram")).as("n_types"),
        countDistinct(when(col("seen").isNull, col("gram"))).as("novel_types"))
      .select(col("lang"), col("n_instances"), col("novel_instances"),
        expr("novel_instances * 10000L div n_instances").as("instance_novelty_bp"),
        col("n_types"), col("novel_types"),
        expr("novel_types * 10000L div n_types").as("type_novelty_bp"))
      .orderBy(col("lang"))
  }

  /** PQ reconstruction-error audit (q250) — the quantization-quality
    * complement to q248's occupancy audit: per IVF cell, the exact
    * fixed-point residual-PQ reconstruction error under the COMMITTED
    * quantizer (centroids + codebooks from the layout sidecar, the same
    * objects q98 searches with). Per vector the error is the
    * subspace-ordered double fold of per-subspace best-centroid
    * distances (PqEncode's own `dist` field), floored ×10⁶ to a BIGINT
    * so the per-cell SUM is order-free and hash-exact (the q82
    * discipline). A hot cell with high mean error is the cell whose
    * vectors the coarse quantizer serves worst — the re-train trigger,
    * per cell instead of global. Scale shape: one map-only
    * assign+encode projection over the corpus (identical to the build's
    * encode pass), one nlist-key aggregate. */
  def pqReconError(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.IvfPqIndex
    import graft.functions.IvfFunctions.nearest_cells
    import graft.functions.PqFunctions.pq_encode
    val embs = Tables.embeddings(spark, dir)
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    val indexable = embs.filter(col("embedding").isNotNull &&
      size(col("embedding")) >= idx.params.dim)
    val withRes = indexable
      .select(col("vec_id"),
        element_at(nearest_cells(col("embedding"), idx.cellMatrix, 1), 1).as("cell"),
        col("embedding"))
      .withColumn("rvec", IvfPqIndex.residual(idx.cellMatrix)(col("embedding"), col("cell")))
    withRes
      .select(col("cell").cast("long").as("cell"),
        pq_encode(col("rvec"), idx.codebooks).as("enc"))
      .filter(col("enc").isNotNull)
      .select(col("cell"), expr(
        "CAST(FLOOR(aggregate(enc, CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.dist) * 1000000.0) AS BIGINT)")
        .as("err_fp"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("err_fp")).as("sum_err_fp"))
      .select(col("cell"), col("n_vecs"), col("sum_err_fp"),
        expr("sum_err_fp div n_vecs").as("mean_err_fp"))
      .orderBy(col("cell"))
  }

  /** q251 allocation constants, shared with the oracle: per-source epoch
    * cap (×100 — 200 = at most 2 epochs of any one source) and the
    * budget as a fraction of total corpus tokens (½ — scale-free, so the
    * greedy binds mid-list at every SF). */
  private[graft] val MixMaxEpochsX100 = 200L
  private[graft] val MixBudgetDen = 2L

  /** Greedy mixture allocation under a token budget (q251) — the
    * data-mixing DECISION next to q77's fixed weights and q108's
    * temperature reweighting: rank sources by an integer diversity
    * quality (per-doc distinct/total token ratio in bp, source-averaged),
    * cap each source at [[MixMaxEpochsX100]]/100 epochs of its own
    * tokens, and water-fill a budget of total/[[MixBudgetDen]] tokens
    * down the quality ranking — exactly the greedy that maximizes
    * Σ quality·tokens under per-source caps. Emits per source its
    * quality, cap, exact allocation, and realized epochs ×100. All
    * arithmetic integer; the ranking/running-sum frame is SOURCE-sized
    * (a catalog, bounded at any corpus scale), so its windows are
    * metadata windows; the corpus-sized stage is one per-source
    * aggregate. */
  def mixAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = Tables.documents(spark, dir).select(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_dist"))
    val src = perDoc.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("src_tokens"), count(lit(1)).as("n_docs"),
        sum(expr("n_dist * 10000 div n_tok")).as("qsum"))
      .select(col("source"), col("src_tokens"),
        expr("qsum div n_docs").as("quality_bp"))
    val tot = src.agg(sum(col("src_tokens")).as("total_tokens"))
    src.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("quality_bp").desc, col("source"))).cast("long"))
      .withColumn("cap_tokens", expr(s"src_tokens * $MixMaxEpochsX100 div 100"))
      .withColumn("cum_before", coalesce(sum(col("cap_tokens")).over(
        Window.orderBy(col("rk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("budget", expr(s"total_tokens div $MixBudgetDen"))
      .withColumn("allocated_tokens",
        greatest(lit(0L), least(col("cap_tokens"), col("budget") - col("cum_before"))))
      .select(col("source"), col("quality_bp"), col("src_tokens"), col("cap_tokens"),
        col("allocated_tokens"),
        expr("allocated_tokens * 100 div src_tokens").as("epochs_x100"))
      .orderBy(col("source"))
  }

  /** Online SemDedup ingest admission (q240) — the sequential-semantics
    * streaming variant of q78: see
    * [[graft.similarity.SemDedup.onlineAdmission]]. Every intermediate
    * wave frame memoizes + persists per (session, dir) so wave k never
    * re-derives waves 0..k−1 by lineage (and repeated bench calls reuse
    * one cache entry, the IncrementalDedup discipline). */
  def onlineSemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.SemDedup.onlineAdmission(spark,
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      memoFrame = (key, mk) => graft.SessionMemo.frame(spark, s"q240$key|$dir")(mk()))

  /** q252 labeler thresholds, shared with the oracle: 3-class cuts on
    * lexical diversity (distinct/total tokens, bp) and mean word length
    * (chars per token ×100) — picked at the testdata terciles so every
    * cell of the 3×3 table is populated at each SF. */
  private[graft] val AgreeDivLo = 4000L
  private[graft] val AgreeDivHi = 5500L
  private[graft] val AgreeCtokLo = 540L
  private[graft] val AgreeCtokHi = 556L

  /** Inter-labeler agreement / Cohen's kappa (q252) — the calibration
    * audit a labeling pipeline owes its heuristic raters before either
    * gates data: two independent integer quality labelers (A = lexical
    * diversity terciles, B = mean-word-length terciles) label every
    * document; the 3×3 confusion table, its marginals, and the
    * chance-corrected agreement κ = (pₒ−pₑ)/(1−pₑ) come back in exact
    * basis points. κ ≈ 0 says the raters agree no better than chance —
    * composing them as AND/OR gates is then a coin flip, which is
    * precisely what this row detects. All arithmetic integer; the
    * numerator can be negative (agreement BELOW chance), so the division
    * is sign-split to keep Spark `div` and DuckDB `//` on the same
    * truncate-toward-zero semantics. Scale shape: one corpus scan →
    * map-side CASE labels → a ≤9-row hash aggregate; marginals, pₑ, and
    * κ ride joins/aggregates on that 9-row frame (the q215 discipline),
    * with the 1-row scalar frame broadcast back onto the cells. Products
    * ride DECIMAL(38,0): n² at a 10¹¹-doc corpus is 10²², past BIGINT. */
  def labelerAgreement(spark: SparkSession, dir: String): DataFrame =
    labelerAgreementOf(Tables.documents(spark, dir))

  private[graft] def labelerAgreementOf(docs: DataFrame): DataFrame = {
    // One corpus scan: both labels are map-side integer CASEs.
    val cells = docs.select(
        expr(s"""CASE WHEN size(array_distinct(split(text, ' '))) * 10000L
          |    div size(split(text, ' ')) < $AgreeDivLo THEN 0L
          |  WHEN size(array_distinct(split(text, ' '))) * 10000L
          |    div size(split(text, ' ')) < $AgreeDivHi THEN 1L
          |  ELSE 2L END""".stripMargin).as("label_a"),
        expr(s"""CASE WHEN n_chars * 100L div size(split(text, ' ')) < $AgreeCtokLo THEN 0L
          |  WHEN n_chars * 100L div size(split(text, ' ')) < $AgreeCtokHi THEN 1L
          |  ELSE 2L END""".stripMargin).as("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("n_docs"))
      // ≤9 rows, but FOUR consumers below — without the pin each would
      // re-scan the corpus by lineage (the q217 memo discipline).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowm = cells.groupBy(col("label_a")).agg(sum(col("n_docs")).as("row_n"))
    val colm = cells.groupBy(col("label_b")).agg(sum(col("n_docs")).as("col_n"))
    // pₑ numerator: Σ_k row_k·col_k — an inner join on the class id is
    // exact (a class absent from either marginal contributes 0).
    val scalars = cells.agg(
        sum(col("n_docs")).as("n"),
        sum(when(col("label_a") === col("label_b"), col("n_docs"))
          .otherwise(0L)).as("diag_n"))
      .crossJoin(broadcast(rowm.join(colm, col("label_a") === col("label_b"))
        .agg(coalesce(sum(expr("CAST(row_n AS DECIMAL(38,0)) * col_n")),
          lit(0).cast("decimal(38,0)")).as("pe_num"))))
      .select(col("n"), col("diag_n"), col("pe_num"),
        expr("CAST(n AS DECIMAL(38,0)) * diag_n - pe_num").as("kn"),
        expr("CAST(n AS DECIMAL(38,0)) * n - pe_num").as("kd"))
    cells
      .join(rowm, "label_a").join(colm, "label_b")
      .crossJoin(broadcast(scalars))
      .select(col("label_a"), col("label_b"), col("n_docs"),
        col("row_n"), col("col_n"),
        expr("diag_n * 10000L div n").as("po_bp"),
        expr("CAST((pe_num * 10000) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("pe_bp"),
        expr("""CAST(CASE WHEN kd = 0 THEN 0
          |  WHEN kn >= 0 THEN (kn * 10000) div kd
          |  ELSE -((-kn * 10000) div kd) END AS BIGINT)""".stripMargin).as("kappa_bp"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** q253 seed length (tokens), shared with the oracle: the minimum
    * repeated-substring length the dedup removes — 8 so the short
    * synthetic harness docs produce hits (production ExactSubstr uses
    * 50 tokens; only this constant changes). */
  private[graft] val RepeatSeedN = 8

  /** Maximal-repeat exact substring spans (q253) — the ExactSubstr dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): remove every substring of ≥ [[RepeatSeedN]] tokens
    * that occurs more than once in the corpus (self-overlapping and
    * same-doc repeats included). q64/q117 count FIXED-n gram repeats;
    * this emits the maximal spans of ANY length, which is what the
    * suffix-array pass computes — via the gram-window reduction: a
    * repeated substring of length M ≥ L is exactly a maximal run of
    * consecutive start positions whose L-gram occurs ≥ 2× corpus-wide
    * (every window of a repeated substring is a repeated L-gram;
    * conversely each repeated L-gram is itself a repeated substring), so
    * the union of repeated spans = merged intervals over duplicated
    * L-gram starts — no suffix array, no cross join.
    *
    * Scale shape: positions explode map-side and shuffle as
    * (int64 doc, int64 pos, int64 xxhash64(gram)) — gram STRINGS never
    * leave the map stage (the q64 trick); duplicated-gram detection is
    * one map-side-combining count on the hash; coverage is a left-semi
    * hash join on the same key; island-merging is a window partitioned
    * BY DOC (bounded by document length, never corpus-shaped). */
  def maximalRepeatSpans(spark: SparkSession, dir: String): DataFrame =
    maximalRepeatSpansOf(Tables.documents(spark, dir))

  private[graft] def maximalRepeatSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Tables.fan (r13): the seed-gram explode + hash is map-side.
    val positions = graft.Tables.fan(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("s"))
      .filter(size(col("s")) >= RepeatSeedN)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(s) - ${RepeatSeedN - 1}),
           |  i -> array_join(slice(s, i, $RepeatSeedN), ' '))""".stripMargin))
        .as(Seq("off", "gram")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"),
        xxhash64(col("gram")).as("gram_h"))
    // ≥2 occurrences ANYWHERE (other docs or a self-overlap) makes the
    // window a repeat — plain count, not countDistinct(doc).
    val dup = positions.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") >= 2)
    val covered = positions.join(dup.select(col("gram_h")), Seq("gram_h"), "left_semi")
    covered
      .withColumn("isl", col("pos") -
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (RepeatSeedN - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Committed-store online SemDedup admission (q254) — see
    * [[graft.similarity.SemDedup.committedAdmission]]: q240's sequential
    * wave semantics with admission state in an on-disk wave-partitioned
    * store (the q200 signature-store pattern applied to vectors), so
    * state survives sessions and a second ingest process admits against
    * the PUBLISHED corpus. The registered row seeds a fresh store and
    * replays the wave loop; the result is read back from DISK, so a
    * stale or corrupt store breaks the oracle hash. Memoized per
    * (session, dir) like q200. */
  def committedSemDedupAdmission(spark: SparkSession, dir: String): DataFrame = {
    graft.SessionMemo.memo(spark, s"q254|$dir") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val work = graft.SessionMemo.workDir(spark, "graft_admit_store").toString
      graft.similarity.SemDedup.committedAdmission(
        s, Tables.embeddings(s, dir), "vec_id", "embedding", s"$work/admitted")
      spark.read.parquet(s"$work/admitted")
        .select(col("batch_id").cast("long").as("batch"),
          col("id").as("vec_id"), col("cell"))
        .orderBy(col("batch"), col("vec_id"))
    }
  }

  /** q255 merge-list length, shared with the oracle: enough rounds that
    * multi-character symbols chain (merged symbols re-merge) while the
    * unrolled oracle CTE stays tractable. */
  private[graft] val BpeEncodeMerges = 6

  /** Weighted adjacent-pair counts over a symbolized vocab frame — the
    * q182 aggregation, shared by the q255 learner loop. */
  private[analytics] def bpePairCounts(v: DataFrame): DataFrame = v
    .select(split(col("sym"), " ").as("t"), col("cnt"))
    .filter(size(col("t")) >= 2)
    .select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS p1, t[i] AS p2))")).as("p"),
      col("cnt"))
    .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
    .agg(sum(col("cnt")).as("pair_count"))

  /** End-to-end BPE encode (q255) — the missing half of q182 (round-8
    * verdict #8a): LEARN [[BpeEncodeMerges]] merges on the vocab frame
    * (k rounds of pair-count → top-1 → space-doubled replace — all
    * vocab-sized work on the memoized one-scan tokenization; each
    * round's top-1 is a 1-row bounded collect), then APPLY the ordered
    * merge list to the WHOLE corpus in one map-only pass via the
    * [[graft.functions.BpeDocSymbols]] expression (merge list baked into
    * the plan — no join, no explode, no shuffle until the per-language
    * aggregate). Reports per language the exact token/char-symbol/
    * BPE-symbol counts and the compression ratio in bp — the
    * tokenizer-budget readout (symbols ≈ what the training run pays).
    * Merge semantics are greedy left-to-right non-overlapping in learned
    * order — Sennrich et al. 2016 — identical in the expression, the
    * learner's replace chain, and the oracle's unrolled k-round CTEs. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOf(Tables.documents(spark, dir), BpeEncodeMerges,
      v => graft.SessionMemo.frame(spark, s"q255vocab|$dir")(v))

  private[graft] def bpeEncodeOf(docs: DataFrame, k: Int,
      memoVocab: DataFrame => DataFrame = identity): DataFrame = {
    val vocab = memoVocab(docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("token")) >= 2)
      .select(expr(
        "array_join(transform(sequence(1, length(token)), i -> substring(token, i, 1)), ' ')")
        .as("sym"), col("cnt")))
    // Learner loop: k bounded 1-row collects, each over vocab-frame
    // lineage (cached base + r literal replaces). Stops early if the
    // vocab runs out of pairs; the oracle's sentinel rounds then no-op.
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var v = vocab
    var r = 0
    var exhausted = false
    while (r < k && !exhausted) {
      val top = bpePairCounts(v)
        .orderBy(col("pair_count").desc, col("p1"), col("p2")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (m1, m2) = (top(0).getString(0), top(0).getString(1))
        merges += ((m1, m2))
        // Literal columns (never SQL-interpolated): token text can hold
        // any punctuation. Space-doubling realizes exact greedy
        // left-to-right semantics (q182's round-6 derivation).
        v = v.select(trim(replace(
            replace(
              replace(concat(lit(" "), col("sym"), lit(" ")), lit(" "), lit("  ")),
              lit(s" $m1  $m2 "), lit(s" $m1$m2 ")),
            lit("  "), lit(" "))).as("sym"), col("cnt"))
      }
      r += 1
    }
    import graft.functions.BpeFunctions.bpe_doc_symbols
    docs.select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(replace(col("text"), lit(" "), lit(""))).cast("long").as("n_cp"),
        bpe_doc_symbols(col("text"), merges.toSeq).as("n_sym"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("n_tokens"),
        sum(col("n_cp")).as("n_char_symbols"),
        sum(col("n_sym")).as("n_bpe_symbols"))
      .select(col("lang"), col("n_tokens"), col("n_char_symbols"), col("n_bpe_symbols"),
        expr("n_bpe_symbols * 10000L div n_char_symbols").as("compression_bp"))
      .orderBy(col("lang"))
  }

  /** q257 constants, shared with the oracle: the hashed-feature bucket
    * count (the DSIR paper's hashed bigrams), the target slice, and the
    * selection quota (top 1/[[DsirQuotaDiv]] of candidates by score). */
  private[graft] val DsirBuckets = 4096L
  private[graft] val DsirTargetLang = "en"
  private[graft] val DsirQuotaDiv = 5L

  /** Hashed-n-gram importance selection (q257) — the DSIR data-selection
    * recipe (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling": fit bag-of-hashed-bigrams models of a
    * TARGET distribution and of the RAW pool, weight every raw document
    * by its feature likelihood ratio, keep the top quota) in the repo's
    * exact-integer discipline. The paper's per-feature log λ is replaced
    * by the per-occurrence ratio λ in milli-units (the q146/q186
    * "integer stand-in for the log-space score" rule — libm log bits
    * differ across engines; integer ppm/milli ratios do not): per bucket
    * λ_milli = ⌊(p_b+1)·(Q+B)·1000 / ((q_b+1)·(P+B))⌋ (Laplace-smoothed,
    * B = [[DsirBuckets]]), per document the c-weighted mean over its
    * bucket counts, selection = top ⌊n/[[DsirQuotaDiv]]⌋ by
    * (score desc, doc_id) via the range-sharded [[graft.operators.GlobalRank]]
    * — no single-partition sort anywhere.
    *
    * Scale shape: ONE tokenize+hash pass feeds all three consumers (the
    * memoized bigram-bucket stream — the q186 memo discipline); bucket
    * hashes are (h60 % B) pair-folds, so every exchange carries small
    * longs; the two model frames are ≤B rows and broadcast; the doc
    * scoring aggregate partial-combines map-side; the smoothed-ratio
    * products ride DECIMAL(38,0) (the q252 headroom rule — bigram counts
    * at a 10¹²-gram corpus square past BIGINT). */
  def dsirSelection(spark: SparkSession, dir: String): DataFrame =
    dsirSelectionOf(Tables.documents(spark, dir),
      b => graft.SessionMemo.frame(spark, s"q257bg|$dir")(b))

  private[graft] def dsirSelectionOf(docs: DataFrame,
      memoBg: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val B = DsirBuckets
    val bg = memoBg(docs
      .select(col("doc_id"), col("lang"),
        md5_token_hashes(split(col("text"), " "), 60).as("h"))
      .filter(size(col("h")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        s"transform(sequence(1, size(h) - 1), i -> (((h[i-1] % $B) * 31 + h[i] % $B) % $B))"))
        .as("b")))
    val pC = bg.filter(col("lang") === DsirTargetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("p_c"))
    val cand = bg.filter(col("lang") =!= DsirTargetLang)
    val qC = cand.groupBy(col("b")).agg(count(lit(1)).as("q_c"))
    val tots = bg.agg(
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("p_tot"),
      sum(when(col("lang") =!= DsirTargetLang, 1L).otherwise(0L)).as("q_tot"))
    // Candidate bucket counts: doc-keyed, map-side combinable. Every
    // candidate bucket appears in qC by construction (left join only on
    // the target side).
    val scored = cand.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(pC, Seq("b"), "left")
      .join(qC, Seq("b"))
      .crossJoin(broadcast(tots))
      .select(col("doc_id"), col("lang"), col("c"),
        expr(s"""CAST((CAST(coalesce(p_c, 0L) + 1 AS DECIMAL(38,0)) * (q_tot + $B) * 1000)
          | div (CAST(q_c + 1 AS DECIMAL(38,0)) * (p_tot + $B)) AS BIGINT)""".stripMargin)
          .as("lr_milli"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(c * lr_milli) div sum(c)").as("score_milli"))
    val k = scored.agg(expr(s"count(1) div $DsirQuotaDiv").as("kq"))
    graft.operators.GlobalRank
      .rowNumber(scored, Seq(col("score_milli").desc, col("doc_id").asc), "rk")
      .crossJoin(broadcast(k))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("rk") <= col("kq"), 1L).otherwise(0L)).as("n_selected"),
        expr("sum(score_milli) div count(1)").as("avg_score_milli"),
        expr("""CASE WHEN sum(CASE WHEN rk <= kq THEN 1L ELSE 0L END) = 0L THEN 0L
          |  ELSE sum(CASE WHEN rk <= kq THEN score_milli ELSE 0L END)
          |    div sum(CASE WHEN rk <= kq THEN 1L ELSE 0L END) END""".stripMargin)
          .as("avg_sel_score_milli"))
      .select(col("lang"), col("n_candidates"), col("n_selected"),
        expr("n_selected * 10000L div n_candidates").as("selected_bp"),
        col("avg_score_milli"), col("avg_sel_score_milli"))
      .orderBy(col("lang"))
  }

  /** q258 constants, shared with the oracle: the pair-hash modulus and
    * the boundary gate (expected chunk length ≈ [[CdcGate]] tokens). */
  private[graft] val CdcMod = 1048576L
  private[graft] val CdcGate = 16L

  /** Content-defined chunk dedup (q258) — the LBFS/rsync chunking idea
    * (Muthitacharoen et al. 2001, "A Low-Bandwidth Network File System")
    * applied to token streams: a chunk boundary opens wherever the
    * rolling context hash gates to zero (here: the adjacent-token-pair
    * fold ((h₁%M)·31+h₂%M) % M ≡ 0 mod [[CdcGate]]), so boundaries are a
    * function of LOCAL content only — inserting or deleting a prefix
    * re-synchronizes at the next gate and every downstream chunk hashes
    * identically. That shift-invariance is what fixed-n gram dedup
    * (q64/q117) and whole-doc hashing (q25) both lack, and it is the
    * standard storage-dedup primitive for detecting near-identical
    * documents that differ by splices.
    *
    * Scale shape: positions explode map-side; the chunk-id prefix sum is
    * a window PARTITIONED BY DOC (bounded by document length, never
    * corpus-shaped — the q253 island rule); the doc-local chunk
    * reassembly groups on (doc_id, chunk), reusing the window's exchange;
    * chunk text hashes to an 8-byte h60 BEFORE the corpus-wide
    * (lang, chunk-hash) exchange (the q64 no-string-shuffles discipline);
    * both aggregates partial-combine map-side. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cdcChunkDedupOf(Tables.documents(spark, dir))

  private[graft] def cdcChunkDedupOf(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val M = CdcMod
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val pos = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"),
        md5_token_hashes(split(col("text"), " "), 60).as("h"))
      .select(col("doc_id"), col("lang"), explode(expr(
        s"""transform(sequence(0, size(t) - 1), i -> struct(
           |  CAST(i AS BIGINT) AS pos, t[i] AS tok,
           |  CASE WHEN i = 0 THEN 0L
           |    WHEN ((h[i-1] % $M) * 31 + h[i] % $M) % $M % $CdcGate = 0 THEN 1L
           |    ELSE 0L END AS bd))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"), col("p.pos").as("pos"),
        col("p.tok").as("tok"), col("p.bd").as("bd"))
    val chunks = pos
      .withColumn("chunk", sum(col("bd")).over(w))
      .groupBy(col("doc_id"), col("lang"), col("chunk"))
      .agg(count(lit(1)).as("n_tok"),
        array_join(expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"),
          " ").as("ctext"))
      .select(col("lang"), col("n_tok"),
        element_at(md5_token_hashes(array(col("ctext")), 60), 1).as("chash"))
    chunks
      .groupBy(col("lang"), col("chash"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("toks"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        expr("(sum(cnt) - count(1)) * 10000L div sum(cnt)").as("dup_bp"),
        expr("sum(toks) div sum(cnt)").as("avg_chunk_tokens"),
        max(col("cnt")).as("max_reuse"))
      .orderBy(col("lang"))
  }

  /** Split-leakage audit (q259) — the eval-contamination question a
    * train/val/test split owes its users: how many VERIFIED near-dup
    * pairs (the shared [[nearDupTiers]] Jaccard ≥ 0.95 memo — zero new
    * similarity work) cross the q60 hash-split boundary? A val/test doc
    * with a near-identical train twin is a leaked eval item; this emits
    * the canonical split×split pair matrix with shares and the leak
    * flag.
    *
    * Scale twist over q247's source matrix: the pair counts are computed
    * WITHOUT materializing doc pairs. [[graft.dedup.Dedup.pairsOfTiered]]
    * is quadratic in duplicate-group size by design (its docstring says
    * so); a leak COUNT doesn't need the pairs — per set-group, the
    * (set_key, split) histogram (≤3 rows per set) gives exact
    * combinatorics: within-group pairs n·(n−1)/2 per split and nₓ·n_y
    * across splits, and each verified set-pair contributes
    * n_a[s]·n_b[s'] per split combo. A 10⁶-doc duplicate group costs 3
    * histogram rows instead of 5·10¹¹ pairs. PlanSpec pins that no
    * member×member self-join appears in the plan; the DuckDB oracle
    * brute-forces the same counts from first principles (all-pairs exact
    * Jaccard + the q60 split rule), so both the LSH recall and the
    * combinatorics are checked. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageOf(Tables.documents(spark, dir), Some(nearDupTiers(spark, dir)))

  private[graft] def splitLeakageOf(docs: DataFrame,
      tiers: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (members, setPairs) = tiers.getOrElse(
      graft.dedup.Dedup.tieredSetPairs(docs, "doc_id", "text", 0.95))
    val bucket = pmod(
      graft.functions.PortableHashFunctions
        .md5_token_hashes(array(col("text")), bits = 31)
        .getItem(0),
      lit(100))
    val split = docs.select(col("doc_id").as("id"),
      when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
    // One row per (set group, split): linear in docs, ≤3 rows per group.
    val hist = members.join(split, Seq("id"))
      .groupBy(col("set_key"), col("split")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tierASame = hist.select(col("split").as("split_a"), col("split").as("split_b"),
      expr("n * (n - 1) div 2").as("n_pairs"))
    val tierACross = hist.as("x").join(hist.as("y"), Seq("set_key"))
      .filter(col("x.split") < col("y.split"))
      .select(col("x.split").as("split_a"), col("y.split").as("split_b"),
        (col("x.n") * col("y.n")).as("n_pairs"))
    val tierB = setPairs
      .join(hist.select(col("set_key").as("key_a"), col("split").as("sa"),
        col("n").as("na")), Seq("key_a"))
      .join(hist.select(col("set_key").as("key_b"), col("split").as("sb"),
        col("n").as("nb")), Seq("key_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"),
        (col("na") * col("nb")).as("n_pairs"))
    val cells = tierASame.union(tierACross).union(tierB)
      .groupBy(col("split_a"), col("split_b"))
      .agg(sum(col("n_pairs")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
    val tot = cells.agg(sum(col("n_pairs")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        expr("n_pairs * 10000L div n_total").as("share_bp"),
        (col("split_a") =!= col("split_b")).as("is_leak"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Leak-quarantine manifest (q260) — the REPAIR step q259 only counts:
    * which TRAIN documents must be dropped because they are verified
    * near-duplicates (Jaccard ≥ 0.95, the shared [[nearDupTiers]] memo)
    * of a val/test document. Emits the per-language quarantine summary a
    * rebuild would act on. Same no-expansion discipline as q259: a train
    * doc is quarantined iff its SET either contains an eval member
    * (tier A — identical text across the boundary) or is a verified
    * set-pair away from a set that does (tier B) — both are semi-joins
    * on set keys, linear in docs and set-pairs, never doc×doc. The
    * oracle brute-forces ∃-eval-near-dup per train doc from first
    * principles. */
  def leakQuarantine(spark: SparkSession, dir: String): DataFrame =
    leakQuarantineOf(Tables.documents(spark, dir), Some(nearDupTiers(spark, dir)))

  private[graft] def leakQuarantineOf(docs: DataFrame,
      tiers: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (members, setPairs) = tiers.getOrElse(
      graft.dedup.Dedup.tieredSetPairs(docs, "doc_id", "text", 0.95))
    val bucket = pmod(
      graft.functions.PortableHashFunctions
        .md5_token_hashes(array(col("text")), bits = 31)
        .getItem(0),
      lit(100))
    val m = members.join(
      docs.select(col("doc_id").as("id"), col("lang"),
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
          .as("split")),
      Seq("id"))
    // Sets holding at least one eval (val/test) member — set-key-sized.
    val evalSets = m.filter(col("split") =!= "train")
      .select(col("set_key")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Tier B reach: sets one verified pair away from an eval-holding set
    // (both directions — setPairs is canonicalized key_a < key_b).
    val paired = setPairs
      .join(evalSets.withColumnRenamed("set_key", "key_b"), Seq("key_b"))
      .select(col("key_a").as("set_key"))
      .union(setPairs
        .join(evalSets.withColumnRenamed("set_key", "key_a"), Seq("key_a"))
        .select(col("key_b").as("set_key")))
    val leakSets = evalSets.union(paired).distinct()
    val train = m.filter(col("split") === "train")
    train
      .join(leakSets, Seq("set_key"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_quarantined"))
      .join(train.groupBy(col("lang")).agg(count(lit(1)).as("n_train")),
        Seq("lang"), "right")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"),
        expr("coalesce(n_quarantined, 0L) * 10000L div n_train")
          .as("quarantine_bp"))
      .orderBy(col("lang"))
  }

  /** q261 constants, shared with the oracle: the class vocabulary in FIELD
    * order (class i's per-token weight unpacks from bit field 15·i of ONE
    * h60 digest per token) and the weight modulus (weights in
    * [-1000, 1000]). */
  private[graft] val ClsClasses = Seq("chat", "code", "news", "wiki")
  private[graft] val ClsWeightMod = 2001L

  /** Hashed linear classifier scoring (q261) — the fastText-shape model
    * inference every model-based curation pipeline runs over the FULL
    * corpus (the FineWeb-Edu / DCLM recipe: a cheap linear classifier
    * scores every document; the score gates, buckets, or mixes the doc).
    * Per token ONE md5 digest ([[graft.functions.Md5Hash.h60]], the
    * portable-hash discipline); per class a disjoint 15-bit field of that
    * digest folds to an integer weight in [-1000, 1000]; a document's
    * class score is the weight sum over its token STREAM (multiplicity
    * counts — fastText's bag-of-features with integer weights standing in
    * for the learned vector; a LEARNED model would broadcast a weight map
    * and the plan shape would not change). Prediction is the argmax (ties
    * to the lowest class index), margin is best − runner-up.
    *
    * Scale shape: scoring is a MAP-ONLY array fold — one digest per
    * token, all [[ClsClasses]] weights from its bit fields, no token
    * explode, no shuffle until the final (source, class) aggregate, which
    * partial-combines to ≤ |sources|·|classes| rows. At 100 TB this is
    * the textbook single-pass corpus scan with a result-sized exchange. */
  def classifierScores(spark: SparkSession, dir: String): DataFrame =
    classifierScoresOf(Tables.documents(spark, dir))

  /** Per-document classifier outputs (doc_id, source, pred_class, margin)
    * — the map-only scoring pass shared by q261's corpus aggregate and
    * the q264 incremental score store. */
  private[graft] def classifierDocScores(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val nC = ClsClasses.size
    val scoreCols = ClsClasses.indices.map { i =>
      expr(s"aggregate(h, 0L, (acc, x) -> " +
        s"acc + ((shiftright(x, ${15 * i}) & 32767) % $ClsWeightMod) - 1000)").as(s"s$i")
    }
    // First-max argmax in class-index order — ties resolve to the lowest
    // index, mirroring the oracle's CASE chain exactly.
    val pred = ClsClasses.indices.init.foldRight(lit(ClsClasses.last)) { (i, rest) =>
      val geRest = ClsClasses.indices.drop(i + 1)
        .map(j => col(s"s$i") >= col(s"s$j")).reduce(_ && _)
      when(geRest, lit(ClsClasses(i))).otherwise(rest)
    }
    docs
      .select(col("doc_id"), col("source"),
        md5_token_hashes(split(col("text"), " "), 60).as("h"))
      .select(col("doc_id") +: col("source") +: scoreCols: _*)
      .select(col("doc_id"), col("source"), pred.as("pred_class"),
        sort_array(array(ClsClasses.indices.map(i => col(s"s$i")): _*)).as("ss"))
      .select(col("doc_id"), col("source"), col("pred_class"),
        (element_at(col("ss"), nC) - element_at(col("ss"), nC - 1)).as("margin"))
  }

  private[graft] def classifierScoresOf(docs: DataFrame): DataFrame = {
    val scored = classifierDocScores(docs)
    // Per-source totals via a window over the CELLS frame — bounded at
    // ≤ |classes| rows per source partition (result-sized, never
    // corpus-shaped), so the corpus scans exactly once.
    scored.groupBy(col("source"), col("pred_class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("margin_sum"))
      .withColumn("n_src", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("source"), col("pred_class"), col("n_docs"),
        expr("n_docs * 10000L div n_src").as("share_bp"),
        expr("margin_sum div n_docs").as("avg_margin"))
      .orderBy(col("source"), col("pred_class"))
  }

  /** Locality layout audit (q262) — LSH-clustered STORAGE ORDERING, the
    * layout trick that buys compression at rest: near-duplicate documents
    * written adjacently compress each other away under any window codec
    * (zstd/LZ4 see the shared bytes), so a corpus rewrite orders docs by
    * a similarity-preserving key instead of arrival order. The key here
    * is the bottom-1 MinHash (min over token h60s — P[key_a = key_b] =
    * Jaccard(a,b); a production rewrite would widen to the full signature
    * lexicographically, same machinery); the audit measures what the
    * rewrite would buy: mean adjacent-pair token Jaccard (bp) under the
    * clustered order vs the incumbent doc_id order, per language.
    *
    * Scale shape: both orderings rank through the range-sharded
    * [[graft.operators.GlobalRank]] (an ORDER BY over the corpus is
    * exactly the shape that must never hit one reducer); adjacent pairs
    * come from a rank⋈rank+1 self-join — rank-keyed exchange, no window
    * over an unpartitioned frame; the doc scan recomputes per consumer
    * (map-only split+hash work) rather than pinning a corpus-sized cache.
    * The per-pair Jaccard is the sorted-merge intersect expression
    * (single pass, no array allocation per comparison). */
  def localityLayout(spark: SparkSession, dir: String): DataFrame =
    localityLayoutOf(Tables.documents(spark, dir))

  private[graft] def localityLayoutOf(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    import graft.functions.VectorFunctions.sorted_intersect_size
    val base = docs.select(col("doc_id"), col("lang"),
      sort_array(array_distinct(split(col("text"), " "))).as("toks"),
      array_min(md5_token_hashes(split(col("text"), " "), 60)).as("mh"))
    // Mean adjacent-pair Jaccard per lang under the given total order.
    // Global rank sorts lang first, so within-lang adjacency == global
    // adjacency with cross-lang boundary pairs filtered.
    def adjacency(order: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val ranked = graft.operators.GlobalRank.rowNumber(base, order, "rk")
      val lhs = ranked.select(col("rk"), col("lang"), col("toks").as("toks_a"))
      val rhs = ranked.select((col("rk") - 1).as("rk"),
        col("lang").as("lang_b"), col("toks").as("toks_b"))
      lhs.join(rhs, Seq("rk"))
        .filter(col("lang") === col("lang_b"))
        .select(col("lang"),
          sorted_intersect_size(col("toks_a"), col("toks_b")).cast("long").as("ni"),
          (size(col("toks_a")) + size(col("toks_b"))).cast("long").as("sz"))
        .select(col("lang"), expr("ni * 10000L div (sz - ni)").as("bp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("bp")).as("bp_sum"))
    }
    val clustered = adjacency(Seq(col("lang").asc, col("mh").asc, col("doc_id").asc))
      .select(col("lang"), col("n_pairs"), col("bp_sum").as("bp_c"))
    val baseline = adjacency(Seq(col("lang").asc, col("doc_id").asc))
      .select(col("lang"), col("bp_sum").as("bp_b"))
    val counts = base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    counts
      .join(clustered, Seq("lang"), "left")
      .join(baseline, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_adj_pairs"),
        coalesce(expr("bp_c div n_pairs"), lit(0L)).as("clustered_adj_bp"),
        coalesce(expr("bp_b div n_pairs"), lit(0L)).as("baseline_adj_bp"))
      .withColumn("locality_gain_bp",
        col("clustered_adj_bp") - col("baseline_adj_bp"))
      .orderBy(col("lang"))
  }

  /** q263 constant, shared with the oracle: every stratum contributes
    * EXACTLY ⌊n/[[StratQuotaDiv]]⌋ documents. */
  private[graft] val StratQuotaDiv = 8L

  /** Exact-quota stratified sampling (q263) — the deterministic holdout
    * builder q67's rate-based Bernoulli sampler cannot be: per stratum
    * (language) EXACTLY ⌊n/8⌋ documents, chosen as the first ⌊n/8⌋ in
    * (content-hash, doc_id) order — uniform-at-random in expectation,
    * reproducible bit-for-bit, and quota-exact by construction (a
    * hash-threshold sampler's count is binomial, not exact; audits and
    * eval-set budgets want exact).
    *
    * Scale shape: the naive plan — `row_number() OVER (PARTITION BY lang
    * ORDER BY hash)` — is corpus-hostile: strata are corpus-shaped (one
    * language can be half of 100 TB), so a per-stratum window is a
    * stratum-sized single sort. Instead ONE range-sharded
    * [[graft.operators.GlobalRank]] over the composite (lang, hash, id)
    * key ranks everything, a stratum-sized aggregate (≤ |langs| rows,
    * broadcast) yields each stratum's first-rank offset and quota, and
    * per-stratum rank = global rank − offset: exact per-stratum ranks,
    * no stratum-sized sort anywhere. The selection witness (token sum +
    * hash sum over the selected set) makes any mis-ranked boundary doc
    * break the oracle hash. */
  def exactStratifiedQuota(spark: SparkSession, dir: String): DataFrame =
    exactStratifiedQuotaOf(Tables.documents(spark, dir))

  private[graft] def exactStratifiedQuotaOf(docs: DataFrame): DataFrame = {
    val h = graft.functions.PortableHashFunctions
      .md5_token_hashes(array(col("text")), bits = 31).getItem(0)
    val base = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("hkey"))
    val ranked = graft.operators.GlobalRank.rowNumber(
      base, Seq(col("lang").asc, col("hkey").asc, col("doc_id").asc), "rk")
    val strata = ranked.groupBy(col("lang"))
      .agg(min(col("rk")).as("rk0"), count(lit(1)).as("n_total"))
      .withColumn("quota", expr(s"n_total div $StratQuotaDiv"))
    ranked.join(broadcast(strata), Seq("lang"))
      .withColumn("sel", col("rk") - col("rk0") + lit(1L) <= col("quota"))
      .groupBy(col("lang"))
      .agg(max(col("n_total")).as("n_total"), max(col("quota")).as("quota"),
        sum(when(col("sel"), col("n_tokens")).otherwise(0L)).as("sel_tokens"),
        sum(when(col("sel"), col("hkey")).otherwise(0L)).as("sel_h31_sum"))
      .orderBy(col("lang"))
  }

  /** Incremental inference score store (q264) — the q200/q256 digest-sync
    * discipline applied to MODEL SCORES ([[graft.operators.ScoreStore]]):
    * at 100 TB the classifier pass is the priciest stage of a curation
    * pipeline (GPU-bound, orders past the scan), so a re-curation must
    * re-score ONLY what changed. The query replays the full lifecycle
    * deterministically: seed a partition-mirrored `_scores` sidecar for a
    * 3-partition work corpus, EDIT one partition out-of-band (partition
    * 1's docs get re-texted — the upstream-refresh event), re-sync (the
    * digest diff confines inference to the touched partition — the spec
    * pins untouched store files byte-stable by mtime), and report the
    * per-(partition, class) summary read from the ON-DISK store. The
    * oracle scores the FINAL corpus state from first principles, so a
    * stale store — a sync that trusted instead of diffing — breaks the
    * hash. */
  def scoreStoreIncremental(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.memo(spark, s"q264|$dir") {
      val work = graft.SessionMemo.workDir(spark, "graft_score_store").toString
      val corpus = s"$work/corpus"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"),
          pmod(col("doc_id"), lit(3L)).as("part_id"))
      docs.write.partitionBy("part_id").parquet(corpus)
      val score = (slice: DataFrame) => classifierDocScores(slice)
        .select(col("doc_id"), col("pred_class"), col("margin"))
      graft.operators.ScoreStore.sync(spark, corpus, score) // full seed
      // Out-of-band partition edit (the re-curation event) — derived from
      // the SOURCE frame, so the overwrite never reads its own target.
      docs.filter(col("part_id") === 1L)
        .withColumn("text", concat(col("text"), lit(" edited")))
        .drop("part_id")
        .write.mode("overwrite").parquet(s"$corpus/part_id=1")
      graft.operators.ScoreStore.sync(spark, corpus, score) // digest diff: part 1 only
      graft.operators.ScoreStore.read(spark, corpus)
        .groupBy(col("part_id"), col("pred_class"))
        .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("margin_sum"))
        .select(col("part_id").cast("long").as("part_id"), col("pred_class"),
          col("n_docs"), col("margin_sum"))
        .orderBy(col("part_id"), col("pred_class"))
    }

}
