package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph-domain pipeline queries — the FIRST per-domain regrouping of the
  * chronological slabs (round-11 verdict #5, one domain per round): every
  * member is a verbatim move out of PipelineQueriesP2/P3/Registry, same
  * text, same relative order, no logic change. The domain: the purchase /
  * co-purchase graphs and everything computed over them — PageRank
  * (q139), min-label communities (q149), the triangle census + shared
  * edge memo (q177), k-core peeling (q195), k-hop reachability (q205),
  * Newman modularity (q245), and the HyperBall register family (q314
  * neighborhood function, q316 effective diameter, q318 harmonic
  * centrality, q319 Lin centrality) with its shared propagation memo.
  *
  * Move-safety notes (the PLANS_r11 audit, repeated for this move):
  * trait→trait moves are closure-capture NEUTRAL — members stay on the
  * same object and trait code references them through the same self-type
  * `this`, so the executor-lambda audit holds as before (hyperBallCoreOf
  * keeps its hoisted locals); the moved vals are all literal constants,
  * and this trait initializes before the oracle traits that read them
  * (object linearization order in PipelineQueries.scala). */
trait PipelineQueriesGraph { this: PipelineQueries.type =>

  /** The degree-annotated symmetric purchase graph, one cache per
    * (session, dir) — shared by q139, q149 and q245. */
  private def purchaseSymDeg(spark: SparkSession, dir: String): DataFrame = {
    import graft.graph.Graph
    graft.SessionMemo.frame(spark, s"q139symdeg|$dir")(Graph.symmetricWithDegrees(
      Graph.purchaseEdges(Tables.orders(spark, dir), Tables.lineitem(spark, dir))))
  }

  /** Min-label communities of the purchase graph — shared by q149 and q245. */
  private def purchaseLabels(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.memo(spark, s"q149labels|$dir") {
      graft.graph.Graph.labelPropagation(purchaseSymDeg(spark, dir))
    }

  /** PageRank over the purchase graph (q139) — iterative link analysis,
    * the source-authority prior of web-corpus curation (site-level
    * PageRank over the link graph is a standard quality signal for
    * Common-Crawl-derived training corpora). Graph: customer ↔ part
    * bipartite via orders⋈lineitem; 3 fixed-point iterations; top-20
    * nodes by final rank.
    *
    * Scale shape: [[graft.graph.Graph]] — the degree-annotated edge list
    * is built once per session (memoized, hash-partitioned by src,
    * persisted); each iteration shuffles only the node-sized rank frame
    * (the edge side reuses its cached partitioning), and the per-edge
    * contribution is `rank div outdeg` in BIGINT micro-units, so sums are
    * associative and the DuckDB oracle replays the exact iteration
    * unrolled. The top-20 cut is TakeOrderedAndProject, never a global
    * sort. */
  def pageRankPurchases(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Graph.pageRank(purchaseSymDeg(spark, dir))
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("part")).as("node_type"),
        expr("node div 2").as("node_key"),
        col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node_type"), col("node_key"))
      .limit(20)

  /** Min-label community detection (q149) — the second iterative graph
    * operator (q139's PageRank scores nodes; this one PARTITIONS them):
    * three rounds of synchronous min-label propagation over the same
    * memoized purchase graph, then the 20 largest communities. Labels are
    * node ids and the reduction is MIN — associative, deterministic,
    * replayed exactly by the oracle's unrolled CTEs (generated from
    * [[graft.graph.Graph.LpIters]]). */
  def labelCommunities(spark: SparkSession, dir: String): DataFrame =
    purchaseLabels(spark, dir)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"))
      .select(
        when(col("lbl") % 2 === 0, lit("customer")).otherwise(lit("part")).as("community_type"),
        expr("lbl div 2").as("community_key"),
        col("n_members"))
      .orderBy(col("n_members").desc, col("community_type"), col("community_key"))
      .limit(20)

  /** Triangle census of the co-purchase graph (q177) — the standard
    * graph-health readout (triangle count + global clustering
    * coefficient) over the same-order part projection. Edges are the
    * distinct within-order part pairs (the q154 incidence); triangles are
    * counted ONCE each via degree-ordered orientation (Schank–Wagner
    * node-iterator++): every edge points from the (deg, id)-smaller
    * endpoint, wedges enumerate only ordered out-neighbor pairs, and a
    * semi-join against the oriented edge set closes them. Orientation
    * bounds wedge fan-out by the ORIENTED out-degree — O(m^1.5) total
    * work regardless of hub nodes — where an unoriented wedge join pays
    * Σ deg² and dies on the first whale part. The count is
    * orientation-independent, so the DuckDB oracle replays the cheap
    * id-ordered variant and must land on the identical integers. */
  /** Distinct co-purchase edges (u < v), memoized per (session, dir) —
    * shared by the q177 triangle census and the q190 degree profile, and
    * persisted because the wedge/orientation pipeline reads it three
    * times (a per-call persist would leak one cache entry per bench
    * repeat — the IncrementalDedup advice-item pattern). */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.memo(spark, s"q177edges|$dir") {
      // r13 optimization (guide §2.4 — share one exchange): the edge list
      // is the co-occurrence pair-count frame minus its count column, so
      // it projects off the q154 memo instead of re-running the same
      // within-order pair join a second time (one InMemoryTableScan, no
      // second persist — the 2-col projection of the cached 3-col frame).
      coPurchasePairCounts(spark, dir).select(col("u"), col("v"))
    }

  /** Distinct co-purchase incidence (order, part), memoized + persisted —
    * the base frame of the whole co-purchase family: the pair-count build
    * scans it twice (self-join sides) and q154's support/total stats scan
    * it again per call; one cache serves them all (the q235 multi-consumer
    * persist rule, r13 optimization). */
  private[graft] def coPurchaseIncidence(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"q154inc|$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    }

  /** Within-order co-purchase PAIR COUNTS (u < v, n_co = shared orders),
    * memoized + persisted per (session, dir) — r13 optimization: q154's
    * top-20 co-occurrence ranking and the q177/q190/q195/q205/q314 edge
    * memo both derive from this ONE pair join (edges = its key set), so
    * the suite pays the quadratic within-order fan-out once, not twice. */
  private[graft] def coPurchasePairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"q154paircounts|$dir") {
      val li = coPurchaseIncidence(spark, dir)
      li.alias("a")
        .join(li.alias("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("n_co"))
    }

  /** Full-graph co-purchase degrees ((node, deg) over the edge memo, ONE
    * explode pass), memoized + persisted — r13 optimization: this frame
    * was rebuilt independently by q177's orientation (×2 joins + wedge
    * stats), q190's histogram, and q195's round-1 peel; one cache serves
    * all three queries and every bench replay. */
  private[graft] def coPurchaseDegrees(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"q177deg|$dir") {
      coPurchaseEdges(spark, dir)
        .select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    }

  def triangleCensus(spark: SparkSession, dir: String): DataFrame =
    triangleCensusOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      Some(coPurchaseEdges(spark, dir)),
      // The oriented frame has THREE consumers (both wedge sides + the
      // closure semi-join) — unmemoized, each re-pays the two degree
      // joins over the edge cache.
      o => graft.SessionMemo.frame(spark, s"q177oriented|$dir")(o),
      // Degrees ride the cross-query memo (also q190/q195 — r13).
      _ => coPurchaseDegrees(spark, dir))

  /** Edge-count gate below which the triangle closure runs as an
    * adjacency-list intersection with a broadcast neighbor table instead
    * of the wedge semi-join (r13 optimization, guide §2.4/§3): the wedge
    * formulation materializes Σ C(outdeg⁺, 2) rows — 37 M rows / 862 MB
    * of shuffle at sf0.1, the suite's heaviest exchange — where the
    * intersection path shuffles NOTHING beyond the adjacency build
    * (≤ |E| longs grouped per node; out-degree is orientation-bounded at
    * O(√m)). Both paths count each triangle exactly once at its apex
    * edge, so the result is identical — QueriesSpec pins both paths
    * equal on planted graphs. Above the gate (adjacency too big to
    * broadcast) the wedge join runs unchanged — the same
    * measured-size auto-switch as Dedup.connectedComponents' driver
    * gate. 5 M edges ≈ 40 MB broadcast. */
  private[graft] val TriAdjMaxEdges = 5000000L

  private[graft] def triangleCensusOf(orderParts: DataFrame,
      memoEdges: Option[DataFrame] = None,
      memoOriented: DataFrame => DataFrame = identity,
      memoDeg: DataFrame => DataFrame = identity,
      adjMaxEdges: Long = TriAdjMaxEdges,
      packIds: Option[Boolean] = None): DataFrame = {
    val li = orderParts.select(col("ok"), col("pk")).distinct()
    val edges = memoEdges.getOrElse(li.alias("a")
      .join(li.alias("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct())
    // Degrees in ONE edge-cache pass (explode of both endpoints — the
    // q195 idiom), memoized: three lineage consumers (two orientation
    // joins + the wedge-count stats) otherwise each re-pay the build.
    val deg = memoDeg(edges
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // Orient u→v iff (deg(u), u) < (deg(v), v); carry the endpoint degree
    // so the wedge pair can be ordered by the SAME total order.
    val oriented = memoOriented(edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt")))
    // Closure strategy by measured size (see [[TriAdjMaxEdges]]): under
    // the acyclic (deg, id) orientation every triangle {a → b, a → c,
    // b → c} is counted exactly once — the wedge path enumerates it at
    // apex a as the out-pair (b, c) and closes it with the semi-join;
    // the adjacency path counts it at edge (a, b) as c ∈ N⁺(a) ∩ N⁺(b).
    // Both are Σ over oriented edges of the co-out-neighbor count, so
    // the totals are identical (QueriesSpec pins both paths equal).
    // Gate-sizing count only when the edge frame is memoized/persisted
    // (r13 advice): on a raw call the count would execute the quadratic
    // within-order pair join a full extra time just to pick a strategy.
    // adjMaxEdges ≤ 0 / Long.MaxValue force wedge / adjacency without
    // counting (the spec hooks); an unmemoized call at the default gate
    // takes the wedge path, count-free.
    val nEdges =
      if (adjMaxEdges <= 0L) Long.MaxValue
      else if (adjMaxEdges == Long.MaxValue) 0L
      else if (memoEdges.isDefined) edges.count()
      else Long.MaxValue
    val tri =
      if (nEdges <= adjMaxEdges) {
        val adj = oriented.groupBy(col("s").as("node"))
          .agg(collect_list(col("t")).as("ns"))
        val empty = array().cast("array<bigint>")
        oriented.alias("e")
          .join(broadcast(adj.select(col("node").as("s"), col("ns").as("ns_s"))), Seq("s"), "left")
          .join(broadcast(adj.select(col("node").as("t"), col("ns").as("ns_t"))), Seq("t"), "left")
          .select(size(array_intersect(
            coalesce(col("ns_s"), empty), coalesce(col("ns_t"), empty))).cast("long").as("k"))
          .agg(sum(col("k")).as("n_triangles"))
          .select(coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      } else {
        // r14 (verdict #7, guide §2.1 — narrower shuffle keys): the wedge
        // closure's (b, c) endpoint pair packs into ONE BIGINT
        // (b·2³¹ | c) whenever node ids provably fit 31 bits — the
        // closure semi-join (the suite's heaviest exchange above the
        // gate: 37 M rows / 862 MB at sf0.1) then shuffles half the key
        // bytes. Gate: explicit via packIds (the spec hook), else
        // measured off the MEMOIZED degree frame only (the q177
        // gate-count rule — raw calls keep the 2-col shape, action-free).
        // Packing is bijective on ids in [0, 2³¹), so the semi-join
        // matches exactly the same pairs; a negative id would let
        // (b, c) and (b-1, c+2³¹) share a key, so both bounds are checked
        // (one aggregate, one job).
        val pack = packIds.getOrElse(memoEdges.isDefined && {
          val r = deg.agg(min(col("node")), max(col("node"))).head()
          !r.isNullAt(0) && r.getLong(0) >= 0L && r.getLong(1) < (1L << 31)
        })
        val wedges0 = oriented.alias("x")
          .join(oriented.alias("y"),
            col("x.s") === col("y.s") &&
              (col("x.dt") < col("y.dt") ||
                (col("x.dt") === col("y.dt") && col("x.t") < col("y.t"))))
        if (pack) {
          wedges0
            .select((col("x.t") * (1L << 31) + col("y.t")).as("bc"))
            .join(oriented.select((col("s") * (1L << 31) + col("t")).as("bc")),
              Seq("bc"), "left_semi")
            .agg(count(lit(1)).as("n_triangles"))
        } else {
          wedges0
            .select(col("x.t").as("b"), col("y.t").as("c"))
            .join(oriented.select(col("s").as("b"), col("t").as("c")),
              Seq("b", "c"), "left_semi")
            .agg(count(lit(1)).as("n_triangles"))
        }
      }
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ecnt = edges.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(broadcast(ecnt)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("3 * n_triangles * 10000L div n_wedges").as("gcc_bp"))
  }

  /** q195 constants, shared with the oracle generator. */
  private[graft] val KCoreK = 3L
  private[graft] val KCoreRounds = 3

  /** k-core peeling trace (q195) — the graph-pruning primitive under
    * community mining and graph sampling: [[KCoreRounds]] rounds of
    * "drop nodes with degree < [[KCoreK]], keep only edges between
    * survivors" over the shared co-purchase edge memo, emitting the
    * surviving node/edge counts per round. Each round is one degree
    * aggregate + two semi-joins on 8-byte keys; intermediate edge
    * frames persist so round r reads round r−1's cache rather than
    * re-deriving a 2^r-deep lineage (the q149 label-frame lesson). The
    * fixed-round trace (not run-to-convergence) keeps the oracle an
    * unrolled-CTE replay, the q139/q188 discipline. */
  def kCorePeeling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var edges = coPurchaseEdges(spark, dir)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // r13 optimization (guide §2.4 — one aggregate instead of two): each
    // round's DEGREE frame is both the peel predicate for round r and the
    // stats readout for round r−1 (n_nodes = rows with deg ≥ 1, n_edges =
    // Σdeg/2), so the loop keeps a rolling persisted degree frame instead
    // of running a separate explode + countDistinct action per round —
    // 3 degree aggregates + 3 count-distinct passes become 4 degree
    // aggregates total, and the per-round stats action is a ≤|V|-row
    // cached-frame fold. Round 1's degrees ride the cross-query
    // [[coPurchaseDegrees]] memo (shared with q177/q190). The survivor
    // list is a cheap filter over the cached degree frame, so it no
    // longer persists separately (both semi-joins re-filter the cache).
    def degreesOf(e: DataFrame): DataFrame = e
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var deg = coPurchaseDegrees(spark, dir)
    for (r <- 1 to KCoreRounds) {
      val kept = deg.filter(col("deg") >= KCoreK).select(col("node"))
      val next = edges
        .join(kept.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(kept.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += next
      val nextDeg = degreesOf(next)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += nextDeg
      // Node and edge counts from ONE action over the node-sized frame.
      val stats = nextDeg
        .agg(count(lit(1)).as("nodes"), sum(col("deg")).as("ends")).head()
      rows += ((r, stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1) / 2))
      edges = next
      deg = nextDeg
    }
    cached.foreach(_.unpersist(blocking = false))
    rows.toSeq.toDF("round", "n_nodes", "n_edges").orderBy(col("round"))
  }

  /** q205 constants, shared with the oracle. */
  private[graft] val BfsHops = 3

  /** k-hop reachability (q205) — breadth-first frontier expansion from
    * the smallest part node of the co-purchase graph, [[BfsHops]]
    * unrolled rounds: each hop is one equi-join of the (persisted,
    * node-sized) frontier against the shared edge memo plus an anti-join
    * against the visited set — the per-iteration shape of every
    * distributed BFS/shortest-path job. Frontier/visited frames persist
    * so round r never re-derives round r−1's lineage (the q149/q195
    * lesson); counts collect as hop-sized driver rows (q86/q188
    * emission); the oracle replays the unrolled rounds. */
  /** Symmetrized co-purchase edges (both directions), hash-partitioned on
    * the destination key, memoized + persisted per (session, dir) — r14:
    * q205's per-hop semi-joins and the q314 register rounds each rebuilt
    * the same 2·|E| explode per CALL (and q205 rebuilt it per replay);
    * one eager cache serves both families. Partitioned by `t` so the
    * q314 rounds shuffle only the node-sized register side; q205's
    * frontier side broadcasts, so the partitioning costs it nothing. */
  private[graft] def coPurchaseSym(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"q205sym|$dir") {
      coPurchaseEdges(spark, dir).select(explode(array(
          struct(col("u").as("s"), col("v").as("t")),
          struct(col("v").as("s"), col("u").as("t")))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .repartition(col("t"))
    }

  def kHopReachability(spark: SparkSession, dir: String): DataFrame =
    kHopReachabilityOf(spark, coPurchaseEdges(spark, dir),
      Some(coPurchaseSym(spark, dir)))

  private[graft] def kHopReachabilityOf(spark: SparkSession, edges: DataFrame,
      memoSym: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    // Symmetrize in ONE cache pass (explode, not union-of-projections —
    // the union scanned the edge cache twice per frontier expansion).
    // r13 optimization: PERSIST the symmetrized frame — it has BfsHops
    // consumers (one semi-join per frontier expansion), and un-persisted
    // each hop re-ran the 2·|E| explode over the edge cache (three ~0.4 s
    // stages per run in the r13 probe). r14: the registered query rides
    // the shared [[coPurchaseSym]] memo (one build per session, shared
    // with the q314 family); the per-call build below serves
    // planted-frame callers only.
    val sym = memoSym.getOrElse(edges.select(explode(array(
        struct(col("u").as("s"), col("v").as("t")),
        struct(col("v").as("s"), col("u").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val seed = edges.agg(min(col("u"))).head().getLong(0)
    var frontier = Seq(seed).toDF("node")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = frontier
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    // The memoized sym must SURVIVE this call (it is the shared cache).
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    if (memoSym.isEmpty) cached += sym
    for (hop <- 1 to BfsHops) {
      val next = sym.join(frontier.withColumnRenamed("node", "s"), Seq("s"), "left_semi")
        .select(col("t").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val newVisited = visited.union(next).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += next; cached += newVisited
      rows += ((hop, next.count(), newVisited.count()))
      frontier = next
      visited = newVisited
    }
    cached.foreach(_.unpersist(blocking = false))
    rows.toSeq.toDF("hop", "frontier_size", "visited_size").orderBy(col("hop"))
  }

  /** Exact community-quality scoring (q245) — Newman modularity of the
    * q149 min-label communities, in exact integers: for each community c
    * the contribution Qc = (2m·E2c − Dc²) / (2m)² with E2c = internal
    * edge-ENDPOINT count and Dc = degree sum, emitted ×10⁸ with
    * DECIMAL(38,0) wide products (Dc² reaches (2m)² ≈ 4·10¹⁸ at graph
    * scale — the q185/q192 discipline), plus the whole-partition total
    * (the sum of the per-community FLOORED contributions — both engines
    * floor identically, so the total replays exactly). This is the
    * detector-quality readout run after every community detection: label
    * propagation PARTITIONS the graph (q149), modularity says whether
    * the partition means anything. Scale shape: one edge pass keyed by
    * endpoint labels (two node-sized broadcast-able label joins over the
    * persisted symmetric edge memo) + node-sized aggregates; the 1-row
    * 2m scalar broadcasts back. */
  def modularityScore(spark: SparkSession, dir: String): DataFrame = {
    val symDeg = purchaseSymDeg(spark, dir)
    val labels = purchaseLabels(spark, dir)
    // r13 note: a memoized (node, lbl, outdeg) frame for the degree-sum
    // branch was measured and REVERTED — task CPU dropped 3.5× but wall
    // rose (2.2 s → 4.0 s min): the extra broadcast builds + cache
    // materialization cost more than the distinct+join they removed.
    modularityOf(symDeg, labels)
  }

  private[graft] def modularityOf(symDeg: DataFrame, labels: DataFrame): DataFrame = {
    val e2 = symDeg.select(col("src"), col("dst"))
      .join(labels.select(col("node").as("src"), col("lbl").as("la")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("int_endpoints"))
    val degC = symDeg.select(col("src"), col("outdeg")).distinct()
      .join(labels.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("lbl"))
      .agg(sum(col("outdeg")).as("deg_sum"), count(lit(1)).as("n_members"))
    val m2 = symDeg.agg(count(lit(1)).as("m2"))
    val per = degC.join(e2, Seq("lbl"), "left")
      .withColumn("int_endpoints", coalesce(col("int_endpoints"), lit(0L)))
      .crossJoin(broadcast(m2))
      .withColumn("q_contrib_x1e8", expr(
        """CAST((CAST(m2 AS DECIMAL(38,0)) * int_endpoints
          |  - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum) * 100000000
          |  div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)""".stripMargin))
    val total = per.agg(sum(col("q_contrib_x1e8")).as("q_total_x1e8"))
    per.crossJoin(broadcast(total))
      .select(col("lbl").as("community_lbl"), col("n_members"), col("deg_sum"),
        col("int_endpoints"), col("q_contrib_x1e8"), col("q_total_x1e8"))
      .orderBy(col("n_members").desc, col("community_lbl"))
      .limit(20)
  }

  /** q314 constants, shared with the oracle: m = 64 HLL buckets, 3
    * propagation rounds, α₆₄·m²·1000 as a DEFINED integer literal
    * (2904.064 → 2904064 — the standard HLL bias constant; both
    * engines use the literal, so there is no float anywhere), and the
    * 2^56 fixed-point scale for the harmonic sum. */
  private[graft] val HbBuckets = 64L
  private[graft] val HbRounds = 3
  private[graft] val HbAlphaM2Milli = 2904064L
  private[graft] val HbK = 56

  /** HyperBall neighborhood function (q314) — Boldi & Vigna 2013: the
    * per-node ball sizes |B(v,t)| that define a graph's effective
    * diameter are EXACTLY what cannot be computed at scale (this
    * corpus's co-purchase graph is an expander — its 3-hop closure is
    * already near-complete, which is why the q205 BFS runs from ONE
    * seed), so each node carries an m=64 HLL register vector instead
    * and the ball union becomes a per-bucket MAX — mergeable,
    * map-side-combinable, one keyed shuffle per round. Estimates use
    * the raw harmonic estimator in exact integer fixed point (no
    * small-range correction — the operating regime is balls ≫ m,
    * disclosed); the DuckDB oracle replays the registers and the
    * estimator bit-for-bit, so the card is hash-checked. Card per
    * round: nodes, mean and max estimated ball (milli).
    *
    * Scale shape: rounds cost one (node, bucket)-keyed aggregate each
    * (≤ 64 rows per node, `partial_max` map-side); the estimate is a
    * node-keyed fold; cards are 1-row aggregates. Nothing is ever
    * quadratic in the ball size — that is the entire point. */
  def hyperBall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hyperBallMemo(spark, dir)._1
      .map { case (t, n, s, mx) => (t, n, (s / n).toLong, mx) }
      .toDF("t", "n_nodes", "avg_ball_milli", "max_ball_milli")
      .orderBy(col("t"))
  }

  /** One register propagation per (session, dir), shared by q314 (the
    * neighborhood-function card), q316 (the distance-distribution /
    * effective-diameter payoff), q318 (harmonic centrality), q319
    * (Lin centrality) and q320 (Bavelas closeness) — the q304/q308/q312
    * LM-memo rule applied to the graph side: the expensive thing is the
    * per-round ball merge, and all five cards are driver-side folds of
    * the one pass's collected outputs. */
  private[graft] def hyperBallMemo(spark: SparkSession,
      dir: String): (Seq[(Long, Long, BigInt, Long)], Seq[(Long, Long, Long, Long)],
        Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) =
    graft.SessionMemo.memo(spark, s"hyperball_core:$dir")(
      hyperBallCoreOf(coPurchaseEdges(spark, dir),
        // r14: ride the shared symmetric-edge memo (one build per
        // session, shared with q205) and the degrees memo's node list
        // (same node set — every node carries ≥ 1 edge) instead of
        // re-exploding + re-distincting 2·|E| rows per propagation.
        memoSym = Some(coPurchaseSym(spark, dir)),
        memoNodes = Some(coPurchaseDegrees(spark, dir).select(col("node")))))

  /** q314 card rendered from [[hyperBallStatsOf]] — kept for the specs
    * that drive planted edge frames. */
  private[graft] def hyperBallOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    hyperBallStatsOf(edges)
      .map { case (t, n, s, mx) => (t, n, (s / n).toLong, mx) }
      .toDF("t", "n_nodes", "avg_ball_milli", "max_ball_milli")
      .orderBy(col("t"))
  }

  private[graft] def hyperBallStatsOf(edges: DataFrame): Seq[(Long, Long, BigInt, Long)] =
    hyperBallCoreOf(edges)._1

  /** q318 top-k size, shared with the oracle. */
  private[graft] val HcTopK = 20

  /** Per-round HyperBall stats — (t, n_nodes, Σ est_ball_milli, max), the
    * sum riding DECIMAL(38,0)/BigInt (node-count × ball-size products pass
    * BIGINT at web scale; the oracle's HUGEINT matches) — PLUS the q318
    * harmonic-centrality top-[[HcTopK]] rows
    * (node, ball1_milli, ballT_milli, harmonic_milli) — PLUS the q319
    * Lin-centrality top-[[HcTopK]] rows
    * (node, ballT_milli, dist_sum_milli, lin_milli) — PLUS the q320
    * Bavelas-closeness top-[[HcTopK]] rows
    * (node, ballT_milli, dist_sum_milli, closeness_nano), all collected
    * from ONE propagation. */
  private[graft] def hyperBallCoreOf(
      edges: DataFrame,
      memoSym: Option[DataFrame] = None,
      memoNodes: Option[DataFrame] = None): (Seq[(Long, Long, BigInt, Long)],
        Seq[(Long, Long, Long, Long)],
        Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val spark = edges.sparkSession
    import spark.implicits._
    val MD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val m = HbBuckets.toInt
    // Pre-partitioned ON THE JOIN KEY and persisted: an InMemoryTableScan
    // keeps its outputPartitioning, so every round's sym ⋈ reg join
    // shuffles only the |V|-sized register side — the 2·|E| edge frame
    // crosses the wire once for the whole query, not once per round.
    // r14: the registered family rides the shared [[coPurchaseSym]] memo;
    // the per-call build serves planted-frame callers.
    val sym = memoSym.getOrElse(edges.select(explode(array(
        struct(col("u").as("s"), col("v").as("t")),
        struct(col("v").as("s"), col("u").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .repartition(col("t"))
      .persist(MD))
    // One packed m-byte register vector per node (the [[RegMaxAggregator]]
    // layout): a skinny (node, bucket, rho) frame shuffles |E|·m rows per
    // round once the registers fill — measured 41 s at sf0.1 for the
    // skinny formulation vs the packed merge whose combined partials are
    // ≤ |V| packed rows per partition. (A 64-MAX-column codegen
    // HashAggregate variant was measured in r14 and REVERTED: the
    // 65-field UnsafeRows made it ~2× slower than the packed typed
    // merge — 46 s vs 24 s standalone cold.)
    // r14: the node list projects off the degrees memo when supplied
    // (same node set — every node carries ≥ 1 edge) instead of a fresh
    // 2·|E|-row distinct per propagation.
    val r0 = memoNodes.getOrElse(sym.select(col("s").as("node")).distinct())
      .select(col("node"),
        md5_token_hashes(array(concat(col("node").cast("string"), lit(":hb"))), 60)
          .getItem(0).as("h"))
      .select(col("node"), expr(s"h % $HbBuckets").as("b"),
        expr(s"CASE WHEN h div $HbBuckets = 0 THEN ${HbK - 1}L" +
          s" ELSE ${HbK}L - length(bin(h div $HbBuckets)) END").as("r"))
      .as[(Long, Long, Long)]
      .map { case (node, b, r) =>
        val regs = new Array[Byte](m); regs(b.toInt) = r.toByte; (node, regs)
      }
      .toDF("node", "regs")
      .persist(MD)
    // Eager (the GlobalRank cache-race rule): round 1's join side and
    // union side are concurrent consumers of r0 — and when sym is built
    // per-call, this same pass materializes it.
    r0.count()
    // The memoized sym must SURVIVE this call (it is the shared cache);
    // a per-call sym is dropped with the round frames as before.
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](r0)
    if (memoSym.isEmpty) cached += sym
    val estFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var reg = r0
    val cards = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, BigInt, Long)]
    for (t <- 1 to HbRounds) {
      val next = sym.join(reg.withColumnRenamed("node", "t"), Seq("t"))
        .select(col("s").as("node"), col("regs"))
        .unionByName(reg)
        .as[(Long, Array[Byte])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.graph.RegMaxAggregator(m).toColumn.name("regs"))
        .toDF("node", "regs")
        .persist(MD)
      cached += next
      // Estimate per node in exact BigInt integer arithmetic (the raw
      // harmonic estimator; α·m²·2^K overflows a Long by design, the
      // oracle rides HUGEINT for the same step). The constants are
      // hoisted to locals: since the registry split, these members live
      // on a trait, and a member reference inside the executor lambda
      // would capture the (non-serializable) object as `this`.
      val (hbK, hbBuckets, hbAlpha) = (HbK, HbBuckets, HbAlphaM2Milli)
      // Per-node estimates, node KEPT (q318 joins the rounds per node);
      // persisted — the round card and the centrality join both read it.
      val est = next.as[(Long, Array[Byte])].map { case (node, regs) =>
        var fill = 0L
        var i = 0
        while (i < m) { fill += (1L << hbK) - (1L << (hbK - regs(i))); i += 1 }
        val s = (hbBuckets << hbK) - fill
        (node, ((BigInt(hbAlpha) * (BigInt(1) << hbK)) / s).toLong)
      }.toDF("node", "est_milli")
        .persist(MD)
      cached += est
      estFrames += est
      // Cards are 3 rows of scalars — collect eagerly (the q274 rule) so
      // the round caches can be dropped and the rendered frames are
      // literal with no surviving iteration lineage.
      val row = est.agg(count(lit(1)).as("n_nodes"),
          sum(col("est_milli").cast("decimal(38,0)")).as("sum_ball_milli"),
          max(col("est_milli")).as("max_ball_milli"))
        .head()
      cards += ((t.toLong, row.getLong(0),
        BigInt(row.getDecimal(1).toBigInteger), row.getLong(2)))
      reg = next
    }
    // q318 harmonic centrality from the SAME pass: per node,
    // Σ_t (|B(v,t)| − |B(v,t−1)|) div t with |B(v,0)| = 1000 exact —
    // Boldi & Vigna's "Axioms for centrality" estimator, in the integer
    // milli fixed point the rounds already carry (ball growth is
    // register-monotone, so every delta is ≥ 0 and floor division
    // matches DuckDB's `//`). Plan shape: HbRounds node-keyed hash joins
    // of |V|-row persisted frames + a TakeOrdered top-k — never a global
    // sort. Collected eagerly so the round caches can drop.
    val joined = estFrames.zipWithIndex
      .map { case (f, i) => f.withColumnRenamed("est_milli", s"e${i + 1}") }
      .reduce(_.join(_, "node"))
    val harmonic = (1 to HbRounds)
      .map(t => s"(e$t - ${if (t == 1) "1000L" else s"e${t - 1}"}) div ${t}L")
      .mkString(" + ")
    // q319 Lin centrality from the SAME fold: the (round-truncated)
    // distance sum Σ_t t·(|B(v,t)| − |B(v,t−1)|) telescopes out of the
    // same deltas (each ≥ 0 — register-monotone growth), and Lin's index
    // |B(v,T)|² / Σd corrects closeness for reachable-set size (Boldi &
    // Vigna's recommendation when components differ). The square rides
    // DECIMAL(38,0) (ballT² passes BIGINT at web scale; `div` floors back
    // to BIGINT exactly like the oracle's HUGEINT `//`); the quotient is
    // ≤ ballT so the result column is safe. The denominator is > 0
    // whenever a node exists (the raw m=64 estimator's floor α·m ≈ 45.4
    // ≫ 1.0 = exact |B(v,0)|), but both engines still guard it — a 0
    // reads as 0 centrality, never an engine-specific error.
    val distSum = (1 to HbRounds)
      .map(t => s"(e$t - ${if (t == 1) "1000L" else s"e${t - 1}"}) * ${t}L")
      .mkString(" + ")
    val scored = joined
      .withColumn("harmonic_milli", expr(harmonic))
      .withColumn("dist_sum_milli", expr(distSum))
      .withColumn("lin_milli", expr(
        s"CASE WHEN dist_sum_milli <= 0 THEN 0L ELSE " +
          s"(CAST(e$HbRounds AS DECIMAL(38,0)) * e$HbRounds) div dist_sum_milli END"))
      // q320 Bavelas closeness 1/Σd in nano fixed point: Σd is
      // dist_sum_milli/1000, so 1/Σd = 10⁹·1000 div dist_sum_milli —
      // 10¹² stays far inside BIGINT and `div` floor-matches DuckDB `//`.
      .withColumn("closeness_nano", expr(
        s"CASE WHEN dist_sum_milli <= 0 THEN 0L ELSE " +
          s"1000000000000L div dist_sum_milli END"))
      .persist(MD)
    cached += scored
    def topBy(key: String, cols: Seq[String]): Seq[(Long, Long, Long, Long)] = scored
      .orderBy(col(key).desc, col("node"))
      .limit(HcTopK)
      .select(col("node") +: cols.map(col): _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val topRows = topBy("harmonic_milli", Seq("e1", s"e$HbRounds", "harmonic_milli"))
    val linRows = topBy("lin_milli", Seq(s"e$HbRounds", "dist_sum_milli", "lin_milli"))
    val closeRows = topBy("closeness_nano",
      Seq(s"e$HbRounds", "dist_sum_milli", "closeness_nano"))
    cached.foreach(_.unpersist(blocking = false))
    (cards.toSeq, topRows, linRows, closeRows)
  }

  /** Harmonic centrality top-[[HcTopK]] (q318) — the PER-NODE payoff of
    * the q314 registers (q316 is the graph-level one): harmonic
    * centrality H(v) = Σ_{u≠v} 1/d(u,v) telescopes over ball sizes as
    * Σ_t (|B(v,t)| − |B(v,t−1)|)/t, so the HLL ball estimates give every
    * node's centrality in the SAME propagation that q314/q316 already
    * pay for — exactly why Boldi & Vigna built HyperBall ("In-Core
    * Computation of Geometric Centralities with HyperBall", 2013). The
    * card is the top-[[HcTopK]] most central co-purchase parts with
    * their t=1 and t=[[HbRounds]] ball estimates.
    *
    * Scale shape: rides [[hyperBallMemo]] (one propagation per session ×
    * dir, shared with q314/q316); the centrality fold is HbRounds
    * node-keyed joins of |V|-row frames and a TakeOrdered top-k — no
    * global sort, nothing quadratic. */
  def harmonicCentrality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hyperBallMemo(spark, dir)._2
      .toDF("node", "ball1_milli", s"ball${HbRounds}_milli", "harmonic_milli")
      .orderBy(col("harmonic_milli").desc, col("node"))
  }

  /** Lin centrality top-[[HcTopK]] (q319) — the CLOSENESS-family payoff
    * of the q314 registers, completing the HyperBall card set (q314
    * neighborhood function, q316 effective diameter, q318 harmonic, this):
    * classic closeness 1/Σd misranks when reachable-set sizes differ, so
    * Boldi & Vigna's survey ("Axioms for Centrality", 2014) recommends
    * Lin's index L(v) = |B(v,T)|² / Σ_{u∈B(v,T)} d(v,u), which the ball
    * estimates the propagation already carries yield for free: the
    * distance sum telescopes as Σ_t t·(|B(v,t)|−|B(v,t−1)|), the same
    * deltas q318 divides by t. T-truncated like every HyperBall quantity
    * (distances beyond [[HbRounds]] don't contribute — disclosed; the
    * expander saturates by round 3 anyway). Exact integer milli fixed
    * point end to end: the square rides DECIMAL(38,0)/HUGEINT and `div`
    * // floor-match, so the card is hash-checked, not a float claim.
    *
    * Scale shape: rides [[hyperBallMemo]] (one propagation per session ×
    * dir shared by all four cards); the centrality fold reuses q318's
    * HbRounds node-keyed joins of |V|-row persisted frames and adds two
    * projected columns + one more TakeOrdered top-k — no global sort,
    * nothing quadratic. */
  def linCentrality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hyperBallMemo(spark, dir)._3
      .toDF("node", s"ball${HbRounds}_milli", "dist_sum_milli", "lin_milli")
      .orderBy(col("lin_milli").desc, col("node"))
  }

  /** Bavelas closeness top-[[HcTopK]] (q320) — the CLASSIC closeness
    * C(v) = 1/Σ_{u∈B(v,T)} d(v,u) from the same fold, the fifth card on
    * one propagation. Deliberately paired with q319: plain closeness is
    * the textbook baseline AND the cautionary tale — a node reaching few
    * others cheaply outranks a well-connected hub, the exact misranking
    * Lin's |B|²/Σd correction fixes (Boldi & Vigna, "Axioms for
    * Centrality", 2014) — so the two cards together document WHY the
    * engine's recommended ranking is q319's. T-truncated like every
    * HyperBall quantity; nano fixed point (10¹²/dist_sum_milli, exact
    * BIGINT floor division matching the oracle's `//`); the Σd ≤ 0 guard
    * is replayed on both sides although the raw-estimator floor keeps it
    * unreachable.
    *
    * Scale shape: rides [[hyperBallMemo]] — the marginal cost over
    * q314/q316/q318/q319 is ONE projected column and one more
    * TakeOrdered top-k on the already-persisted score frame (measured
    * 0.05–0.08 s at sf0.1, like q319's marginal cost). */
  def closenessCentrality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hyperBallMemo(spark, dir)._4
      .toDF("node", s"ball${HbRounds}_milli", "dist_sum_milli", "closeness_nano")
      .orderBy(col("closeness_nano").desc, col("node"))
  }

  /** Effective-diameter / distance-distribution card (q316) — the
    * Boldi-Vigna PAYOFF of q314's neighborhood function: N(t) = Σ_v
    * |B(v,t)| counts the node pairs within distance t, so its per-round
    * deltas are the graph's distance distribution and the τ-interpolated
    * crossing of N is the effective diameter — the number that says "90%
    * of reachable pairs sit within D hops", the expander check a
    * co-purchase recommender or graph-sampling plan reads first. N(0) is
    * EXACT (|V|·1000 — each node's ball at t=0 is itself); N(1..T) are
    * the q314 estimates; the interpolation eff(τ) = (t−1) +
    * (τ·N(T) − N(t−1)) / (N(t) − N(t−1)) runs in exact BigInt milli
    * (floor division — DuckDB `//` matches), where t is the smallest
    * round with N(t) ≥ τ·N(T), so the card is hash-checked, not a float
    * claim. Emitted per round: cumulative pairs, the delta (pairs at
    * distance exactly t), the cumulative share in bp, and the τ=0.5 /
    * τ=0.9 effective diameters (constant columns — the card stays one
    * frame).
    *
    * Scale shape: everything beyond the memoized q314 propagation is
    * driver arithmetic on HbRounds+1 scalars. */
  def hyperBallDistance(spark: SparkSession, dir: String): DataFrame =
    hyperBallDistanceOf(spark, hyperBallMemo(spark, dir)._1)

  private[graft] def hyperBallDistanceOf(spark: SparkSession,
      stats: Seq[(Long, Long, BigInt, Long)]): DataFrame = {
    import spark.implicits._
    val v = stats.head._2
    val nt: IndexedSeq[BigInt] = (BigInt(v) * 1000) +: stats.map(_._3).toIndexedSeq
    val nT = nt.last
    def eff(tauBp: Long): Long =
      if (nt(0) * 10000 >= BigInt(tauBp) * nT) 0L
      else {
        val t = (1 to stats.size)
          .find(t => nt(t) * 10000 >= BigInt(tauBp) * nT).get
        (BigInt(t - 1) * 1000 +
          (BigInt(tauBp) * nT - nt(t - 1) * 10000) * 1000 /
            ((nt(t) - nt(t - 1)) * 10000)).toLong
      }
    val (e50, e90) = (eff(5000L), eff(9000L))
    // The pair sums are carried as BigInt precisely because Σ est_milli
    // passes BIGINT at web scale; emitting them as BIGINT columns must
    // then fail LOUDLY past Long range (DuckDB's CAST(HUGEINT AS BIGINT)
    // raises; Scala's toLong silently wraps — round-11 advice #2), so the
    // narrowing is guarded. |V| ≲ 3·10⁹ keeps every N(t) < 2⁶³ at milli
    // scale; past that the card's columns need DECIMAL(38,0).
    def milliLong(x: BigInt): Long = {
      require(x.isValidLong, s"pair-count milli fixed point overflows BIGINT: $x")
      x.toLong
    }
    stats.indices.map { i =>
      val t = i + 1
      (t.toLong, v, milliLong(nt(t)), milliLong(nt(t) - nt(t - 1)),
        (nt(t) * 10000 / nT).toLong, e50, e90)
    }.toDF("t", "n_nodes", "pairs_milli", "delta_milli", "cum_bp",
      "eff_diam50_milli", "eff_diam90_milli")
      .orderBy(col("t"))
  }
}
