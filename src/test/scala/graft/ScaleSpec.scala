package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

/** Scale utilities: bucketed joins must be exchange-free; salted joins must
  * preserve join semantics. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join without any shuffle exchange") {
    Scale.writeBucketed(
      Tables.orders(spark, TestSpark.SfDir), "graft_orders_b", Seq("o_orderkey"), 4)
    Scale.writeBucketed(
      Tables.lineitem(spark, TestSpark.SfDir)
        .withColumnRenamed("l_orderkey", "o_orderkey"), "graft_lineitem_b", Seq("o_orderkey"), 4)
    // Disable broadcast so the small side can't sidestep the bucketing
    // claim, and unwrap AdaptiveSparkPlanExec — collect() does not descend
    // into it (the old 0-exchange assert was vacuously true through AQE).
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale.bucketedJoin(spark, "graft_orders_b", "graft_lineitem_b", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val nExchanges = plan.collect { case e: Exchange => e }.size
      assert(nExchanges == 0, plan.toString)
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, plan.toString)
      assert(joined.count() == Tables.lineitem(spark, TestSpark.SfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP TABLE graft_orders_b"); spark.sql("DROP TABLE graft_lineitem_b")
  }

  test("salted join returns exactly the rows of the plain join") {
    val li = Tables.lineitem(spark, TestSpark.SfDir).select($"l_orderkey", $"l_quantity")
    val orders = Tables.orders(spark, TestSpark.SfDir)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val plain = li.join(orders, Seq("l_orderkey")).count()
    val salted = Scale.saltedJoin(li, orders, "l_orderkey", salt = 4).count()
    assert(salted == plain)
  }

  test("sorted range write produces partition-clustered parquet") {
    TestSpark.withTempDir("graft_sorted") { dir =>
      Scale.sortedWrite(Tables.events(spark, TestSpark.SfDir), s"$dir/ev", "ts", 4)
      val back = spark.read.parquet(s"$dir/ev")
      assert(back.count() == Tables.events(spark, TestSpark.SfDir).count())
    }
  }

  test("dynamic partition pruning: a runtime subquery prunes fact partitions") {
    // The 100 TB join shape: fact partitioned on the join key's directory
    // column, dim carries a selective filter only known at runtime — DPP
    // turns the dim's broadcast into a partition filter on the fact scan
    // (dynamicpruningexpression), so excluded directories are never read.
    TestSpark.withTempDir("graft_dpp") { dir =>
      Scale.writePartitioned(
        Tables.lineitem(spark, TestSpark.SfDir)
          .select($"l_orderkey", $"l_quantity", $"l_returnflag"),
        s"$dir/li", Seq("l_returnflag"))
      val fact = spark.read.parquet(s"$dir/li")
      // The dim must be a real source (a LocalRelation's filter constant-folds
      // away and DPP sees no selective predicate to reuse).
      Seq(("R", "returned"), ("A", "accepted"), ("N", "neither"))
        .toDF("flag", "label")
        .write.parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
        .filter($"label" === "returned") // the selective runtime predicate
      val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"), plan)
      // Semantics unchanged: DPP only prunes, never drops matching rows.
      val want = fact.filter($"l_returnflag" === "R").count()
      assert(joined.count() == want)
      assert(want > 0)
    }
  }

  test("runtime bloom filter: a selective dim injects might_contain into the fact scan") {
    // DPP's sibling for NON-partitioned layouts: AQE builds a bloom filter
    // from the filtered dim side and pushes might_contain(l_orderkey) into
    // the fact side of the shuffle join, skipping rows before the
    // exchange. The applicationSideScanSizeThreshold default is 10 GB —
    // right for a 100 TB cluster, above the harness scan, so the test
    // lowers it to 0 to exercise the rewrite; semantics must not change.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, TestSpark.SfDir)
      val ord = Tables.orders(spark, TestSpark.SfDir)
        .filter($"o_orderpriority" === "1-URGENT")
      val joined = li.join(ord, $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan)
      val want = li.join(broadcast(ord), $"l_orderkey" === $"o_orderkey").count()
      assert(joined.count() == want)
      assert(want > 0)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE skew join: a hot key splits at runtime (OptimizeSkewedJoin), semantics unchanged") {
    // The third runtime lever at 100 TB next to the DPP and bloom pins: one
    // key carrying half a fact side serializes a whole stage unless AQE
    // splits the skewed shuffle partition. Thresholds are scaled down to
    // harness data volume (defaults are sized for a real cluster); the
    // rewrite must mark the join isSkewJoin and change NOTHING about the
    // result — cross-checked against the explicit salted-join fallback,
    // which is the manual form of the same trick (Scale.saltedJoin).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when($"id" % 2 === 0, lit(7L)).otherwise($"id").as("k"), $"id".as("lv"))
      val right = spark.range(2000).select($"id".as("k"), ($"id" * 10).as("rv"))
      val joined = left.join(right, Seq("k"))
      val got = joined.collect().length // executes THIS plan, finalizing AQE
      val finalPlan = (joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      // The join node itself is re-planned with isSkewJoin (prints
      // "skew=true") and the hot side's shuffle read carries the split
      // partitions ("skewed"). String pins because AQE query-stage
      // wrappers don't expose the join to a typed collect.
      assert(finalPlan.contains("skew=true"),
        s"no skew-split join in the AQE final plan:\n$finalPlan")
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed"),
        s"hot-side shuffle read not skew-split:\n$finalPlan")
      val want = Scale.saltedJoin(left, right, "k", salt = 8).count()
      assert(got.toLong == want)
      assert(got > 0)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q83 keep-list semi-join survives the build-side flip (broadcast → shuffle)") {
    // VERDICT r5 #5: at harness SF the exact-dedup keep list broadcasts;
    // at 100 TB it is corpus-sized and AQE picks a shuffle build. Prove
    // the broadcast is a size decision, not a correctness dependency:
    // with broadcast disabled the SAME joint plans as a shuffle-side
    // LeftSemi and returns the identical survivor set.
    import graft.analytics.PipelineQueries
    val docs = Tables.documents(spark, TestSpark.SfDir)
    val want = PipelineQueries.exactKeepSurvivors(docs)
      .select($"doc_id").as[Long].collect().toSet
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val flipped = PipelineQueries.exactKeepSurvivors(docs)
      val got = flipped.select($"doc_id").as[Long].collect().toSet // finalizes AQE
      val finalPlan = (flipped.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      assert(!finalPlan.contains("BroadcastHashJoin"), finalPlan)
      assert(finalPlan.contains("LeftSemi"), finalPlan)
      assert(got == want)
      assert(want.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("CBO: computed table statistics drive the broadcast decision") {
    // The compile-time sibling of the pinned runtime levers (DPP, bloom,
    // skew): on a cluster, ANALYZE TABLE statistics let the planner pick
    // broadcast sides and join orders BEFORE runtime. Pin the mechanism:
    // a catalog table whose stats say "tiny" broadcasts under CBO even
    // when file-size estimation alone would not be trusted, and the
    // stats actually land in the catalog.
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sql("DROP TABLE IF EXISTS graft_cbo_dim")
      spark.sql("DROP TABLE IF EXISTS graft_cbo_fact")
      Tables.nation(spark, TestSpark.SfDir).write.saveAsTable("graft_cbo_dim")
      Tables.customer(spark, TestSpark.SfDir).write.saveAsTable("graft_cbo_fact")
      spark.sql("ANALYZE TABLE graft_cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.sql("ANALYZE TABLE graft_cbo_fact COMPUTE STATISTICS FOR ALL COLUMNS")
      // Stats are in the catalog (rowCount present ⇒ CBO has cardinality).
      val described = spark.sql("DESC EXTENDED graft_cbo_dim")
        .filter($"col_name" === "Statistics").select("data_type").head().getString(0)
      assert(described.contains("rows"), s"no row stats in catalog: $described")
      val joined = spark.sql(
        """SELECT f.c_custkey, d.n_name FROM graft_cbo_fact f
          |JOIN graft_cbo_dim d ON f.c_nationkey = d.n_nationkey""".stripMargin)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"stats-known tiny dim did not broadcast:\n$p")
      assert(joined.count() == Tables.customer(spark, TestSpark.SfDir).count())
    } finally {
      olds.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS graft_cbo_dim")
      spark.sql("DROP TABLE IF EXISTS graft_cbo_fact")
    }
  }

  test("GlobalRank: sharded global rank is bit-identical to the serial window") {
    import org.apache.spark.sql.expressions.Window
    // Heavily tied metric (v = id % 7) exercises tie routing across range
    // shards; user_id is the unique tiebreaker the contract requires.
    val df = spark.range(0L, 10000L).selectExpr("id AS user_id", "id % 7 AS v")
    val sharded = graft.operators.GlobalRank
      .rowNumber(df, Seq(col("v").desc, col("user_id").asc), "rk", shards = 8)
    val serial = df.withColumn("rk",
      row_number().over(Window.orderBy(col("v").desc, col("user_id").asc)).cast("long"))
    assert(sharded.count() == 10000L)
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
    // And the sharding is real: the executed plan range-partitions and no
    // window orders the data frame unpartitioned.
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    assert(!"""windowspecdefinition\(v#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("GlobalRank: offsets and local ranks read ONE materialized sharding (sf0.1 regression)") {
    import org.apache.spark.sql.expressions.Window
    // The round-10 q168 failure shape: an UPSTREAM SHUFFLED aggregate
    // feeding the rank, with ~90% of the ordering metric tied — the two
    // GlobalRank consumers (block ranks, shard offsets), if they
    // re-executed the range exchange independently, could draw different
    // sampled boundaries for the giant tie block and mis-join offsets to
    // blocks. The persist pins one sharding; this spec pins the persist
    // (InMemoryTableScan feeds BOTH consumers) and bit-equality with the
    // serial window on exactly that shape.
    val df = spark.range(0L, 20000L)
      .selectExpr("id % 2000 AS user_id", "CASE WHEN id % 2000 < 1800 THEN 0L ELSE id % 7 END AS m")
      .groupBy("user_id").agg(max(col("m")).as("v"))
    val sharded = graft.operators.GlobalRank
      .rowNumber(df, Seq(col("v").asc, col("user_id").asc), "rk", shards = 8)
    val serial = df.withColumn("rk",
      row_number().over(Window.orderBy(col("v").asc, col("user_id").asc)).cast("long"))
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"the sharded frame must be materialized once and read by both consumers:\n$p")
  }

  test("GlobalRank.prefixMax: sharded prefix-max is bit-identical to the serial RANGE window") {
    import org.apache.spark.sql.expressions.Window
    // Heavy order-key ties (k = id % 50) exercise the tie-colocation
    // invariant; v is deliberately non-monotone in k so shard carry-ins
    // matter. Both the strict (-1) and inclusive (0) frames are checked.
    val df = spark.range(0L, 10000L)
      .selectExpr("id", "id % 50 AS k", "(id * 2654435761) % 1000 AS v")
    val sharded = graft.operators.GlobalRank
      .prefixMax(df, col("k"), col("v"), "pm", inclusiveOut = "pmi", shards = 8)
    val wS = Window.orderBy(col("k")).rangeBetween(Window.unboundedPreceding, -1)
    val wI = Window.orderBy(col("k")).rangeBetween(Window.unboundedPreceding, 0)
    val serial = df.withColumn("pm", max(col("v")).over(wS))
      .withColumn("pmi", max(col("v")).over(wI))
    assert(sharded.count() == 10000L)
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
    // The first order-key group's strict prefix is genuinely NULL.
    assert(sharded.filter(col("k") === 0 && col("pm").isNull).count() == 200L)
    // And the sharding is real: range exchange present, no window orders
    // the data frame unpartitioned.
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    assert(!"""windowspecdefinition\(k#\d+L, """.r.findFirstIn(p).isDefined, p)
  }

  test("GlobalRank.prefixSum: sharded exclusive running sum is bit-identical to the serial ROWS window") {
    import org.apache.spark.sql.expressions.Window
    // Non-monotone values under a unique total order (the contract);
    // shards = 8 forces real carry-ins across range boundaries.
    val df = spark.range(0L, 10000L)
      .selectExpr("id", "(id * 2654435761) % 997 AS v")
    val sharded = graft.operators.GlobalRank
      .prefixSum(df, Seq(col("id").asc), col("v"), "ps", shards = 8)
    val w = Window.orderBy(col("id").asc).rowsBetween(Window.unboundedPreceding, -1)
    val serial = df.withColumn("ps", coalesce(sum(col("v")).over(w), lit(0L)))
    assert(sharded.count() == 10000L)
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
    // The first row's exclusive prefix is 0, not NULL (sum-over-empty-frame
    // is normalized so downstream div arithmetic never sees a NULL).
    assert(sharded.filter(col("id") === 0L && col("ps") === 0L).count() == 1L)
    // Sharding is real: range exchange present, no window orders the data
    // frame unpartitioned, one materialized sharding feeds both consumers.
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    assert(!"""windowspecdefinition\(id#\d+L ASC""".r.findFirstIn(p).isDefined, p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("GlobalRank.prefixSums: N columns share one range exchange and match N serial windows") {
    import org.apache.spark.sql.expressions.Window
    // Two value columns over the same unique total order (the q226 CDF
    // shape): both must be bit-identical to their serial windows while
    // paying ONE sampled range exchange, not two.
    val df = spark.range(0L, 10000L)
      .selectExpr("id", "(id * 2654435761) % 997 AS v1", "(id * 40503) % 613 AS v2")
    val sharded = graft.operators.GlobalRank.prefixSums(
      df, Seq(col("id").asc), Seq(col("v1") -> "p1", col("v2") -> "p2"), shards = 8)
    val w = Window.orderBy(col("id").asc).rowsBetween(Window.unboundedPreceding, -1)
    val serial = df
      .withColumn("p1", coalesce(sum(col("v1")).over(w), lit(0L)))
      .withColumn("p2", coalesce(sum(col("v2")).over(w), lit(0L)))
    assert(sharded.count() == 10000L)
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    // One WindowExec evaluates BOTH local sums (shared window spec), and
    // both consumers read the one materialized sharding — the string
    // "sum(v1…" and "sum(v2…" must sit in the SAME Window node.
    assert("""Window \[sum\(v1#\d+L\) windowspecdefinition[^\n]*sum\(v2#\d+L\)""".r
      .findFirstIn(p).isDefined,
      s"both local sums must share one WindowExec:\n$p")
    assert(p.contains("InMemoryTableScan"), p)
    assert(!"""windowspecdefinition\(id#\d+L ASC""".r.findFirstIn(p).isDefined, p)
  }

  test("q177 above-gate wedge closure: packed BIGINT keys match the 2-col semi-join") {
    import spark.implicits._
    // The K4+K3+pendant planted graph from QueriesSpec's gate test —
    // enough wedge/closure structure to tell a packing bug apart.
    val op = (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)) ++
      Seq((2L, 3L), (2L, 4L), (2L, 5L)) ++
      Seq((3L, 5L), (3L, 6L))).toDF("ok", "pk")
    def run(pack: Boolean) = graft.analytics.PipelineQueries
      .triangleCensusOf(op, adjMaxEdges = 0L, packIds = Some(pack))
      .collect().map(_.toSeq).toSeq
    val packed = run(true)
    val plain = run(false)
    assert(packed == plain, s"packed=$packed plain=$plain")
    assert(packed.head(3) == 5L, s"K4 (4) + K3 (1) triangles expected: $packed")
    // The packed closure's semi-join must key on ONE bigint (b·2³¹ | c):
    // the wedge exchange then carries half the key bytes of the
    // (b, c) 2-col form — the shape real scale takes above the gate.
    val plan = graft.analytics.PipelineQueries
      .triangleCensusOf(op, adjMaxEdges = 0L, packIds = Some(true))
      .queryExecution.executedPlan.toString
    assert(plan.contains("2147483648"), s"packed key expected in plan:\n$plan")
  }

  test("q177 pack gate: a negative node id keeps the 2-col wedge closure") {
    // One open wedge -1 ← 10 → 20 (apex 10; -1 and 20 carry pendants so
    // 10 orients towards both) and one edge 0 → t with t = 20 - 2³¹ (t's
    // pendant orients it 0 → t). Packed, the wedge key -1·2³¹ + 20 equals
    // the edge key 0·2³¹ + t, so the packed closure would count a
    // triangle the graph does not have; every id is below 2³¹, so only
    // the min(node) >= 0 bound keeps the gate off.
    val t = 20L - (1L << 31)
    val edges = Seq((10L, 20L), (-1L, 10L), (20L, 21L), (20L, 22L), (-1L, 23L), (-1L, 24L),
      (t, 0L), (t, 25L)).toDF("u", "v")
    val noParts = Seq.empty[(Long, Long)].toDF("ok", "pk")
    def run(packIds: Option[Boolean]) = graft.analytics.PipelineQueries
      .triangleCensusOf(noParts, memoEdges = Some(edges), adjMaxEdges = 0L, packIds = packIds)
    val gated = run(None)
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("2147483648"), s"gate must keep the 2-col closure:\n$plan")
    // 10 nodes, 8 edges, Σ C(deg, 2) = 1 + 3 + 3 + 1 = 8 wedges, no triangle.
    val expected = Seq(Seq(10L, 8L, 8L, 0L, 0L))
    assert(gated.collect().map(_.toSeq).toSeq == expected)
    assert(run(Some(false)).collect().map(_.toSeq).toSeq == expected)
    // The graph does exercise the hazard: forced packing miscounts.
    assert(run(Some(true)).collect().head.getLong(3) == 1L)
  }

  test("RegMaxAggregator.reduce rejects a register vector of the wrong width") {
    val agg = new graft.graph.RegMaxAggregator(4)
    val buf = agg.reduce(agg.zero, Array[Byte](1, 2, 3, 4))
    intercept[IllegalArgumentException](agg.reduce(agg.zero, Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](agg.reduce(buf, Array[Byte](1, 2, 3, 4, 5)))
    assert(agg.reduce(buf, Array[Byte](0, 5, 0, 5)).toSeq == Seq[Byte](1, 5, 3, 5))
  }

  test("GlobalRank.prefixMax: non-integral values are rejected up front; int values are read") {
    val df = spark.range(0L, 100L).selectExpr("id", "id % 7 AS k",
      "CAST(id AS DOUBLE) AS d", "CAST(id AS DECIMAL(10,0)) AS dec", "CAST(id % 13 AS INT) AS i")
    Seq("d", "dec").foreach { c =>
      val (_, jobs) = TestSpark.jobsStartedBy(intercept[IllegalArgumentException](
        graft.operators.GlobalRank.prefixMax(df, col("k"), col(c), "pm", shards = 4)))
      assert(jobs == 0, s"$c: rejected after starting $jobs jobs")
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sharded = graft.operators.GlobalRank.prefixMax(df, col("k"), col("i"), "pm", shards = 4)
      .select(col("id"), col("pm").cast("long"))
    val serial = df.select(col("id"), max(col("i")).over(w).cast("long").as("pm"))
    assert(sharded.exceptAll(serial).isEmpty && serial.exceptAll(sharded).isEmpty)
  }

  test("GlobalRank.prefixSums: non-integral value columns are rejected up front") {
    val df = spark.range(0L, 100L).selectExpr("id",
      "CAST(id AS DOUBLE) AS d", "CAST(id AS DECIMAL(10,0)) AS dec", "id AS v")
    Seq("d", "dec").foreach { c =>
      val (_, jobs) = TestSpark.jobsStartedBy(intercept[IllegalArgumentException](
        graft.operators.GlobalRank.prefixSums(
          df, Seq(col("id").asc), Seq(col("v") -> "pv", col(c) -> "pc"), shards = 4)))
      assert(jobs == 0, s"$c: rejected after starting $jobs jobs")
    }
  }

  test("GlobalRank edge inputs: an all-NULL value shard, an empty frame, more shards than rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GlobalRank
    val byK = Window.orderBy(col("k"))
    val total = Window.orderBy(col("k"), col("id"))
    def strictMax(df: DataFrame) =
      df.withColumn("out", max(col("v")).over(byK.rangeBetween(Window.unboundedPreceding, -1)))
    def exclusiveSum(c: String) =
      coalesce(sum(col(c)).over(total.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    // (name, sharded, serial); `k` has 4-way ties, (k, id) is total.
    val ops: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("rowNumber", GlobalRank.rowNumber(_, Seq(col("k"), col("id")), "out", shards = 8),
        _.withColumn("out", row_number().over(total).cast("long"))),
      ("prefixMax strict", GlobalRank.prefixMax(_, col("k"), col("v"), "out", shards = 8),
        strictMax),
      ("prefixMax inclusive",
        GlobalRank.prefixMax(_, col("k"), col("v"), "out", inclusiveOut = "incl", shards = 8),
        df => strictMax(df)
          .withColumn("incl", max(col("v")).over(byK.rangeBetween(Window.unboundedPreceding, 0)))),
      ("prefixSums", GlobalRank.prefixSums(_, Seq(col("k"), col("id")),
        Seq(col("v") -> "out", col("id") -> "out2"), shards = 8),
        _.withColumn("out", exclusiveSum("v")).withColumn("out2", exclusiveSum("id"))))
    // The NULL run covers half of 400 rows, so at least one of the 8
    // range shards holds only NULL values.
    val inputs: Seq[(String, Long, String)] = Seq(
      ("an all-NULL value shard", 400L, "CASE WHEN id BETWEEN 100 AND 299 THEN NULL ELSE id % 13 END"),
      ("an empty frame", 0L, "id % 13"),
      ("more shards than rows", 3L, "id % 13"))
    for ((input, rows, v) <- inputs; (op, sharded, serial) <- ops) {
      // The op name keeps every frame's plan distinct, so no call finds
      // its sharding already cached by an earlier one.
      val df = spark.range(0L, rows).selectExpr("id", "id DIV 4 AS k", s"$v AS v", s"'$op' AS op")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = sharded(df)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.size == 1, s"$op on $input: building added persisted RDDs $added")
      val expected = serial(df)
      assert(out.schema == expected.schema, s"$op on $input")
      assert(out.count() == rows, s"$op on $input")
      assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty, s"$op on $input")
    }
  }

  test("partitioned layout prunes directories at planning time") {
    TestSpark.withTempDir("graft_part") { dir =>
      val events = Tables.events(spark, TestSpark.SfDir)
      Scale.writePartitioned(events, s"$dir/ev", Seq("event_type"))
      val all = spark.read.parquet(s"$dir/ev")
      val filtered = all.filter($"event_type" === "purchase")
      // The filter lands in PartitionFilters (directory pruning)...
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("event_type"), plan)
      // ...and the layout is genuinely one directory per value: reading the
      // single partition directory alone reproduces the filtered result.
      val oneDir = spark.read.parquet(s"$dir/ev/event_type=purchase")
      assert(oneDir.count() == events.filter($"event_type" === "purchase").count())
      assert(filtered.count() == oneDir.count())
    }
  }
}
