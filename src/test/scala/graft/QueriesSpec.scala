package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke for the full driver contract: every registered query runs at
  * sf0.001 and returns a sane frame. Exact values are covered by the
  * DuckDB oracle gate (tools/check_oracle.py). */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q42: HLL++ estimate stays within the configured error of exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The query itself now carries the bound check (within_bound column,
    // hash-verified by the driver); here assert it holds and that the
    // exact side agrees with an independent count-distinct.
    val rows = graft.analytics.PipelineQueries.approxDistinct(spark, TestSpark.SfDir)
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty && rows.forall(_._3), rows.mkString(", "))
    val exact = Tables.events(spark, TestSpark.SfDir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._2).toMap == exact)
  }

  test("q59: bucket decomposition equals the single-window twin exactly") {
    // Several budgets so every branch is exercised: tiny (boundary bucket is
    // the first), the default, and huge (every bucket full-admits, no
    // boundary row at all).
    Seq(300L, 5000L, 1000000000L).foreach { budget =>
      val fast = graft.analytics.PipelineQueries
        .tokenBudgetSample(spark, TestSpark.SfDir, budget).collect().toSeq
      val twin = graft.analytics.PipelineQueries
        .tokenBudgetSampleWindowed(spark, TestSpark.SfDir, budget).collect().toSeq
      assert(fast == twin, s"budget=$budget fast=$fast twin=$twin")
    }
  }

  test("PrefixSum.runningSum equals the serial window exactly") {
    import org.apache.spark.sql.functions._
    import graft.analytics.PipelineQueries
    val base = Tables.documents(spark, TestSpark.SfDir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).as("n"),
        md5(col("text").cast("binary")).as("rk"))
    val sharded = graft.operators.PrefixSum
      .runningSum(base, Seq("lang"), Seq("rk", "doc_id"), "n",
        substring(col("rk"), 1, 2), "cum")
      .select(col("lang"), col("doc_id"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("rk"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val serial = base.withColumn("cum", sum(col("n")).over(w))
      .select(col("lang"), col("doc_id"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sharded == serial && sharded.nonEmpty)
  }

  test("tokenChunks: overlapping windows tile the document exactly") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
    val words = (1 to 150).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, (1 to 30).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.analytics.PipelineQueries.tokenChunksOf(docs) // 64-token windows, stride 48
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((1L, 0, 64L), (1L, 1, 64L), (1L, 2, 54L), (2L, 0, 30L)))
    // Fingerprints are md5 of exactly the [k*48, k*48+64) token slice.
    got.filter(_._1 == 1L).foreach { case (_, k, _, fp) =>
      assert(fp == md5hex(words.slice(k * 48, k * 48 + 64).mkString(" ")), s"chunk $k")
    }
  }

  test("q77: domain mix hits the target shares and keeps the binding language whole") {
    import spark.implicits._
    val got = graft.analytics.PipelineQueries
      .domainMix(spark, TestSpark.SfDir)
      .as[(String, Long, Double, Long)]
      .collect()
    val weights = graft.analytics.PipelineQueries.DomainMixWeights.toMap
    assert(got.map(_._1).toSet == weights.keySet)
    got.foreach { case (lang, n, rate, adm) =>
      assert(rate > 0.0 && rate <= 1.0, s"$lang rate=$rate")
      assert(adm <= n, s"$lang admitted $adm > $n")
    }
    // The binding language (the one that set T) is kept in full.
    assert(got.exists(_._3 == 1.0))
    // Achieved shares track the targets (hash admission is ~uniform).
    val total = got.map(_._4).sum.toDouble
    got.foreach { case (lang, _, _, adm) =>
      assert(math.abs(adm / total - weights(lang)) < 0.05,
        s"$lang share ${adm / total} vs target ${weights(lang)}")
    }
  }

  test("q79: CMS estimates stay within the eps bound for every heavy hitter") {
    import spark.implicits._
    val got = graft.analytics.PipelineQueries
      .heavyHitters(spark, TestSpark.SfDir)
      .as[(String, Long, Boolean)]
      .collect()
    assert(got.length == 20)
    assert(got.forall(_._3), s"CMS out of bound: ${got.filterNot(_._3).mkString(", ")}")
    // The exact side matches a driver-side count of the same tokens.
    val want = Tables.documents(spark, TestSpark.SfDir)
      .select($"text").as[String].collect()
      .flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    assert(got.map(r => (r._1, r._2)).toSeq == want)
  }

  test("q83 planted scenario: every curation stage drops exactly its target") {
    import spark.implicits._
    // One doc per drop reason, all lang=en (the only weighted lang present
    // → feasibility T = n/0.3 → admission rate exactly 1.0, so the mix
    // stage admits all survivors and the expected counts are exact).
    val baseA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, "en", baseA), // keeper of the exact-dup group (min id)
      (2L, "en", baseA), // EXACT copy → dropped at stage 1
      (3L, "en", "juliet india hotel golf foxtrot echo delta charlie bravo alpha"), // reordered copy (token-set Jaccard 1) → dominated at stage 2
      (4L, "en", "unrelated words here then bench mark shared gram tail piece"), // shares the contiguous 4-gram "bench mark shared gram" with doc 97 → stage 3 exact
      // 16 tokens, all ⊂ doc 97's set but in REVERSED order → set Jaccard
      // 16/20 = 0.8 (fuzzy hit) with NO shared contiguous 4-gram → dropped
      // by the fuzzy path specifically.
      (5L, "en", "secret training rows columns tables queries shards metrics engines extra1 extra2 extra3 extra4 extra5 extra6 extra7"),
      (6L, "en", "one clean document with fully distinct vocabulary everywhere fine"),
      (7L, "en", "another clean document carrying different tokens entirely good yes"),
      (97L, "en", "extra7 extra6 extra5 extra4 extra3 extra2 extra1 engines metrics shards queries tables columns rows training secret bench mark shared gram")
    ).toDF("doc_id", "lang", "text")
    val (members, setPairs) =
      graft.dedup.Dedup.tieredSetPairs(docs, "doc_id", "text", threshold = 0.95)
    val crossPairs = graft.dedup.Dedup
      .crossNearDups(docs, docs.filter($"doc_id" % 97 === 0), "doc_id", "text", 0.8)
    val got = graft.analytics.PipelineQueries
      .curationV2Of(docs, members, setPairs, crossPairs)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 1 && got.head._1 == "en")
    val (_, nDocs, nChunks, keptTokens, nWindows) = got.head
    // Survivors: 1 (dup keeper), 6, 7, 97 (the benchmark doc itself — only
    // one bench doc, so nothing contaminates it). 2/3/4/5 each dropped by
    // exactly one stage.
    assert(nDocs == 4, s"expected 4 survivors, got $nDocs")
    assert(nChunks == 4, "all survivors fit one 64-token chunk")
    assert(keptTokens == 10 + 9 + 9 + 20, s"kept tokens $keptTokens")
    assert(nWindows == 1, "48 tokens pack into one 2048-token window")
  }

  test("q102 training shards: docs conserved, padding bounded, epoch seed re-permutes") {
    import graft.analytics.PipelineQueries
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.SfDir)
    val out = PipelineQueries.trainingShards(spark, TestSpark.SfDir)
      .as[(Long, Int, Long, Long, Int, Long)].collect()
    // Every document lands in exactly one (shard, bucket).
    assert(out.map(_._3).sum == docs.count())
    assert(out.map(_._1).forall(s => s >= 0 && s < PipelineQueries.TrainingShardCount))
    // The log2 bucket bound is the whole point of length bucketing: within
    // a bucket max < 2·min, so pad-to-max waste stays under the payload.
    out.foreach { case (shard, bucket, nDocs, sumTokens, maxTokens, padding) =>
      assert(padding == maxTokens.toLong * nDocs - sumTokens)
      assert(padding < sumTokens,
        s"shard $shard bucket $bucket: padding $padding >= payload $sumTokens")
    }
    // A different epoch tag is a genuinely different permutation: at least
    // one document changes shard (content-hash seeded, no RNG state).
    import org.apache.spark.sql.functions._
    def shardsFor(tag: String) = docs.select(col("doc_id"), pmod(
      graft.functions.PortableHashFunctions
        .md5_token_hashes(array(concat(lit(tag + "|"), col("text"))), bits = 31)
        .getItem(0),
      lit(PipelineQueries.TrainingShardCount)).as("shard"))
    val moved = shardsFor(PipelineQueries.EpochSeedTag).as("a")
      .join(shardsFor("epoch:2").as("b"), Seq("doc_id"))
      .filter(col("a.shard") =!= col("b.shard"))
      .count()
    assert(moved > 0, "epoch:2 produced the identical permutation")
  }

  test("q103 range boundaries: ranges are key-disjoint, ordered, and near-balanced") {
    import graft.analytics.PipelineQueries
    import spark.implicits._
    val out = PipelineQueries.rangeBoundaries(spark, TestSpark.SfDir)
      .as[(Int, Long, Double, Double, Option[Double])].collect()
    val n = out.map(_._2).sum
    val expected = n / PipelineQueries.RangeFanout
    out.foreach { case (id, rows, minK, maxK, hi) =>
      assert(minK <= maxK)
      // Every non-final range ends at its boundary (the assignment rule).
      hi.foreach(b => assert(maxK <= b, s"range $id leaks past its boundary"))
      // Equi-depth on this data: within 2× of perfect balance.
      assert(rows <= 2 * expected && rows >= expected / 2,
        s"range $id has $rows rows vs expected ~$expected")
    }
    // Ranges tile the key space in order without overlap.
    out.sortBy(_._1).sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, "adjacent ranges overlap")
      case _ =>
    }
  }

  test("q105 z-order: every bucket bounds BOTH dimensions' spans at once") {
    import graft.analytics.PipelineQueries
    import spark.implicits._
    val out = PipelineQueries.zorderLayout(spark, TestSpark.SfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val events = Tables.events(spark, TestSpark.SfDir)
    assert(out.map(_._2).sum == events.count())
    // The whole point vs a single-column sort: the top-4-bits-per-dim
    // bucket pins BOTH spans < 2^6 — min/max skipping works on user_id
    // AND hour simultaneously (a user_id sort leaves hour spans at the
    // full corpus range).
    out.foreach { case (zb, _, minU, maxU, minH, maxH) =>
      assert(maxU - minU < 64, s"bucket $zb user span ${maxU - minU}")
      assert(maxH - minH < 64, s"bucket $zb hour span ${maxH - minH}")
    }
  }

  test("q106 SCD2 merge: one current version per key; all four outcomes occur") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.scd2Merge(spark, TestSpark.SfDir).collect()
    val byKey = out.groupBy(_.getLong(0))
    byKey.foreach { case (k, rows) =>
      assert(rows.count(_.getBoolean(4)) <= 1, s"key $k has two current versions")
      rows.foreach { r =>
        // Exactly the open versions lack valid_to.
        assert(r.isNullAt(3) == r.getBoolean(4), s"key $k: ${r.toString}")
      }
    }
    // The derivation plants all four merge outcomes; each must be present
    // or the operator silently lost a branch.
    assert(byKey.values.exists(_.length == 2), "no changed key (close + reopen)")
    assert(byKey.values.exists(rs => rs.length == 1 && !rs.head.getBoolean(4)),
      "no deleted key (close only)")
    assert(byKey.values.exists(rs =>
      rs.length == 1 && rs.head.getBoolean(4) && rs.head.getInt(2) == 2),
      "no added key (fresh v2)")
    assert(byKey.values.exists(rs =>
      rs.length == 1 && rs.head.getBoolean(4) && rs.head.getInt(2) == 1),
      "no unchanged key (v1 stays open)")
  }

  test("q107 skew audit: heaviest key first, salt factor is exactly ceil(n*32/total)") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.{col, sum}
    val out = PipelineQueries.skewAudit(spark, TestSpark.SfDir).collect()
    assert(out.nonEmpty && out.length <= 20)
    val counts = Tables.events(spark, TestSpark.SfDir).groupBy("user_id").count()
    val total = counts.agg(sum(col("count"))).head().getLong(0)
    val nKeys = counts.count()
    val top = counts.orderBy(col("count").desc, col("user_id")).head()
    assert(out.head.getLong(0) == top.getLong(0), "heaviest key not ranked first")
    assert(out.head.getLong(1) == top.getLong(1))
    out.foreach { r =>
      val n = r.getLong(1); val salt = r.getLong(3)
      // ceil(n*32/total): the smallest fan-out that caps a salted
      // partition of this key at the mean partition size.
      assert(salt >= 1 && (salt - 1) * total < n * 32 && n * 32 <= salt * total,
        s"salt $salt is not ceil($n*32/$total)")
      assert(r.getBoolean(4) == (n * 100 >= total * 400 / nKeys),
        s"needs_salt disagrees with the 4x-mean rule for n=$n")
    }
  }

  test("q108 temperature mixing: shares sum to one and tau<1 compresses the distribution") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.mixTemperature(spark, TestSpark.SfDir).collect()
    val pSum = out.map(_.getLong(3)).sum
    // Basis points with one floor per domain: sum in (10000 - |langs|, 10000].
    assert(pSum <= 10000 && pSum > 10000 - out.length, s"p_bp sum $pSum")
    // The temperature property: the rarest domain is sampled ABOVE its
    // natural rate (epoch_bp > 10000), the most common below — the whole
    // reason the recipe exists.
    val byDocs = out.sortBy(_.getLong(1))
    assert(byDocs.last.getLong(1) > byDocs.head.getLong(1) * 2,
      "harness data lost its lang skew; assertions below would be vacuous")
    assert(byDocs.head.getLong(5) > 10000, "rarest domain not up-sampled")
    assert(byDocs.last.getLong(5) < 10000, "most common domain not down-sampled")
  }

  test("q109 posting lists: df/tf_total exact, sample is the min(df,5) smallest doc_ids") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val out = PipelineQueries.postingLists(spark, TestSpark.SfDir).collect()
    assert(out.nonEmpty)
    // Brute-force postings from the corpus (sf0.001 fits in a collect).
    val postings = Tables.documents(spark, TestSpark.SfDir)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (t, r.getLong(0))))
      .groupBy(_._1)
    assert(out.length == postings.size, "one row per distinct token")
    out.foreach { r =>
      val tok = r.getString(0)
      val docs = postings(tok).map(_._2)
      val uniq = docs.distinct.sorted
      assert(r.getLong(1) == uniq.length, s"df($tok)")
      assert(r.getLong(2) == docs.length, s"tf_total($tok)")
      val sample = r.getString(3).split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      assert(sample == uniq.take(5).toSeq, s"sample($tok)")
    }
  }

  test("q110 tf-idf: equals a brute-force integer-exact recompute") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.SfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val n = docs.length.toLong
    val qterms = docs.minBy(_._1)._2.distinct.toSet
    val tf = docs.flatMap { case (id, toks) =>
      toks.filter(qterms).groupBy(identity).map { case (t, xs) => ((t, id), xs.length.toLong) }
    }.toMap
    val dfByTok = tf.keys.groupBy(_._1).map { case (t, ks) => (t, ks.size.toLong) }
    val expected = tf.toSeq
      .map { case ((t, id), f) => (id, f * (n * 1000000L / dfByTok(t))) }
      .groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).sum) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val out = PipelineQueries.tfidfTopk(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == expected)
  }

  test("q111 bpe pairs: equals a brute-force pair-frequency recompute") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val tokCnt = Tables.documents(spark, TestSpark.SfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    val expected = tokCnt.toSeq
      .filter(_._1.length >= 2)
      .flatMap { case (t, c) => t.sliding(2).map(p => (p, c)) }
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(20)
    val out = PipelineQueries.bpePairs(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == expected)
  }

  test("q112 grouping sets: each set equals its standalone aggregate; gid separates the sets") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.SfDir)
      .select(col("lang"), col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = PipelineQueries.groupingSetsAgg(spark, TestSpark.SfDir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getInt(2), r.getLong(3), r.getLong(4)))
    val byLang = out.filter(_._3 == 1)
    val bySource = out.filter(_._3 == 2)
    val overall = out.filter(_._3 == 3)
    assert(out.length == byLang.length + bySource.length + overall.length, "unexpected gid")
    assert(byLang.forall(r => r._1.isDefined && r._2.isEmpty))
    assert(bySource.forall(r => r._1.isEmpty && r._2.isDefined))
    val langExp = docs.groupBy(_._1).map { case (l, xs) => (l, xs.length.toLong, xs.map(_._3).sum) }
    assert(byLang.map(r => (r._1.get, r._4, r._5)).toSet == langExp.toSet)
    val srcExp = docs.groupBy(_._2).map { case (s, xs) => (s, xs.length.toLong, xs.map(_._3).sum) }
    assert(bySource.map(r => (r._2.get, r._4, r._5)).toSet == srcExp.toSet)
    assert(overall.map(r => (r._4, r._5)).toSeq == Seq((docs.length.toLong, docs.map(_._3).sum)))
  }

  test("q113 weighted median: half the token weight sits on each side of the median") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.SfDir)
      .select(col("lang"), col("n_chars"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ").length.toLong))
    val out = PipelineQueries.weightedMedian(spark, TestSpark.SfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (lang, med, total) = (r.getString(0), r.getLong(1), r.getLong(2))
      val grp = docs.filter(_._1 == lang)
      assert(total == grp.map(_._3).sum, s"total_w($lang)")
      val below = grp.filter(_._2 < med).map(_._3).sum
      val upto = grp.filter(_._2 <= med).map(_._3).sum
      // Defining property: strictly-below mass < half, mass-through-median >= half.
      assert(below * 2 < total, s"$lang: too much weight below $med")
      assert(upto * 2 >= total, s"$lang: median $med reached too early")
    }
  }

  test("q114 edit-distance audit: covers exactly q27's pairs; distances match a reference DP") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cost = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = prev(j); prev(j) = cost
        }
      }
      prev(b.length)
    }
    val texts = Tables.documents(spark, TestSpark.SfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val q27 = PipelineQueries.minhashNearDup(spark, TestSpark.SfDir)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = PipelineQueries.editDistanceAudit(spark, TestSpark.SfDir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == q27.toSeq.sorted,
      "audit must cover exactly the near-dup pairs, in order")
    out.foreach { r =>
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val d = lev(a, b)
      assert(r.getInt(2) == d, s"edit_dist(${r.getLong(0)},${r.getLong(1)})")
      assert(r.getLong(3) == d.toLong * 10000L / math.max(a.length, b.length), "edit_bp")
    }
  }

  test("q115 cluster keeper: one keeper per cluster, and it is the longest member") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.clusterKeeper(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    val members = PipelineQueries.nearDupClusters(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(r => (r._1, r._2)).toSet == members, "same membership as q56")
    out.groupBy(_._2).foreach { case (comp, rows) =>
      val keepers = rows.filter(_._4)
      assert(keepers.length == 1, s"cluster $comp has ${keepers.length} keepers")
      val best = rows.minBy(r => (-r._3, r._1))
      assert(keepers.head._1 == best._1, s"cluster $comp kept ${keepers.head._1}, longest is ${best._1}")
    }
  }

  test("q116 index delete: tombstoned ids never surface; pristine q98 layout unaffected") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.annIndexedDelete(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 % 7 != 3), "a tombstoned id surfaced as a neighbor")
    out.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1 to rs.size), s"rank gap for query $q")
    }
    // The delete ran on its own variant layout: the pristine committed
    // index still serves tombstone-eligible neighbors.
    val q98 = PipelineQueries.annIndexed(spark, TestSpark.SfDir).collect().map(_.getLong(1))
    assert(q98.exists(_ % 7 == 3), "q98's pristine layout lost candidates to q116's delete")
  }

  test("q117 exact-gram dedup matches a brute-force reference") {
    import graft.analytics.PipelineQueries
    val n = 8
    def gramsOf(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet else Set(t)
    }
    val docs = Tables.documents(spark, TestSpark.SfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), gramsOf(r.getString(1)))).sortBy(_._1)
    val owner = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (id, gs) =>
      gs.foreach(g => if (!owner.contains(g)) owner(g) = id)
    }
    val expected = docs.map { case (id, gs) =>
      val shared = gs.count(g => owner(g) < id).toLong
      val bp = shared * 10000L / gs.size
      id -> ((gs.size.toLong, shared, bp, bp >= 8000L))
    }.toMap
    val out = PipelineQueries.exactGramDedup(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
    assert(out.length == expected.size)
    out.foreach { case (id, got) =>
      assert(got == expected(id), s"doc $id: got $got expected ${expected(id)}")
    }
    assert(out.exists(_._2._4), "vacuous: no duplicate flagged at this SF")
  }

  test("q118 weighted sample matches an in-memory sequential-Poisson reference") {
    import graft.analytics.PipelineQueries
    val P = 2147483647L; val C1 = 2654435761L; val C2 = 1013904223L; val K = 25
    val docs = Tables.documents(spark, TestSpark.SfDir)
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs
      .map { case (lang, id, w) =>
        val v = ((id % P) * C1 + C2) % P
        (lang, id, w, (v + 1).toDouble / w)
      }
      .groupBy(_._1)
      .flatMap { case (_, rows) =>
        rows.sortBy(r => (r._4, r._2)).take(K).zipWithIndex
          .map { case ((lang, id, w, pr), i) => (lang, id, w, pr, i + 1) }
          .toSeq
      }
      .toSet
    val out = PipelineQueries.weightedSample(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(out == expected)
    // Weighting sanity: kept docs are longer on average than the corpus
    // (inclusion ∝ n_chars is the point of the scheme).
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    val keptMean = out.toSeq.map(_._3).sum.toDouble / out.size
    assert(keptMean > corpusMean, s"kept mean $keptMean ≤ corpus mean $corpusMean")
  }

  test("q119 transition matrix: conservation and per-from normalization invariants") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.eventTransitions(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    // Σ transitions = Σ_users (events_u − 1): every event except each
    // user's last contributes exactly one outgoing edge.
    val ev = Tables.events(spark, TestSpark.SfDir)
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    assert(out.map(_._3).sum == total - users)
    out.groupBy(_._1).foreach { case (from, rows) =>
      val t = rows.head._4
      assert(rows.forall(_._4 == t), s"$from: inconsistent from_total")
      assert(rows.map(_._3).sum == t, s"$from: counts don't sum to from_total")
      val bpSum = rows.map(_._5).sum
      assert(bpSum <= 10000 && bpSum > 10000 - rows.length,
        s"$from: floor-rounded probabilities sum to $bpSum")
    }
  }

  test("q120 streaming transitions equal the batch lead-window matrix exactly") {
    import graft.analytics.{PipelineQueries, Queries}
    val batch = PipelineQueries.eventTransitions(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val streamed = Queries.streamTransitions(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "streaming last-event state drifted from the window semantics")
  }

  test("q121 kmv overlap matches a driver brute-force reference; sketches are mergeable") {
    import graft.analytics.PipelineQueries
    val P = 2147483647L; val C1 = 2654435761L; val C2 = 1013904223L; val K = 128
    def hash(u: Long): Long = ((u % P) * C1 + C2) % P
    val tu = Tables.events(spark, TestSpark.SfDir).select("event_type", "user_id")
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = tu.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).toSet }
    def kmin(vs: Set[Long]): Seq[Long] = vs.toSeq.sorted.take(K)
    val expected = (for {
      (ta, ua) <- byType; (tb, ub) <- byType if ta < tb
    } yield {
      val (va, vb) = (kmin(ua.map(hash)), kmin(ub.map(hash)))
      // Mergeability: k-min of the union set == k-min of concatenated sketches.
      assert(kmin(ua.map(hash) ++ ub.map(hash)) == kmin((va ++ vb).toSet))
      val uk = (va ++ vb).distinct.sorted
      val m = math.min(K, uk.size)
      val kth = uk(m - 1)
      val estUnion = (m - 1) * P / kth
      val interM = uk.take(m).count(v => va.contains(v) && vb.contains(v)).toLong
      val exactOv = (ua & ub).size.toLong
      val exactUn = (ua.size + ub.size).toLong - exactOv
      (ta, tb, exactUn, exactOv, estUnion, estUnion * interM / m,
        math.abs(estUnion - exactUn) * 10000L / exactUn)
    }).toSet
    val out = PipelineQueries.kmvOverlap(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == expected)
    assert(out.forall(_._7 < 2000), "KMV union estimate drifted past 20%")
  }

  test("q122 source cap matches a driver brute-force reference and binds") {
    import graft.analytics.PipelineQueries
    val cap = 20
    val docs = Tables.documents(spark, TestSpark.SfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs.groupBy(_._1).map { case (src, rs) =>
      val kept = rs.sortBy(r => (-r._3, r._2)).take(cap)
      val total = rs.map(_._3).sum
      val keptChars = kept.map(_._3).sum
      (src, rs.length.toLong, kept.length.toLong, (rs.length - kept.length).toLong,
        total, keptChars, (total - keptChars) * 10000L / total)
    }.toSet
    val out = PipelineQueries.sourceCap(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == expected)
    assert(out.exists(_._4 > 0), "vacuous: cap binds nowhere at this SF")
  }

  test("q123 drift: iid halves stay under the noise floor; a planted shift clears it") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.{col, lit, when}
    val real = PipelineQueries.embeddingDrift(spark, TestSpark.SfDir).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(real.length == 64)
    assert(real.forall(r => !r._4 && r._2 < r._3),
      "iid halves of one corpus must not read as drift")
    // Planted shift: candidate snapshot (odd vec_ids) pushed to the top
    // of each dimension's range — every dimension must flag.
    val shifted = Tables.embeddings(spark, TestSpark.SfDir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        when(col("vec_id") % 2 === 1,
          org.apache.spark.sql.functions.transform(col("embedding"),
            v => v * lit(0.05f) + lit(10.0f)))
          .otherwise(col("embedding")).as("embedding"))
    val planted = PipelineQueries.embeddingDriftOf(shifted).collect()
      .map(r => (r.getInt(0), r.getBoolean(4)))
    assert(planted.forall(_._2), "a full-distribution shift must flag every dimension")
  }

  test("q125 nprobe sweep: candidate volume is the cost axis; full probe scans everything") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.annNprobeSweep(spark, TestSpark.SfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    // Cost strictly increases with nprobe…
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted)
    assert(out.map(_._3).distinct.length == out.length)
    // …and the np=nlist point scans every non-self pair: the audit ceiling.
    val nQ = out.head._2
    val corpus = Tables.embeddings(spark, TestSpark.SfDir)
      .filter(org.apache.spark.sql.functions.col("embedding").isNotNull).count()
    assert(out.last._3 == nQ * (corpus - 1))
    out.foreach { case (np, q, _, hits, bp) =>
      assert(bp == hits * 10000L / (q * 10L), s"np=$np recall arithmetic")
    }
  }

  test("q126 bm25 matches a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val docs = Tables.documents(spark, TestSpark.SfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val qterms = docs.minBy(_._1)._2.split(" ").distinct.toSet
    val nDocs = docs.length.toLong
    val dls = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
    val totalTokens = dls.values.sum
    val tf = scala.collection.mutable.Map.empty[(String, Long), Long].withDefaultValue(0L)
    for ((id, t) <- docs; tok <- t.split(" ") if qterms(tok)) tf((tok, id)) += 1
    val df = tf.keys.groupBy(_._1).map { case (tok, ks) => tok -> ks.size.toLong }
    val expected = tf.toSeq.groupBy(_._1._2).map { case (id, terms) =>
      id -> terms.map { case ((tok, _), f) =>
        val idf = nDocs * 1000000L / df(tok)
        val dl = dls(id)
        math.floor(idf.toDouble * (f.toDouble * 2.2)
          / (f.toDouble + (0.3 + 0.9 * ((dl * nDocs).toDouble / totalTokens.toDouble)))).toLong
      }.sum
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val out = PipelineQueries.bm25Topk(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == expected)
  }

  test("q127 rrf fusion is exactly the integer fusion of its two rankers") {
    import graft.analytics.PipelineQueries
    def ranks(rows: Array[Long]): Map[Long, Long] =
      rows.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val tr = ranks(PipelineQueries.tfidfTopk(spark, TestSpark.SfDir).collect().map(_.getLong(0)))
    val br = ranks(PipelineQueries.bm25Topk(spark, TestSpark.SfDir).collect().map(_.getLong(0)))
    val expected = (tr.keySet ++ br.keySet).map { id =>
      val (t, b) = (tr.getOrElse(id, 0L), br.getOrElse(id, 0L))
      val s = (if (t > 0) 1000000L / (60 + t) else 0L) + (if (b > 0) 1000000L / (60 + b) else 0L)
      (id, t, b, s)
    }
    val out = PipelineQueries.rrfFusion(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == expected)
    // Output ordering is the fused ordering.
    assert(out.toSeq == out.toSeq.sortBy(t => (-t._4, t._1)))
  }

  test("q128 anomaly stats match an exact integer recompute; a planted spike flags") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.{col, lit, when}
    val rows = Tables.events(spark, TestSpark.SfDir)
      .selectExpr("event_type", "unix_micros(ts) div 3600000000 AS h")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = counts.groupBy(_._1._1).flatMap { case (t, m) =>
      val h = m.size.toLong; val tot = m.values.sum
      val s2 = m.values.map(n => n * n).sum
      m.map { case ((_, hour), n) =>
        val dev2 = (n * h - tot) * (n * h - tot); val var9 = 9L * (h * s2 - tot * tot)
        (t, hour, n, h, tot * 1000000L / h, dev2, var9, dev2 > var9)
      }
    }.toSet
    val out = PipelineQueries.eventRateAnomaly(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toSet
    assert(out == expected)
    // Planted spike: one hour of one type at 10× its count must flag.
    val hourly = Tables.events(spark, TestSpark.SfDir)
      .groupBy(col("event_type"),
        org.apache.spark.sql.functions.expr("unix_micros(ts) div 3600000000L").as("hour_id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val firstType = out.minBy(r => (r._1, r._2))
    val planted = PipelineQueries.eventRateAnomalyOf(
      hourly.withColumn("n",
        when(col("event_type") === firstType._1 && col("hour_id") === firstType._2,
          col("n") * 10).otherwise(col("n"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(7)))
    assert(planted.exists(p => p._1 == firstType._1 && p._2 == firstType._2 && p._3),
      "a 10x hour must read as anomalous")
  }

  test("q129 vocab coverage matches a driver brute-force reference; the cut binds") {
    import graft.analytics.PipelineQueries
    val docs = Tables.documents(spark, TestSpark.SfDir).select("lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    for ((lang, t) <- docs; tok <- t.split(" ")) pairCounts((lang, tok)) += 1
    val global = pairCounts.toSeq.groupBy(_._1._2)
      .map { case (tok, xs) => tok -> xs.map(_._2).sum }
    val vocab = global.toSeq.sortBy { case (tok, c) => (-c, tok) }
      .take(PipelineQueries.VocabV).map(_._1).toSet
    val expected = pairCounts.toSeq.groupBy(_._1._1).map { case (lang, xs) =>
      val total = xs.map(_._2).sum
      val covered = xs.filter(x => vocab(x._1._2)).map(_._2).sum
      val types = xs.size.toLong
      val coveredTypes = xs.count(x => vocab(x._1._2)).toLong
      (lang, total, covered, covered * 10000L / total,
        types, coveredTypes, (types - coveredTypes) * 10000L / types)
    }.toSet
    val out = PipelineQueries.vocabCoverage(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == expected)
    assert(out.exists(_._7 > 0), "vacuous: every type in vocab — the cut never binds at this SF")
  }

  test("q130 table stats match a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val rows = Tables.documents(spark, TestSpark.SfDir).collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val n = rows.length.toLong
    def profile[T: Ordering](name: String, vs: Seq[T], render: T => String,
        width: T => Long): (String, Long, Long, Long, String, String, Long) =
      (name, n, 0L, vs.distinct.size.toLong, render(vs.min), render(vs.max),
        vs.map(width).sum * 100L / vs.size)
    val expected = Set(
      profile[Long]("doc_id", rows.map(_.getLong(0)).toSeq, _.toString, _.toString.length.toLong),
      profile[String]("lang", rows.map(_.getString(2)).toSeq, identity, _.length.toLong),
      profile[String]("source", rows.map(_.getString(3)).toSeq, identity, _.length.toLong),
      profile[Long]("n_chars", rows.map(_.getLong(4)).toSeq, _.toString, _.toString.length.toLong),
      profile[String]("text", rows.map(_.getString(1)).toSeq, md5hex, _.length.toLong))
    val out = PipelineQueries.tableStats(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getLong(6))).toSet
    assert(out == expected)
  }

  test("q131 banding sweep matches a driver brute-force reference across every operating point") {
    import graft.analytics.PipelineQueries
    import graft.functions.Md5Hash
    val p = graft.dedup.Dedup.MinHashParams()
    val docs = Tables.documents(spark, TestSpark.SfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => (id, t.split(" ").distinct.sorted.toSeq) }
      .groupBy(_._2).map { case (toks, xs) => (xs.map(_._1).min, toks) }.toSeq
    val sigs = sets.map { case (sid, toks) =>
      val hs = toks.map(tok => Md5Hash.h31(tok.getBytes("UTF-8")))
      sid -> Array.tabulate(p.k)(i => hs.map(x => (p.as(i) * x + p.bs(i)) % p.prime).min)
    }.toMap
    val toksOf = sets.toMap
    def jac(a: Seq[String], b: Seq[String]): Double = {
      val ni = a.toSet.intersect(b.toSet).size
      ni.toDouble / (a.size + b.size - ni)
    }
    val candsPer = PipelineQueries.SweepConfigs.map { case (b, r) =>
      val buckets = for {
        (sid, sig) <- sigs.toSeq; i <- 0 until b
      } yield ((i, sig.slice(i * r, i * r + r).toSeq), sid)
      val pairs = buckets.groupBy(_._1).values.flatMap { xs =>
        val ids = xs.map(_._2).distinct.sorted
        for (x <- ids; y <- ids if x < y) yield (x, y)
      }.toSet
      (b, r) -> pairs
    }.toMap
    val truth = candsPer.values.reduce(_ ++ _)
      .filter { case (x, y) => jac(toksOf(x), toksOf(y)) >= PipelineQueries.SweepJaccard }
    val expected = PipelineQueries.SweepConfigs.map { case (b, r) =>
      val c = candsPer((b, r)); val hits = c.count(truth)
      (b, r, c.size.toLong, truth.size.toLong, hits.toLong,
        hits.toLong * 10000L / truth.size)
    }.toSet
    val out = PipelineQueries.lshBandingSweep(spark, TestSpark.SfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == expected)
    // The production read: cost strictly increases with band count and
    // recall saturates somewhere before the widest point.
    val byBands = out.toSeq.sortBy(_._1)
    assert(byBands.map(_._3) == byBands.map(_._3).sorted &&
      byBands.map(_._3).distinct.size == byBands.size)
    assert(byBands.last._6 == 10000L, "widest banding must recover the full truth set here")
  }

  test("q132 journey paths match a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val ev = Tables.events(spark, TestSpark.SfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).values.flatMap { xs =>
      val s = xs.sortBy(x => (x._3, x._2)).map(_._4).toSeq
      s.sliding(3).filter(_.size == 3).map(w => (w(0), w(1), w(2)))
    }
    val expected = paths.toSeq.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .toSeq.sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    val out = PipelineQueries.journeyPaths(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(out == expected)
  }

  test("q133 co-occurrence lift matches a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val rows = Tables.events(spark, TestSpark.SfDir)
      .selectExpr("user_id", "CAST(ts AS DATE) AS day", "event_type")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2))).distinct
    val baskets = rows.map(r => (r._1, r._2)).distinct
    val n = baskets.length.toLong
    val typeCount = rows.groupBy(_._3).map { case (t, xs) => t -> xs.length.toLong }
    val byBasket = rows.groupBy(r => (r._1, r._2)).values.map(_.map(_._3).sorted.toSeq)
    val expected = byBasket.flatMap { ts =>
      for (a <- ts; b <- ts if a < b) yield (a, b)
    }.groupBy(identity).map { case ((a, b), xs) =>
      val (na, nb, nab) = (typeCount(a), typeCount(b), xs.size.toLong)
      (a, b, na, nb, nab, nab * 10000L / n, nab * n * 10000L / (na * nb))
    }.toSet
    val out = PipelineQueries.cooccurrenceLift(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == expected)
  }

  test("q134 mrl sweep: full-dim anchor is exact self-recall; arithmetic is consistent") {
    import graft.analytics.PipelineQueries
    val out = PipelineQueries.mrlRecallSweep(spark, TestSpark.SfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == PipelineQueries.MrlDims)
    // Full-dim point ranks against itself — recall must be exactly 10000.
    assert(out.last._3 == out.last._2 * 10L && out.last._4 == 10000L)
    // Each point ranks exactly 10 neighbors per query and recall_bp is
    // floor(hits·10⁴ / ranked); on this corpus recall grows with dim.
    out.foreach { case (_, nq, hits, bp) => assert(bp == hits * 10000L / (nq * 10L)) }
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted)
  }

  test("q135 merged segment stats equal a direct driver recompute (mergeability)") {
    import graft.analytics.PipelineQueries
    val rows = Tables.documents(spark, TestSpark.SfDir).collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val n = rows.length.toLong
    val langs = rows.map(_.getString(2)); val chars = rows.map(_.getLong(4))
    val texts = rows.map(_.getString(1))
    val expected = Set(
      ("lang", n, 0L, langs.min, langs.max, langs.map(_.length.toLong).sum * 100L / n),
      ("n_chars", n, 0L, chars.min.toString, chars.max.toString,
        chars.map(_.toString.length.toLong).sum * 100L / n),
      ("text", n, 0L, texts.map(md5hex).min, texts.map(md5hex).max,
        texts.map(_.length.toLong).sum * 100L / n))
    val out = PipelineQueries.incrementalStats(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSet
    assert(out == expected)
  }

  test("q136 conversion funnel matches a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val ev = Tables.events(spark, TestSpark.SfDir)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    val signups = ev.filter(_._3 == "signup")
    val deltas = signups.flatMap { case (u, _, _, sUs) =>
      val ps = byUser(u).filter(e => e._3 == "purchase" &&
        e._4 > sUs && e._4 <= sUs + PipelineQueries.ConvWindowUs)
      if (ps.isEmpty) None else Some(ps.map(_._4 - sUs).min)
    }
    val nConv = deltas.length.toLong
    val secs = deltas.map(_ / 1000000L).sorted
    val median = secs((((nConv + 1) / 2) - 1).toInt)
    val expected = (signups.length.toLong, nConv,
      nConv * 10000L / signups.length, deltas.min, deltas.max, median)
    val out = PipelineQueries.conversionWindowFunnel(spark, TestSpark.SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).head
    assert(out == expected)
  }

  test("q137 rolling active users matches a driver brute-force reference") {
    import graft.analytics.PipelineQueries
    val inc = Tables.events(spark, TestSpark.SfDir)
      .selectExpr("user_id", "CAST(ts AS DATE) AS day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate)).distinct
    val days = inc.map(_._2).distinct.sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    val expected = days.map { d =>
      val dau = inc.count(_._2 == d).toLong
      val wau = inc.filter(x => !x._2.isAfter(d) && !x._2.isBefore(d.minusDays(6)))
        .map(_._1).distinct.length.toLong
      (d.toString, dau, wau)
    }.toSeq
    val out = PipelineQueries.rollingActiveUsers(spark, TestSpark.SfDir).collect()
      .map(r => (r.getDate(0).toLocalDate.toString, r.getLong(1), r.getLong(2))).toSeq
    assert(out == expected)
  }

  test("q138 fk audit matches a driver recompute; a planted broken edge flags") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, TestSpark.SfDir).select("l_orderkey")
      .collect().map(_.getLong(0))
    val ok = Tables.orders(spark, TestSpark.SfDir).select("o_orderkey")
      .collect().map(_.getLong(0))
    val oc = Tables.orders(spark, TestSpark.SfDir).select("o_custkey")
      .collect().map(_.getLong(0))
    val ck = Tables.customer(spark, TestSpark.SfDir).select("c_custkey")
      .collect().map(_.getLong(0))
    def edge(name: String, child: Array[Long], parent: Array[Long]) = {
      val ps = parent.distinct; val pset = ps.toSet; val cset = child.toSet
      val orphans = child.count(!pset(_)).toLong
      val unref = ps.count(!cset(_)).toLong
      (name, child.length.toLong, orphans, orphans * 10000L / child.length,
        ps.length.toLong, unref, unref * 10000L / ps.length)
    }
    val expected = Set(
      edge("lineitem.l_orderkey->orders.o_orderkey", li, ok),
      edge("orders.o_custkey->customer.c_custkey", oc, ck))
    val out = PipelineQueries.fkIntegrityAudit(spark, TestSpark.SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == expected)
    // Planted break: drop half the parents — orphans must appear.
    val planted = PipelineQueries.fkAuditOf("planted",
      Tables.lineitem(spark, TestSpark.SfDir).select(col("l_orderkey").as("ck")),
      Tables.orders(spark, TestSpark.SfDir).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("pk")))
      .collect().head
    assert(planted.getLong(2) > 0 && planted.getLong(3) > 0,
      "halving the parent table must orphan children")
  }

  test("q139 pagerank matches a driver fixed-point reference iteration") {
    import graft.graph.Graph
    val edges = Tables.orders(spark, TestSpark.SfDir)
      .join(Tables.lineitem(spark, TestSpark.SfDir),
        org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey"))
      .selectExpr("o_custkey * 2 AS u", "l_partkey * 2 + 1 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = sym.groupBy(_._1).map { case (k, es) => k -> es.length.toLong }
    var rank = deg.keys.map(_ -> Graph.Scale).toMap
    for (_ <- 1 to Graph.Iters) {
      val contrib = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      sym.foreach { case (s, d) => contrib(d) += rank(s) / deg(s) }
      rank = contrib.map { case (n, c) =>
        n -> (Graph.TeleportFp + Graph.DampNum * c / 100L)
      }.toMap
    }
    val expected = rank.toSeq
      .map { case (n, r) =>
        (if (n % 2 == 0) "customer" else "part", n / 2, r)
      }
      .sortBy { case (t, k, r) => (-r, t, k) }
      .take(20)
    val out = graft.analytics.PipelineQueries.pageRankPurchases(spark, TestSpark.SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == expected)
  }

  test("q140 entity resolution: planted duplicates merge transitively, blocks bound matching") {
    import spark.implicits._
    // AB1–AB2 distance 1, AB2–CB2 distance 1, AB1–CB2 distance 2: the
    // entity must be the transitive closure {1,2,3}. Customer 4 is a
    // distance-1 twin of AB1 but in another nation — blocking must keep
    // it separate. Customer 5 shares the block but matches nothing.
    val c = Seq(
      (1L, "Customer#AB1", 7, 10.00, "SEG"),
      (2L, "Customer#AB2", 7, 20.00, "SEG"),
      (3L, "Customer#CB2", 7, 40.00, "SEG"),
      (4L, "Customer#AB0", 8, 80.00, "SEG"),
      (5L, "Customer#ZZZZZ", 7, 1.50, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val out = graft.analytics.PipelineQueries.entityResolutionOf(c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 3L, "Customer#AB1", 7000L),
      (4L, 1L, "Customer#AB0", 8000L),
      (5L, 1L, "Customer#ZZZZZ", 150L)))
  }

  test("q141 k-anonymity: planted small and low-diversity groups are flagged") {
    import spark.implicits._
    val qi = (
      Seq((1, 1L, "A"), (1, 1L, "B")) ++ // size 2, l=2
        Seq.fill(6)((1, 2L, "A")) ++     // size 6, l=1
        Seq((2, 1L, "A"), (2, 1L, "A"))  // size 2, l=1
      ).toDF("nk", "band", "sensitive")
    val out = graft.analytics.PipelineQueries.kAnonymityOf(qi)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      (2L, 2L, 4L, true, 1L, 2L),
      (6L, 1L, 6L, false, 1L, 1L)))
  }

  test("q142 semantic decontamination: planted exact copy leaks, orthogonal vector does not") {
    import spark.implicits._
    val train = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Array(1f, 0f)),   // exact copy of train 1 → cosine 1 → leaked
      (101L, Array(-1f, 0f))) // best train neighbor is 2 at cosine 0 → clean
      .toDF("vec_id", "embedding")
    val out = graft.analytics.PipelineQueries.semanticDecontamOf(eval, train)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(out == Seq((100L, 1L, 1.0, true), (101L, 2L, 0.0, false)))
  }

  test("q143 MAD outliers: planted histogram with hand-computed median/MAD/fences") {
    import spark.implicits._
    val hist = Seq(
      ("X", 1L, 3L), ("X", 2L, 1L), ("X", 3L, 1L), // med 1, mad 0 → 2 outliers
      ("Y", 10L, 1L), ("Y", 20L, 1L), ("Y", 30L, 1L), ("Y", 100L, 1L)
      ) // med 20, mad 10, fence 30 → only |100−20|=80 crosses
      .toDF("flag", "dollars", "c")
    val out = graft.analytics.PipelineQueries.madOutliersOfHist(hist)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      ("X", 5L, 1L, 0L, 2L, 4000L),
      ("Y", 4L, 20L, 10L, 1L, 2500L)))
  }

  test("q144 equal-frequency bins: planted ranks follow the (rank−1)·10 div n rule") {
    import spark.implicits._
    val keyed = (1L to 12L).map(i => (i, i * 100L)).toDF("o_orderkey", "cents")
    val out = graft.analytics.PipelineQueries.equalFreqBinsOf(keyed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ranks 1..12 → bins (r−1)·10 div 12: sizes 2,1,1,1,1,2,1,1,1,1.
    val expected = (1L to 12L).groupBy(r => (r - 1) * 10 / 12).toSeq.sortBy(_._1)
      .map { case (b, rs) =>
        (b, rs.size.toLong, rs.min * 100, rs.max * 100, rs.map(_ * 100).sum)
      }
    assert(out.toSeq == expected)
  }

  test("q145 A/B readout: planted arms reproduce a hand-run integer chi-square") {
    import spark.implicits._
    import graft.analytics.PipelineQueries.AbConvPurchases
    // 40 users; user i logs i % 28 purchase events, so conversion
    // (>= 14 purchases) is mixed. Arms derive from the SAME portable
    // hash the engine uses — the test recomputes everything in Scala.
    val users = (1L to 40L).map(i => (i, (i % 28).toInt))
    val events = users.flatMap { case (u, np) =>
      Seq.fill(np)((u, "purchase")) :+ ((u, "view"))
    }.toDF("user_id", "event_type")
    val out = graft.analytics.PipelineQueries.abExperimentOf(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    val byArm = users.groupBy { case (u, _) =>
      if (graft.functions.Md5Hash.h31(u.toString.getBytes) % 2 == 0) "control" else "treatment"
    }
    val Seq(a, b) = Seq("control", "treatment").map { arm =>
      val us = byArm(arm)
      val conv = us.count(_._2 >= AbConvPurchases)
      (us.size.toLong, conv.toLong, conv.toLong * 10000 / us.size)
    }
    val lift = b._3 - a._3
    val (ca, cb, cc, cd) = (BigInt(a._2), BigInt(a._1 - a._2), BigInt(b._2), BigInt(b._1 - b._2))
    val sig = BigInt(1000) * (ca + cb + cc + cd) * (ca * cd - cb * cc).pow(2) >=
      BigInt(3841) * (ca + cb) * (cc + cd) * (ca + cc) * (cb + cd)
    assert(out.toSeq == Seq(
      ("control", a._1, a._2, a._3, lift, sig),
      ("treatment", b._1, b._2, b._3, lift, sig)))
  }

  test("q145 chi-square flag flips on a planted strong-lift scenario") {
    import spark.implicits._
    // Give every even-hash user 20 purchases and every odd-hash user 0:
    // conversion 100% vs 0% over 60 users — unambiguously significant.
    val events = (1L to 60L).flatMap { u =>
      val arm0 = graft.functions.Md5Hash.h31(u.toString.getBytes) % 2 == 0
      if (arm0) Seq.fill(20)((u, "purchase")) else Seq((u, "view"))
    }.toDF("user_id", "event_type")
    val out = graft.analytics.PipelineQueries.abExperimentOf(events).collect()
    assert(out.forall(_.getBoolean(5)), out.mkString("\n"))
  }

  test("q146 IDF surprisal: planted df values give exact floor arithmetic") {
    import spark.implicits._
    // N=3; df: a=3, b=1, c=1 → doc surprisals 2000000, 2000000, 1000000.
    val docs = Seq((1L, "a b", "xx"), (2L, "a c", "xx"), (3L, "a", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = graft.analytics.PipelineQueries.idfQualityOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("xx", 3L, 1666666L, 1000000L, 2000000L)))
  }

  test("q148 bot flags: planted burst user is flagged, slow users are not") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    // user 1: 25 events 60 s apart — every gap fast → bot.
    // user 2: 5 events 1 h apart — too few events, no fast gaps.
    // user 3: 30 events 1 h apart — enough events but 0 fast gaps.
    val rows =
      (0 until 25).map(i => (1L, mkTs(i * 60000000L), i.toLong)) ++
      (0 until 5).map(i => (2L, mkTs(i * 3600000000L), (100 + i).toLong)) ++
      (0 until 30).map(i => (3L, mkTs(i * 3600000000L), (200 + i).toLong))
    val events = rows.toDF("user_id", "ts", "event_id")
    val out = graft.analytics.PipelineQueries.botDetectionOf(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, 25L, 24L * 60000000L, 60000000L, 10000L, true),
      (2L, 5L, 4L * 3600000000L, 3600000000L, 0L, false),
      (3L, 30L, 29L * 3600000000L, 3600000000L, 0L, false)))
  }

  test("q147 containment: planted subset doc is reported; disjoint doc is not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // 4 grams, all inside doc 2
      (2L, "a b c d e f g h"),   // 6 grams
      (3L, "x y z w")            // disjoint
    ).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.docContainmentOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 2L, 4L, 6L, 4L, 10000L)))
  }

  test("q147 containment: the discriminative-gram df cut removes hot shingles") {
    import spark.implicits._
    // All three docs share every gram → df = 3 > maxDf = 2 → no
    // discriminative grams survive → no pairs (the hot-shingle guard).
    val docs = Seq((1L, "p q r"), (2L, "p q r"), (3L, "p q r")).toDF("doc_id", "text")
    assert(graft.analytics.PipelineQueries.docContainmentOf(docs, maxDf = 2).count() == 0)
    // At maxDf = 3 the same corpus yields containment pairs again.
    assert(graft.analytics.PipelineQueries.docContainmentOf(docs, maxDf = 3).count() > 0)
  }

  test("q149 label propagation: path graph labels equal the 3-hop minimum") {
    import spark.implicits._
    // Path 1–2–3–4–5 (symmetric). After 3 rounds node k holds
    // min(node ids within 3 hops): 1,1,1,1,2.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = (e ++ e.map(_.swap)).toDF("src", "dst")
    val out = graft.graph.Graph.labelPropagation(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 2L)))
  }

  test("q150 concentration: planted Zipf counts give exact top-10 and singleton shares") {
    import spark.implicits._
    // t1×3, t2×2, t03..t12 ×1 → total 15, distinct 12; top-10 by
    // (count desc, token) = t1, t2, t03..t10 → mass 13; 10 singletons.
    val text = (Seq.fill(3)("t1") ++ Seq.fill(2)("t2") ++
      (3 to 12).map(i => f"t$i%02d")).mkString(" ")
    val docs = Seq((1L, text, "xx")).toDF("doc_id", "text", "lang")
    val got = graft.analytics.PipelineQueries.tokenConcentrationOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(("xx", 15L, 12L, 8666L, 10L, 8333L)))
  }

  test("q152 attribution: planted touches hit the window boundary exactly") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val week = graft.analytics.Queries.AttribWindowUs
    val rows = Seq(
      // user 1: click then purchase inside the window → 'click'.
      (1L, mkTs(1000000L), 1L, "click", 0.0),
      (1L, mkTs(2000000L), 2L, "purchase", 10.0),
      // user 2: view exactly AT the window edge (touch_us = p_us − week)
      // → still attributed (>= is inclusive).
      (2L, mkTs(1000000L), 3L, "view", 0.0),
      (2L, mkTs(1000000L + week), 4L, "purchase", 20.0),
      // user 3: touch one µs past the edge → 'direct'.
      (3L, mkTs(1000000L), 5L, "view", 0.0),
      (3L, mkTs(1000000L + week + 1000L), 6L, "purchase", 40.0),
      // user 4: no touches at all → 'direct'.
      (4L, mkTs(1000000L), 7L, "purchase", 80.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = graft.analytics.Queries.lastTouchAttributionOf(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("click", 1L, 1000L), ("direct", 2L, 12000L), ("view", 1L, 2000L)))
  }

  test("q153 phrase search: planted corpus finds the top bigram's positions") {
    import spark.implicits._
    // Bigrams: doc 1 → (a b)×2, (b a), (b c); doc 2 → (x a), (a b).
    // Top phrase "a b" (3 occurrences) → doc 1 twice, doc 2 once.
    val docs = Seq((1L, "a b a b c"), (2L, "x a b")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.phraseSearchOf(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a b", 2L), (2L, "a b", 1L)))
  }

  test("q154 co-purchase: planted baskets give hand-computed lift") {
    import spark.implicits._
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (4L, 3L)).toDF("ok", "pk")
    val out = graft.analytics.PipelineQueries.coPurchaseOf(li)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // (1,2) in 3 of 4 orders, supports 3·3 → lift 3·4·10⁴/9 = 13333;
    // (1,3) and (2,3) each once, supports 3·2 → 6666.
    assert(out.toSeq == Seq(
      (1L, 2L, 3L, 3L, 3L, 13333L),
      (1L, 3L, 1L, 3L, 2L, 6666L),
      (2L, 3L, 1L, 3L, 2L, 6666L)))
  }

  test("q155 survival: planted cohort yields exact risk sets with censoring") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    val rows = Seq(
      (1L, mkTs(0L), "signup"), (1L, mkTs(2 * day), "purchase"),
      (2L, mkTs(0L), "signup"), (2L, mkTs(5 * day), "view"), // censored at t_end
      (3L, mkTs(3 * day), "signup"), (3L, mkTs(3 * day + 1000000L), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = graft.analytics.PipelineQueries.survivalHazardOf(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // day 0: 3 at risk, u3 converts (3333 bp); day 2: 2 at risk, u1
    // converts (5000 bp); day 5: u2 exits censored, 0 events.
    assert(out.toSeq == Seq((0L, 3L, 1L, 3333L), (2L, 2L, 1L, 5000L), (5L, 1L, 0L, 0L)))
  }

  test("q156 three-step funnel: strict ordering gates each step") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val rows = Seq(
      (1L, mkTs(1000000L), "signup"), (1L, mkTs(2000000L), "view"),
      (1L, mkTs(3000000L), "purchase"),
      // u2's purchase lands BETWEEN signup and first view → step 3 unmet.
      (2L, mkTs(1000000L), "signup"), (2L, mkTs(2000000L), "view"),
      (2L, mkTs(1500000L), "purchase"),
      // u3's view precedes signup → step 2 unmet.
      (3L, mkTs(1000000L), "view"), (3L, mkTs(2000000L), "signup"),
      // u4 never signs up → not in the funnel.
      (4L, mkTs(1000000L), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = graft.analytics.PipelineQueries.funnelThreeStepOf(rows)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, "signup", 3L, 10000L),
      (2, "view_after_signup", 2L, 6666L),
      (3, "purchase_after_view", 1L, 5000L)))
  }

  test("q157 mutual NN: planted colinear pairs are mutual; cross pairs are not") {
    import spark.implicits._
    // a∥b and c∥d (cosine exactly 1 within each pair, 0 across) → the
    // mutual pairs are exactly (1,2) and (3,4).
    val embs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(2f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(0f, 3f)))
      .toDF("vec_id", "embedding")
    val out = graft.analytics.PipelineQueries.mutualNnOf(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0), (3L, 4L, 1.0)))
  }

  test("q158 OHLC: open/close follow the (ts, event_id) order, not file order") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    // Rows deliberately out of time order; two events share a timestamp
    // so the event_id tie-break decides close.
    val rows = Seq(
      (10L, mkTs(3000000L), "view", 9.0),  // high, also ts-max (tie below)
      (11L, mkTs(1000000L), "view", 5.0),  // open
      (12L, mkTs(2000000L), "view", 1.0),  // low
      (13L, mkTs(3000000L), "view", 4.0))  // same ts as id 10, higher id → close
      .toDF("event_id", "ts", "event_type", "value")
    val out = graft.analytics.PipelineQueries.ohlcBarsOf(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(("view", 0L, 4L, 500L, 900L, 100L, 400L)))
  }

  test("q159 diversity: planted source mix gives exact Simpson numbers") {
    import spark.implicits._
    // lang xx: sources A×3, B×1 → ss = 10, simpson = 10·10⁴/16 = 6250,
    // effective sources = 16·100/10 = 160 (1.6 effective of 2).
    val docs = Seq((1L, "xx", "A"), (2L, "xx", "A"), (3L, "xx", "A"), (4L, "xx", "B"))
      .toDF("doc_id", "lang", "source")
    val out = graft.analytics.PipelineQueries.sourceDiversityOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("xx", 4L, 2L, 6250L, 160L)))
  }

  test("q162 backtest: planted holdouts hit exactly where the trained partners say") {
    import spark.implicits._
    val d1 = new java.sql.Timestamp(1000000L)
    val d2 = new java.sql.Timestamp(2000000L)
    // Train: o1{1,2} (c1), o3{1,2} (c2), o5{2,3} (c3) →
    // co(1,2)=2, co(2,3)=1. Histories: c1/c2={1,2}, c3={2,3}.
    // Recs: c1,c2 → [3] (score 1); c3 → [1] (score 2).
    // Holdouts: c1={3} hit, c2={4} miss, c3={1} hit → hit@k 2/3 ∀k.
    val orders = Seq(
      (1L, 1L, d1), (2L, 1L, d2),
      (3L, 2L, d1), (4L, 2L, d2),
      (5L, 3L, d1), (6L, 3L, d2))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (1L, 1L), (1L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L), (4L, 4L),
      (5L, 2L), (5L, 3L), (6L, 1L))
      .toDF("l_orderkey", "l_partkey")
    val out = graft.analytics.PipelineQueries.recsBacktestOf(orders, li)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 6666L), (3L, 3L, 2L, 6666L), (5L, 3L, 2L, 6666L)))
  }

  test("q163 correlation: planted perfect co-movement and anti-movement flag correctly") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    // Daily counts over 3 days: X = 1,2,3; Y = 2,4,6 (r = +1); Z = 3,2,1 (r = −1 vs X).
    def burst(t: String, d: Long, n: Int) =
      (1 to n).map(i => (t, mkTs(d * day + i * 1000000L)))
    val rows = burst("X", 0, 1) ++ burst("X", 1, 2) ++ burst("X", 2, 3) ++
      burst("Y", 0, 2) ++ burst("Y", 1, 4) ++ burst("Y", 2, 6) ++
      burst("Z", 0, 3) ++ burst("Z", 1, 2) ++ burst("Z", 2, 1)
    val events = rows.toDF("event_type", "ts")
    val out = graft.analytics.PipelineQueries.dailyCorrelationOf(events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      ("X", "Y", 3L, true, true),   // r = +1: positive, strong
      ("X", "Z", 3L, false, true),  // r = −1: negative, strong
      ("Y", "Z", 3L, false, true)))
  }

  test("q164 drift: disjoint planted histograms read TVD = 100%") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    // Week-1 purchases all in bin 0 ($5), rest all in bin 1 ($15).
    val rows = (1 to 4).map(i => (mkTs(i * 1000000L), "purchase", 5.0)) ++
      (1 to 6).map(i => (mkTs(10 * day + i * 1000000L), "purchase", 15.0))
    val events = rows.toDF("ts", "event_type", "value")
    val out = graft.analytics.PipelineQueries.valueDriftOf(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq((2L, 4L, 6L, 10000L, true)))
  }

  test("q165 seasonality: planted load concentrates where planted") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    // day_id 0 = 1970-01-01 = Thursday → dow (0+3)%7 = 3; day_id 4 → Monday (0).
    val rows = (1 to 10).map(i => mkTs(5 * 3600000000L + i * 1000L)) ++
      (1 to 2).map(i => mkTs(4 * day + i * 1000L))
    val out = graft.analytics.PipelineQueries.seasonalityProfileOf(rows.map(Tuple1(_)).toDF("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L, 1666L, true),
      (3L, 5L, 10L, 8333L, true)))
  }

  test("q166 export: planted session serializes in order; singletons drop") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val rows = Seq(
      (1L, mkTs(0L), 1L, "view"), (1L, mkTs(10000000L), 2L, "click"),
      (1L, mkTs(15000000L), 3L, "purchase"),
      // 40-minute gap → new session, singleton → dropped.
      (1L, mkTs(2415000000L), 4L, "view"),
      (2L, mkTs(0L), 5L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.analytics.PipelineQueries.sessionExportOf(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq((1L, 0L, 3L, 15L, "view@0 click@10 purchase@15")))
  }

  test("q167 purge: planted bot's events are removed exactly; survivors hash-match") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    // user 1: 25 events 60 s apart → bot. user 2: 30 events 1 h apart → kept.
    val rows =
      (0 until 25).map(i => (1L, mkTs(i * 60000000L), i.toLong, "click", 1.0)) ++
      (0 until 30).map(i => (2L, mkTs(i * 3600000000L), (100 + i).toLong, "view", 2.0))
    val events = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = graft.analytics.PipelineQueries.gdprPurgeOf(events).head()
    val expectedHash = (100 until 130)
      .map(i => graft.functions.Md5Hash.h31(i.toString.getBytes)).sum
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4), out.getLong(5)) == (1L, 55L, 25L, 30L, 30L, expectedHash))
  }

  test("q168 RFM: five planted users score one quintile each") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    // user u has its last purchase at day u with u purchases of $u.
    val rows = (1L to 5L).flatMap { u =>
      (1L to u).map(i => (u, mkTs(u * day + i * 1000000L), "purchase", u.toDouble))
    }
    val events = rows.toDF("user_id", "ts", "event_type", "value")
    val out = graft.analytics.PipelineQueries.rfmScoresOf(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // recency: user 5 most recent (score 1 ascending rank → 1 is best-ranked
    // bucket); frequency/monetary: user 5 highest → score 1.
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, 100L, 5L, 5L, 5L, 555L),
      (2L, 3L, 2L, 400L, 4L, 4L, 4L, 444L),
      (3L, 2L, 3L, 900L, 3L, 3L, 3L, 333L),
      (4L, 1L, 4L, 1600L, 2L, 2L, 2L, 222L),
      (5L, 0L, 5L, 2500L, 1L, 1L, 1L, 111L)))
  }

  test("q169 streaks: planted islands give exact run lengths") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    val rows = Seq(0L, 1L, 2L, 5L, 6L).map(d => (1L, mkTs(d * day + 1000L))) ++
      Seq((2L, mkTs(3 * day + 1000L)))
    val out = graft.analytics.PipelineQueries.activityStreaksOf(rows.toDF("user_id", "ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 5L, 3L, 0L), (2L, 1L, 1L, 3L)))
  }

  test("q170 kNN probe: planted clusters classify by their nearest neighbor") {
    import spark.implicits._
    // probes = ids % 20 == 0. id 0 (label 1) sits among label-1 train
    // vectors; id 20 (label 2) among label-2; id 40 (label 1) is
    // closest to a label-2 train vector → misclassified.
    val embs = Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(0.9f, 0.1f), 1),
      (20L, Array(0f, 1f), 2), (21L, Array(0.1f, 0.9f), 2),
      (40L, Array(0.2f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = graft.analytics.PipelineQueries.knnLabelEvalOf(embs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, 2L, 1L, 5000L), (2, 1L, 1L, 10000L)))
  }

  test("q171 sliding sketch WAU: planted days give exact risk-free unions") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    val day = 86400000000L
    // users 1,2 on day 0; user 3 on day 3; user 1 again on day 8.
    // WAU(0)={1,2}=2; WAU(3)={1,2,3}=3; WAU(8)={1 (day 8 only; day 3's
    // window [2,8] includes day 3 and day 8)}… day 8 window [2,8]:
    // users {3 (day 3), 1 (day 8)} = 2.
    val rows = Seq((1L, 0L), (2L, 0L), (3L, 3L), (1L, 8L))
      .map { case (u, d) => (u, mkTs(d * day + 1000L)) }
    val out = graft.analytics.PipelineQueries
      .slidingHllWauOf(rows.toDF("user_id", "ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((0L, 2L, true), (3L, 3L, true), (8L, 2L, true)))
  }

  test("q172 A/B funnel: planted timing puts one arm at 100% and the other at 0%") {
    import spark.implicits._
    val mkTs = (us: Long) => new java.sql.Timestamp(us / 1000)
    // Even-hash users purchase 30 min after signup (inside the 1 h
    // window); odd-hash users 2 h after (outside) → a perfect split.
    val rows = (1L to 40L).flatMap { u =>
      val even = graft.functions.Md5Hash.h31(u.toString.getBytes) % 2 == 0
      val fs = u * 10000000L
      Seq((u, mkTs(fs), "signup"),
        (u, mkTs(fs + (if (even) 1800000000L else 7200000000L)), "purchase"))
    }.toDF("user_id", "ts", "event_type")
    val nEven = (1L to 40L).count(u => graft.functions.Md5Hash.h31(u.toString.getBytes) % 2 == 0).toLong
    val out = graft.analytics.PipelineQueries.abFunnelOf(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      ("control", nEven, nEven, 10000L, -10000L, true),
      ("treatment", 40L - nEven, 0L, 0L, -10000L, true)))
  }

  test("q173 ship lag: planted lags give the exact histogram median") {
    import spark.implicits._
    val day = 86400000000L
    val mkTs = (d: Long) => new java.sql.Timestamp(d * day / 1000)
    // Order 1 at day 0; lineitems ship at days 1, 2, 2, 3 → median 2,
    // mean 2, min 1, max 3.
    val li = Seq((1L, mkTs(1)), (1L, mkTs(2)), (1L, mkTs(2)), (1L, mkTs(3)))
      .toDF("l_orderkey", "l_shipdate")
    val o = Seq((1L, mkTs(0), "P1")).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val out = graft.analytics.PipelineQueries.shipLagOf(li, o)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(("P1", 4L, 2L, 2L, 1L, 3L)))
  }

  test("q174 expectations: every check type counts its planted violations") {
    import spark.implicits._
    import graft.operators.Expectations._
    val df = Seq(
      (1L, "ok", 5L, "{\"a\":1}"),
      (2L, "bad", 50L, "not-json"), // in_set + matches violations
      (2L, "ok", -1L, "{}"),        // dup id + range violation
      (3L, null.asInstanceOf[String], 7L, "{}")) // null type
      .toDF("id", "kind", "v", "payload")
    val out = graft.operators.Expectations.run(df, Seq(
      NotNull("kind"), InSet("kind", Seq("ok")), InRange("v", 0L, 10L),
      Matches("payload", "^\\{.*\\}$"), Unique("id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      ("in_range(v)", 4L, 2L, 5000L, false),   // 50 and −1 out of range
      ("in_set(kind)", 4L, 2L, 5000L, false),  // "bad" + NULL
      ("matches(payload)", 4L, 1L, 2500L, false),
      ("not_null(kind)", 4L, 1L, 2500L, false),
      ("unique(id)", 4L, 2L, 5000L, false)))   // both id-2 rows
  }

  test("q177 triangles: planted graph counts its one triangle once") {
    import spark.implicits._
    // o1 = {1,2,3} → K3; o2 = {3,4} → pendant edge; o3 = {1,2} repeats an
    // edge (distinctness). Degrees 2,2,3,1 → wedges 1+1+3+0 = 5; edges 4;
    // triangles 1; gcc = 3·1·10⁴ div 5 = 6000.
    val op = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (3L, 2L))
      .toDF("ok", "pk")
    val out = graft.analytics.PipelineQueries.triangleCensusOf(op)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((4L, 4L, 5L, 1L, 6000L)))
  }

  test("q177 triangles: adjacency-intersect and wedge-join closures agree (r13 size gate)") {
    import spark.implicits._
    // Denser planted graph: two orders forming overlapping cliques plus a
    // pendant — enough wedge/closure structure to tell the paths apart.
    val op = (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)) ++ // K4 on {1..4}
      Seq((2L, 3L), (2L, 4L), (2L, 5L)) ++                   // K3 on {3,4,5}
      Seq((3L, 5L), (3L, 6L))).toDF("ok", "pk")               // pendant 5-6
    // Long.MaxValue / 0 force the adjacency / wedge closures without the
    // gate-sizing count (r14: unmemoized calls at the DEFAULT gate now
    // take the wedge path count-free, so the forced values are the hooks).
    val fast = graft.analytics.PipelineQueries
      .triangleCensusOf(op, adjMaxEdges = Long.MaxValue)
      .collect().map(_.toSeq).toSeq
    val wedge = graft.analytics.PipelineQueries
      .triangleCensusOf(op, adjMaxEdges = 0L) // force the wedge semi-join
      .collect().map(_.toSeq).toSeq
    assert(fast == wedge, s"adjacency=$fast wedge=$wedge")
    assert(fast.head(3) == 5L, s"K4 (4) + K3 (1) triangles expected: $fast")
  }

  test("q178 CUSUM: planted level shift peaks at the gap-filled boundary day") {
    import spark.implicits._
    val mkTs = (day: Long, i: Long) => new java.sql.Timestamp((day * 86400000000L + i) / 1000)
    // Purchases/day: 2,2,(0 — absent, must gap-fill),8,8,10; total 30 over
    // 6 days → mean 5e6. CUSUM(e6): −3,−6,−11,−8,−5,0 → peak at day 2.
    val rows =
      (0 until 2).map(i => (mkTs(0, i.toLong), "purchase")) ++
      (0 until 2).map(i => (mkTs(1, i.toLong), "purchase")) ++
      (0 until 8).map(i => (mkTs(3, i.toLong), "purchase")) ++
      (0 until 8).map(i => (mkTs(4, i.toLong), "purchase")) ++
      (0 until 10).map(i => (mkTs(5, i.toLong), "purchase")) ++
      Seq((mkTs(2, 0L), "view")) // non-purchase noise on the gap day
    val out = graft.analytics.PipelineQueries
      .cusumChangepointOf(rows.toDF("ts", "event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (0L, 2L, -3000000L, false), (1L, 2L, -6000000L, false),
      (2L, 0L, -11000000L, true), (3L, 8L, -8000000L, false),
      (4L, 8L, -5000000L, false), (5L, 10L, 0L, false)))
  }

  test("q180 stats drift: planted snapshot halves give exact integer drifts") {
    import spark.implicits._
    // snap A (even ids): texts {a,b}, langs {xx,yy}, Σchars 30.
    // snap B (odd ids): texts {a}, langs {xx}, Σchars 10.
    val docs = Seq(
      (2L, "a", "xx", "s1", 10L), (4L, "b", "yy", "s1", 20L),
      (1L, "a", "xx", "s1", 5L), (3L, "a", "xx", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.analytics.PipelineQueries.statsDriftOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
    assert(out.toSeq == Seq(
      ("ndv_lang", 2L, 1L, -5000L),
      ("ndv_source", 1L, 1L, 0L),
      ("ndv_text", 2L, 1L, -5000L),
      ("nulls_text", 0L, 0L, null),
      ("rows", 2L, 2L, 0L),
      ("sum_n_chars", 30L, 10L, -6666L))) // div truncates toward zero in BOTH engines
  }

  test("q182 BPE: greedy leftmost merge — 'aaa' becomes [aa, a], round 2 recounts") {
    import spark.implicits._
    // vocab: aaab×2, ab×1. Round 1: (a,a)=4, (a,b)=3 → merge (a,a)→aa.
    // aaab → [aa, a, b] (leftmost, non-overlapping); round 2: (a,b)=3, (aa,a)=2.
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.bpeMergeRoundOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(("a", "b", 3L, "aa"), ("aa", "a", 2L, "aa")))
  }

  test("q182 BPE: boundary-sharing adjacent occurrences all merge ('a b a b' → [ab, ab])") {
    import spark.implicits._
    // Round-6 advice regression: the single-pass replace consumed the
    // separating space, so 'abab' under merge (a,b) yielded [ab, a, b].
    // The space-doubling pass gives the real greedy semantics [ab, ab].
    val docs = Seq((1L, "abab")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.bpeMergeRoundOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(("ab", "ab", 1L, "ab")))
  }

  test("q221 SNM: within-block window, boundary stitch, and the verifier") {
    import spark.implicits._
    // Block width 25000 over offset cents ⇒ block = (cents+1000000)/25000.
    // Planted: ids 1,2 adjacent in one block (verified twins); id 3 in the
    // same block but failing the nation check; ids 4,5 straddling a block
    // boundary within window reach (verified twins); id 6 far away.
    val cust = Seq(
      (1L, "Customer#000000001", 7L, 100.00), // cents 10000 → blk 40, rn 1
      (2L, "Customer#000000002", 7L, 101.00), // cents 10100 → blk 40, rn 2
      (3L, "Customer#000000003", 9L, 102.00), // blk 40, rn 3 — wrong nation
      (4L, "Customer#000000004", 7L, 249.99), // cents 24999 → blk 40, rn 4 (last)
      (5L, "Customer#000000005", 7L, 250.01), // cents 25001 → blk 41, rn 1 (first)
      (6L, "Customer#000000006", 7L, 900.00)) // cents 90000 → blk 43 — not adjacent
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val out = graft.analytics.PipelineQueries.sortedNeighborhoodOf(cust)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // All names are levenshtein-1 apart; id 3's nation filters its pairs;
    // (4,5) is the boundary stitch; id 6 is beyond the adjacent block.
    assert(out.toSeq == Seq((1L, 2L, 100L), (1L, 4L, 14999L), (1L, 5L, 15001L),
      (2L, 4L, 14899L), (2L, 5L, 14901L), (4L, 5L, 2L)), out.toSeq.mkString(","))
  }

  test("q222 ablation: planted docs attribute failures to the right filters") {
    import spark.implicits._
    // 20 tokens, 2 en stopword hits (ratio 0.10 ≥ 0.05), mean token length
    // 120/20 = 6 ∈ [3,8], langid 'en' (only profile with any hits), no PII.
    val good = "the and office buildings rather simple windows monitor keyboard cable " +
      "garden stone river mountain yellow purple orange silver copper bronze"
    val docs = Seq(
      (1L, good, "en"), // passes everything
      (2L, "short doc", "und"), // fails len (2 toks), stop (0 hits); langid und == label
      (3L, null.asInstanceOf[String], "en")) // null text: excluded entirely
      .toDF("doc_id", "text", "lang")
    val out = graft.analytics.PipelineQueries.filterAblationOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    val byName = out.map(r => r._1 -> r).toMap
    assert(out.forall(_._2 == 2L)) // n_docs excludes the null-text row
    assert(byName("len")._3 == 1L && byName("stop")._3 == 1L)
    // doc 2 fails BOTH len and stop → neither failure is unique to one filter
    assert(byName("len")._4 == 0L && byName("stop")._4 == 0L)
    assert(out.forall(_._5 == 1L)) // doc 1 survives all five
  }

  test("q220 hard negatives: every result sits inside the band, ranked by cosine") {
    val out = graft.analytics.PipelineQueries.hardNegatives(spark, TestSpark.SfDir)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.forall { case (_, _, c) =>
      c >= graft.analytics.PipelineQueries.HardNegLo &&
        c < graft.analytics.PipelineQueries.HardNegHi })
    out.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq) // cosine desc by rank
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
    }
  }

  test("q226 KS: planted distributions give the exact integer statistic and location") {
    import spark.implicits._
    // purchases: {1.00×1, 2.00×1, 3.00×2} (n1=4); views: {1.00×2, 3.00×2}
    // (n2=4). CDF gap |cum1·n2 − cum2·n1| peaks at cents=100 with 4 →
    // ks_bp = 4·10⁴/16 = 2500.
    val ev = Seq(
      ("purchase", 1.00), ("purchase", 2.00), ("purchase", 3.00), ("purchase", 3.00),
      ("view", 1.00), ("view", 1.00), ("view", 3.00), ("view", 3.00),
      ("click", 9.99)) // other types excluded
      .toDF("event_type", "value")
    val out = graft.analytics.PipelineQueries.ksDriftOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((4L, 4L, 2500L, 100L)))
  }

  test("q183 reconciliation: planted discrepancies land in their exact buckets") {
    import spark.implicits._
    val orders = Seq(
      (1L, 10.00), (2L, 10.50), (3L, 100.00), (4L, 20.00), (5L, 50.00))
      .toDF("o_orderkey", "o_totalprice")
    val lines = Seq(
      (1L, 10.00, 0.00, 0.00),  // exact
      (2L, 10.00, 0.00, 0.00),  // +0.50 → lt_1_dollar
      (4L, 10.00, 0.10, 0.20),  // lines = 10.80 → diff 9.20 → lt_10
      (5L, 10.00, 0.00, 0.00))  // diff 40 → gte_10; order 3 has no lines
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val out = graft.analytics.PipelineQueries.orderReconciliationOf(orders, lines)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("exact", 1L, 0L), ("gte_10_dollars", 1L, 40000000L),
      ("lt_10_dollars", 1L, 9200000L), ("lt_1_dollar", 1L, 500000L),
      ("no_lines", 1L, 100000000L)))
  }

  test("q184 zone maps: clustered layout skips the out-of-band buckets exactly") {
    import spark.implicits._
    val mkTs = (h: Long, i: Long) => new java.sql.Timestamp((h * 3600000000L + i) / 1000)
    // Users 0..9, one event in each of two hours. Band = [3, 4] (maxu 9).
    val rows = for (u <- 0L to 9L; h <- 0L to 1L) yield (mkTs(h, u), u)
    val out = graft.analytics.PipelineQueries.zoneMapAuditOf(
      rows.toDF("ts", "user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("time", 2L, 0L, 0L, 20L, 20L),            // every hour holds every user
      ("user_clustered", 10L, 8L, 8000L, 20L, 4L))) // only users 3,4 in-band
  }

  test("q185 concentration: planted linear values give the exact textbook Gini") {
    import spark.implicits._
    // Values 10/20/30/40 → Σi·v = 30000, G = 15000 − 12500 = 2500 bp.
    val ev = Seq((1L, "purchase", 10.0), (2L, "purchase", 20.0),
      (3L, "purchase", 30.0), (4L, "purchase", 40.0), (1L, "view", 99.0))
      .toDF("user_id", "event_type", "value")
    val out = graft.analytics.PipelineQueries.revenueConcentrationOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 1L, 1000L, 1000L, 1000L, 2500L), (2L, 1L, 2000L, 2000L, 3000L, 2500L),
      (5L, 1L, 3000L, 3000L, 6000L, 2500L), (7L, 1L, 4000L, 4000L, 10000L, 2500L)))
  }

  test("q186 fluency: planted bigram model scores in exact ppm") {
    import spark.implicits._
    // c12: (a,b)=2 (b,a)=1 (a,c)=1 (a,d)=1; c1: a=4, b=1.
    // doc1 = (2·500000 + 1000000)/3 = 666666; docs 2,3 = 250000 each;
    // mean 388888, floor 194444 → nothing low.
    val docs = Seq((1L, "a b a b", "xx"), (2L, "a c", "xx"), (3L, "a d", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = graft.analytics.PipelineQueries.bigramFluencyOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("xx", 3L, 388888L, 0L)))
  }

  test("q190 degrees: the planted graph buckets by exact integer log2") {
    import spark.implicits._
    // Same planted graph as q177: degrees 2,2,3,1 → buckets ⌊log2⌋ =
    // 1,1,1,0 → bucket 0: one node (deg 1); bucket 1: three nodes (2,2,3).
    val op = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (3L, 2L))
      .toDF("ok", "pk")
    val li = op.distinct()
    val edges = li.alias("a")
      .join(li.alias("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
    val out = graft.analytics.PipelineQueries.degreeProfileOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 1L, 1L, 1L, 1L), (1L, 3L, 2L, 3L, 7L)))
  }

  test("q191 join-size estimate: planted keys give the exact AMS inner product") {
    import spark.implicits._
    // Keys [1,1,2] → exact self-join 2²+1² = 5; with 2048 cells and 5
    // depths the deterministic md5 layout is collision-free → est = 5.
    val out = graft.analytics.PipelineQueries.joinSizeEstimateOf(
      Seq(1L, 1L, 2L).toDF("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq((3L, 2L, 5L, 5L, 0L, true)))
  }

  test("q192 moments: planted symmetric and skewed series give exact integers") {
    import spark.implicits._
    val ev = Seq(("view", 1.0), ("view", 2.0), ("view", 3.0),
      ("purchase", 1.0), ("purchase", 1.0), ("purchase", 4.0))
      .toDF("event_type", "value")
    val out = graft.analytics.PipelineQueries.momentStatsOf(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      // mean third central moment: Σ(v−μ)³/n = 6e6/3 = 2e6; right-skewed.
      ("purchase", 3L, 600L, 200L, 30000L, 2000000L, true),
      // Symmetric 100/200/300: var 10000, m3 exactly 0.
      ("view", 3L, 600L, 200L, 10000L, 0L, false)))
  }

  test("q194 concurrency: ties overlap, midnight-spanning sessions carry their peak") {
    import spark.implicits._
    val mkTs = (min: Long) => new java.sql.Timestamp(min * 60000L)
    // Day 0: u1 session [0,10], u2 point-session at 5 (overlap → peak 2),
    // u3 point at 100. u4 session 23:50 → day1 00:10 (spans midnight:
    // day 1 holds only its −1 delta, peak must read the carry, = 1).
    val ev = Seq((1L, 0L), (1L, 10L), (2L, 5L), (3L, 100L),
      (4L, 1430L), (4L, 1450L))
      .map { case (u, m) => (u, mkTs(m)) }.toDF("user_id", "ts")
    val out = graft.analytics.PipelineQueries.peakConcurrencyOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 4L, 3L, 2L), (1L, 0L, 1L, 1L)))
  }

  test("q196 loyalty: the boundary order itself stays in the lower tier") {
    import spark.implicits._
    val mkTs = (d: Long) => new java.sql.Timestamp(d * 86400000L)
    // Customer 1: five orders → as-was bronze,bronze,silver,silver,gold;
    // as-is gold. Customer 2: one order → bronze/bronze.
    val orders = (1L to 5L).map(i => (1L, i, mkTs(i), i * 10.0)) :+ (2L, 9L, mkTs(1), 5.0)
    val out = graft.analytics.PipelineQueries.pitLoyaltyOf(
      orders.toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("bronze", "bronze", 1L, 500L),      // customer 2
      ("bronze", "gold", 2L, 3000L),       // orders 1–2 of customer 1
      ("gold", "gold", 1L, 5000L),         // order 5
      ("silver", "gold", 2L, 7000L)))      // orders 3–4
  }

  test("q197 padding: sorted batching eliminates the planted interleaved waste") {
    import spark.implicits._
    // 64 docs alternating 10-token / 2-token. Arrival order mixes them
    // (both batches pad to 10 → 256 wasted); sorted order separates them
    // (zero waste).
    val docs = (1L to 64L).map(i =>
      (i, (if (i % 2 == 1) Seq.fill(10)("w") else Seq.fill(2)("w")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.batchPaddingOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("arrival", 2L, 384L, 256L, 4000L), ("sorted", 2L, 384L, 0L, 0L)))
  }

  test("q198 bootstrap: an all-converting population pins the CI to the point") {
    import spark.implicits._
    val ev = (1L to 10L).map(u => (u, "purchase")).toDF("user_id", "event_type")
    val out = graft.analytics.PipelineQueries.bootstrapCiOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((10L, 10000L, 200L, 10000L, 10000L)))
  }

  test("q199 vocab curve: a vocabulary smaller than every cut reads full coverage") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b"), (2L, "a a b b c")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.vocabSizeCurveOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((100L, 3L, 10000L), (1000L, 3L, 10000L), (10000L, 3L, 10000L)))
  }

  test("q201 SLO: the fast burn pages only when BOTH windows exceed budget") {
    import spark.implicits._
    val mkTs = (h: Long, i: Long) => new java.sql.Timestamp((h * 3600000000L + i) / 1000)
    // Hours 0–4: 1% errors (quiet). Hour 5: 50% — 1 h and 6 h windows
    // both breach → page; 24 h breaches the slow-burn ticket.
    val rows = for {
      h <- 0L to 5L; i <- 0L until 100L
      t = if (h == 5 && i < 50) "error" else if (i == 0) "error" else "view"
    } yield (mkTs(h, i), t)
    val out = graft.analytics.PipelineQueries.sloBurnRateOf(rows.toDF("ts", "event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5), r.getBoolean(6)))
    assert(out.take(5).forall { case (_, e1, e6, e24, p, t) =>
      e1 == 100L && e6 == 100L && e24 == 100L && !p && !t })
    assert(out(5) == ((5L, 5000L, 916L, 916L, true, true)))
  }

  test("q202 pixels: planted dimensions pack into one batch with exact fill") {
    import spark.implicits._
    // ids 0/3/6 → 32×32 + 80×128 + 128×64 = 19456 px, all in batch 0.
    val docs = Seq(0L, 1L, 2L, 3L, 5L, 6L).map(i => (i, "t")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.pixelPackingOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 3L, 19456L, 185L)))
  }

  test("q205 BFS: planted graph expands hop by hop and stops when exhausted") {
    import spark.implicits._
    // Edges (1,2),(1,3),(2,3),(3,4); seed = 1. Hop1 → {2,3}; hop2 → {4};
    // hop3 → nothing new.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val out = graft.analytics.PipelineQueries.kHopReachabilityOf(spark, edges)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 2L, 3L), (2, 1L, 4L), (3, 0L, 4L)))
  }

  test("q206 IVM: the four-term delta algebra reconstructs the planted view exactly") {
    import spark.implicits._
    val orders = Seq((1L, 1L), (5L, 2L)).toDF("o_orderkey", "o_custkey")
    val lines = Seq(
      (1L, 1, 10.00, 0.0),  // base (14 % 7 ≠ 0? no — ln 1 → 11 % 7 = 4, base)
      (1L, 4, 5.00, 0.0),   // 14 % 7 = 0 → DELTA
      (5L, 1, 20.00, 0.0))  // order 5 is an orders-side DELTA (5 % 5 = 0)
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    val out = graft.analytics.PipelineQueries.incrementalViewOf(orders, lines)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((2L, 200000L, 200000L, true), (1L, 150000L, 150000L, true)))
  }

  test("q207 skyline: dominated points drop, same-price ties both survive") {
    import spark.implicits._
    // (key, price, size): 1 (1.00, 5) frontier; 2 (2.00, 5) dominated by
    // 1 (same size, pricier); 3 (2.00, 9) frontier; 4 (3.00, 9) dominated;
    // 5 (3.00, 12) and 6 (3.00, 12) same-price tie → BOTH survive;
    // 7 (0.50, 2) frontier (cheapest).
    val parts = Seq((1L, 1.00, 5), (2L, 2.00, 5), (3L, 2.00, 9), (4L, 3.00, 9),
      (5L, 3.00, 12), (6L, 3.00, 12), (7L, 0.50, 2))
      .toDF("p_partkey", "p_retailprice", "p_size")
    val out = graft.analytics.PipelineQueries.skylineOf(parts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((7L, 50L, 2L), (1L, 100L, 5L), (3L, 200L, 9L),
      (5L, 300L, 12L), (6L, 300L, 12L)))
  }

  test("q211 path likelihood: the planted improbable journey ranks least likely") {
    import spark.implicits._
    val mkTs = (i: Long) => new java.sql.Timestamp(i * 60000L)
    // Users 1–3 walk the common view→view→purchase path; user 4 takes a
    // never-otherwise-seen error→signup step and must rank last.
    val rows =
      (1L to 3L).flatMap(u => Seq((u, u * 10 + 1, mkTs(u * 10 + 1), "view"),
        (u, u * 10 + 2, mkTs(u * 10 + 2), "view"), (u, u * 10 + 3, mkTs(u * 10 + 3), "purchase"))) ++
      Seq((4L, 41L, mkTs(41), "error"), (4L, 42L, mkTs(42), "signup"))
    val out = graft.analytics.PipelineQueries
      .pathLikelihoodOf(rows.toDF("user_id", "event_id", "ts", "event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // view→view (3/6) and view→purchase (3/6) give the common users
    // 500000 ppm; error→signup is its OWN prefix's only transition →
    // 1000000 ppm... so the rare step is CERTAIN given its prefix. The
    // outlier signal comes from common-prefix users: all equal here, and
    // user 4's certain-but-unique path scores HIGHEST. Least likely =
    // the common users; ordering is (score, user_id).
    assert(out.toSeq == Seq((1L, 2L, 500000L), (2L, 2L, 500000L),
      (3L, 2L, 500000L), (4L, 1L, 1000000L)))
  }

  test("q212 clustering factor: a user-sorted file reads long runs, interleaved reads 1") {
    import spark.implicits._
    val mkTs = (i: Long) => new java.sql.Timestamp(i * 1000L)
    // 4 users × 3 events in one hour, event_id interleaves users round-
    // robin → time layout breaks on (almost) every row; the clustered
    // layout has one file per user (maxu 3, 32 buckets) → 3-long runs.
    val rows = for (i <- 0L until 12L) yield (i, i % 4, mkTs(i))
    val out = graft.analytics.PipelineQueries
      .clusteringFactorOf(rows.toDF("event_id", "user_id", "ts"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // time: order 0,1,2,3,0,1,... breaks at rows 0 (first), 4, 8 → runs 3?
    // No: within the single hour file the sequence is 0,1,2,3,0,... —
    // user_id drops below predecessor at each wrap (rows 4 and 8) plus
    // the first row → 3 runs of length 4.
    assert(out.toSeq == Seq(("time", 12L, 3L, 400L),
      ("user_clustered", 12L, 4L, 300L)))
  }

  test("q213 histograms: equi-depth beats equi-width on a planted skewed column") {
    import spark.implicits._
    // 900 values at 0..99 (dense) + 100 at 10000..10099 (sparse tail):
    // equi-width spends 7 bins on emptiness; equi-depth adapts.
    val vals = ((0L until 900L).map(i => i % 100) ++ (0L until 100L).map(10000L + _))
      .toDF("v")
    val out = graft.analytics.PipelineQueries.histogramAccuracyOf(vals)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    // Estimates can't exceed n, errors are sane, and on this skew the
    // depth histogram's TOTAL error is strictly smaller.
    val (wErr, dErr) = (out.map(_._5).sum, out.map(_._6).sum)
    assert(dErr < wErr, s"equi-depth should win on skew: depth=$dErr width=$wErr")
  }

  test("q215 independence: a planted dependent table concentrates in its fat cell") {
    import spark.implicits._
    // lang xx comes (almost) only from A; yy only from B — strong
    // dependence. Cells: (xx,A)=9 (xx,B)=1 (yy,A)=1 (yy,B)=9 → N=20,
    // all margins 10. (o·N−r·c)² = (180−100)² = 6400 for every cell;
    // cell_bp = 6400·10⁴ div 2000 = 32000; total 128000 (χ²=12.8).
    val docs = (
      (1L to 9L).map(i => (i, "xx", "A")) ++ Seq((10L, "xx", "B")) ++
      Seq((11L, "yy", "A")) ++ (12L to 20L).map(i => (i, "yy", "B")))
      .toDF("doc_id", "lang", "source")
    val out = graft.analytics.PipelineQueries.independenceTestOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("xx", "A", 9L, 500L, 32000L, 128000L), ("xx", "B", 1L, 500L, 32000L, 128000L),
      ("yy", "A", 1L, 500L, 32000L, 128000L), ("yy", "B", 9L, 500L, 32000L, 128000L)))
  }

  test("q252 kappa: perfect agreement is +10000 bp; anti-diagonal is -10000 bp") {
    import spark.implicits._
    // Texts pin label_a by lexical diversity (3000 / 5000 / 10000 bp →
    // classes 0/1/2); n_chars pins label_b (500 / 550 / 600 ×100 chars
    // per token → classes 0/1/2). 10 whitespace tokens each.
    val t0 = "a a a a b b b b c c"
    val t1 = "a a b b c c d d e e"
    val t2 = "a b c d e f g h i j"
    // One doc per diagonal cell: pₒ = 1, pₑ = 3/9 → κ = 1 exactly.
    val perfect = Seq((1L, t0, 50L), (2L, t1, 55L), (3L, t2, 60L))
      .toDF("doc_id", "text", "n_chars")
    val outP = graft.analytics.PipelineQueries.labelerAgreementOf(perfect)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(outP.toSeq == Seq(
      (0L, 0L, 1L, 10000L, 3333L, 10000L),
      (1L, 1L, 1L, 10000L, 3333L, 10000L),
      (2L, 2L, 1L, 10000L, 3333L, 10000L)))
    // Pure anti-diagonal 2×2: pₒ = 0, pₑ = 1/2 → κ = −1 — the
    // below-chance branch the sign-split division exists for.
    val anti = Seq((1L, t0, 55L), (2L, t1, 50L))
      .toDF("doc_id", "text", "n_chars")
    val outA = graft.analytics.PipelineQueries.labelerAgreementOf(anti)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    assert(outA.toSeq == Seq(
      (0L, 1L, 0L, 5000L, -10000L),
      (1L, 0L, 0L, 5000L, -10000L)))
  }

  test("q217 keyness: a token planted only in snapshot A tops the A-over-B cut") {
    import spark.implicits._
    // 'zzz' appears 10× in even docs only; 'common' is balanced filler.
    val docs = (
      (0L until 10L).map(i => (i * 2, "zzz " + Seq.fill(5)("common").mkString(" "))) ++
      (0L until 10L).map(i => (i * 2 + 1, Seq.fill(6)("common").mkString(" "))))
      .toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.tokenKeynessOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.head == ("a_over_b", "zzz"),
      s"the A-only token must lead the A-over-B direction: ${out.toSeq}")
  }

  test("q234 IR eval: planted corpus grades the BM25 run exactly") {
    import spark.implicits._
    // qid 1 (1 % 100 == 1). doc 2 is an exact dup (J = 1.0 ≥ 0.9 →
    // relevant, ranked 1 by BM25); doc 3 overlaps at J = 0.6 (retrieved
    // but NOT relevant); doc 4 shares nothing (never scored).
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"), (4L, "z z z"))
      .toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.retrievalEvalOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 1L, 1L, 1000L, 10000L, 10000L)), out.toSeq.mkString(","))
  }

  test("q235 prefix filter: planted clique found; sub-threshold overlap excluded") {
    import spark.implicits._
    val ten = (0 until 10).map(i => s"t$i").mkString(" ")
    val nine = (0 until 9).map(i => s"t$i").mkString(" ") + " u0" // J = 9/11 < 0.95
    val docs = Seq((1L, ten), (2L, ten), (3L, nine), (4L, "q r s"))
      .toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.prefixFilterJoinOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 1L, 10000L, 2L), (2L, 1L, 10000L, 1L)), out.toSeq.mkString(","))
  }

  test("q235 prefix filter: zero false negatives vs the brute-force join at sf0.001") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.SfDir)
    val dt = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token")).distinct()
    val sz = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val brute = dt.select(col("doc_id").as("id_a"), col("token"))
      .join(dt.select(col("doc_id").as("id_b"), col("token")), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(col("inter") * 10000L >=
        lit(graft.analytics.PipelineQueries.PfxJacBp) * (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "the sf0.001 corpus should contain ≥1 pair at J ≥ 0.95")
    // Reconstruct the pair count from the summary: Σ n_matches == 2·|pairs|.
    val summary = graft.analytics.PipelineQueries.prefixFilterJoin(spark, TestSpark.SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(summary.values.sum == 2L * brute.size,
      s"summary links ${summary.values.sum} != 2×${brute.size} brute pairs")
    // And every doc in a brute pair appears in the summary (no dropped doc).
    val docsInPairs = brute.flatMap(p => Seq(p._1, p._2))
    assert(docsInPairs.subsetOf(summary.keySet))
  }

  test("q236 encoding advisor: planted column shapes pick dict/dict/plain") {
    import spark.implicits._
    // user_id constant (ndv 1 → tiny dict), event_type alternating (ndv 2,
    // max runs → dict), cents all-distinct (dict codes cost more than
    // plain → plain). Cost model documented on encodingAuditOf.
    val ev = (0L until 6L).map(i =>
      (i, 1L, if (i % 2 == 0) "a" else "b", (i + 1) * 1.00))
      .toDF("event_id", "user_id", "event_type", "value")
    val out = graft.analytics.PipelineQueries.encodingAuditOf(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
    val byCol = out.map(r => r._1 -> r).toMap
    assert(byCol("user_id") == ("user_id", 6L, 1L, 1L, 48L, 9L, 12L, "dict"))
    assert(byCol("event_type") == ("event_type", 6L, 2L, 6L, 30L, 11L, 54L, "dict"))
    assert(byCol("cents") == ("cents", 6L, 6L, 6L, 48L, 51L, 72L, "plain"))
  }

  test("q237 rebalance: HRW moves far fewer keys than mod-N for the same shard add") {
    val out = graft.analytics.PipelineQueries.shardRebalance(spark, TestSpark.SfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set("hrw", "mod"))
    val (nk, hrwMoved, _) = out("hrw")
    val (_, modMoved, _) = out("mod")
    // mod-N reshuffles ~(N-1)/N of keys; HRW only those won by the new shard.
    assert(hrwMoved < modMoved, s"hrw=$hrwMoved mod=$modMoved")
    assert(modMoved * 10L > nk * 7L, s"mod should move ~8/9 of $nk keys, moved $modMoved")
    assert(hrwMoved * 4L < nk, s"hrw should move ~1/9 of $nk keys, moved $hrwMoved")
  }

  test("q240 online SemDedup: sequential admission differs from the batch rule") {
    import spark.implicits._
    // Angles 0°/23°/46°/5°: id2 (wave 0) is dominated by id0 (cos 0.92 ≥
    // 0.9 → dropped within wave); id1 (wave 1) is near the DROPPED id2
    // (0.92) but far from the admitted id0 (0.69) → the online rule
    // ADMITS it (q78's batch rule would have dropped it against the
    // lower id regardless of admission); id3 is near the prior-admitted
    // id0 (0.996) → dropped against the prior corpus.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.6947f, 0.7193f)),
      (2L, Array(0.9205f, 0.3907f)), (3L, Array(0.9962f, 0.0872f)))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.SemDedup
      .onlineAdmission(spark, vecs, "vec_id", "embedding",
        tau = 0.9, nlist = 1, nBatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 1L, 0L, 1L, 0L),   // wave 0: id0 admitted, id2 dropped within
      (1L, 2L, 1L, 1L, 0L, 1L)),  // wave 1: id1 admitted, id3 dropped vs prior
      out.toSeq.mkString(","))
  }

  test("q254 committed admission: matches q240's sequential semantics from the on-disk store and replays idempotently") {
    import spark.implicits._
    // Same planted angles as the q240 spec — the case where the online
    // rule and the batch rule DISAGREE (id1 is admitted online because
    // its dominator id2 was itself dropped), so store-vs-lineage parity
    // here proves the committed path carries the sequential semantics.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.6947f, 0.7193f)),
      (2L, Array(0.9205f, 0.3907f)), (3L, Array(0.9962f, 0.0872f)))
      .toDF("vec_id", "embedding")
    TestSpark.withTempDir("graft_admit_spec") { work =>
      val store = s"$work/s"
      val out1 = graft.similarity.SemDedup
        .committedAdmission(spark, vecs, "vec_id", "embedding", store,
          tau = 0.9, nlist = 1, nBatches = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out1.toSeq == Seq((0L, 0L, 0L), (1L, 1L, 0L)), out1.toSeq.mkString(","))
      // Per-wave (count, id-sum) from the STORE equal q240's lineage stats.
      val stats = graft.similarity.SemDedup
        .onlineAdmission(spark, vecs, "vec_id", "embedding",
          tau = 0.9, nlist = 1, nBatches = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(5))).toMap
      val fromStore = out1.groupBy(_._1)
        .map { case (b, rs) => b -> (rs.size.toLong, rs.map(_._2).sum) }
      assert(fromStore == stats, s"store=$fromStore lineage=$stats")
      // Replay over the already-published store: identical content (each
      // wave reads only batch_id < b and rewrites its own partition).
      val out2 = graft.similarity.SemDedup
        .committedAdmission(spark, vecs, "vec_id", "embedding", store,
          tau = 0.9, nlist = 1, nBatches = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out2.toSeq == out1.toSeq)
    }
  }

  test("q255 BPE encode: hand-derived merges and symbol counts on a planted corpus (k=2)") {
    import spark.implicits._
    // vocab: abab×2, ab×1, cd×1. Round 1 pairs: (a,b)=5, (b,a)=2,
    // (c,d)=1 → merge (a,b). Round 2: (ab,ab)=2, (c,d)=1 → merge
    // (ab,ab). Encode: abab→1 symbol, ab→1, cd→2. en totals: 4 tokens,
    // 12 char symbols, 5 BPE symbols, 5·10⁴ div 12 = 4166 bp.
    val docs = Seq(
      (1L, "en", "abab abab ab"),
      (2L, "en", "cd")).toDF("doc_id", "lang", "text")
    val out = graft.analytics.PipelineQueries.bpeEncodeOf(docs, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("en", 4L, 12L, 5L, 4166L)), out.toSeq.toString)
    // Early-stop parity: asking for more rounds than the vocab has pairs
    // must not change the result (the oracle's sentinel-merge no-ops).
    val out8 = graft.analytics.PipelineQueries.bpeEncodeOf(docs, 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // k=8 keeps merging while pairs remain (cd merges too) — just assert
    // it runs and the totals stay consistent: symbols can only shrink.
    assert(out8.head._4 <= out.head._4, out8.toSeq.toString)
  }

  test("q255 expression: greedy left-to-right merge semantics match the replace-chain form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.BpeFunctions.bpe_doc_symbols
    // 'a a a' with merge (a,a) → [aa, a] (left-to-right non-overlap);
    // 'aab' with (a,b) → [a, ab]; merges apply IN ORDER: (a,b) then
    // (ab,c) chains 'abc' → [abc].
    val df = Seq("aaa", "aab", "abc", "x", "").toDF("text")
    val out = df.select(col("text"),
        bpe_doc_symbols(col("text"), Seq(("a", "a"))).as("s_aa"),
        bpe_doc_symbols(col("text"), Seq(("a", "b"), ("ab", "c"))).as("s_chain"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("aaa") == (2L, 3L))
    assert(out("aab") == (2L, 2L))   // (a,a) merges the first two of aab
    assert(out("abc") == (3L, 1L))
    assert(out("x") == (1L, 1L))
    assert(out("") == (0L, 0L))
  }

  test("q241 exact quantiles: planted 100-value frame selects the textbook ceiling ranks") {
    import spark.implicits._
    // values 1..100 whole dollars (exact at double precision — cents
    // i·100): ceil-rank selection → p50 = rank 50, p90 = 90, p99 = 99,
    // p99.9 = 100.
    val ev = (1L to 100L).map(i => (i, i.toDouble)).toDF("event_id", "value")
    val out = graft.analytics.PipelineQueries.exactQuantilesOf(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq(("p50", 50L, 5000L), ("p90", 90L, 9000L),
      ("p99", 99L, 9900L), ("p999", 100L, 10000L)), out.toSeq.mkString(","))
  }

  test("q249 novelty: a changed doc's new grams are novel; unchanged text is not") {
    import spark.implicits._
    // doc_id 2 (%5==2) is in BOTH snapshots but gains " v2" in the new
    // one: its last 5-gram is novel; doc 0 (%5==0) is unchanged (zero
    // novelty); doc 3 (%5==3) is old-only (absent from the new side).
    val docs = Seq(
      (0L, "a b c d e f", "en"), (2L, "a b c d e f", "en"), (3L, "x y z w q v", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.analytics.PipelineQueries.ngramNoveltyOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // New snapshot: docs 0 and 2 → doc 0 has 2 instances (grams of 6
    // tokens), doc 2 has 3 (7 tokens after " v2"); novel = the
    // "c d e f v2" and "b c d e f"→… only grams containing v2: exactly 1.
    assert(out.toSeq == Seq(("en", 5L, 1L)), out.toSeq.mkString(","))
  }

  test("q244 Benford: planted digit distribution reproduces counts, shares, chi-square") {
    import spark.implicits._
    // 10 orders: four leading-1 values, six leading-9 — digit 1 at 4000 bp
    // (expected 3010), digit 9 at 6000 bp (expected 457), others absent.
    val orders = ((1 to 4).map(_ => 1.23) ++ (1 to 6).map(_ => 9.87))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("o_orderkey", "o_totalprice")
    val out = graft.analytics.PipelineQueries.benfordAuditOf(orders)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(6)))
    val byDigit = out.map(t => t._1 -> t).toMap
    assert(out.length == 9)
    assert(byDigit(1L)._2 == 4L && byDigit(1L)._3 == 4000L)
    assert(byDigit(9L)._2 == 6L && byDigit(9L)._3 == 6000L)
    assert(byDigit(2L)._2 == 0L && byDigit(2L)._3 == 0L)
    // χ² contribution for digit 1: (4·10⁴ − 10·3010)² div (10·3010·10⁴)
    // = 9900² div 3.01e8 = 98010000 div 301000000 = 0 (×10⁴ scale ⇒ 3256).
    assert(byDigit(1L)._4 ==
      (4L * 10000 - 10L * 3010) * (4L * 10000 - 10L * 3010) / (10L * 3010 * 10000L))
  }

  test("q245 modularity: two disjoint triangles score the textbook Q = 0.5") {
    import spark.implicits._
    import graft.graph.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("u", "v")
    val symDeg = Graph.symmetricWithDegrees(edges)
    val labels = Graph.labelPropagation(symDeg)
    val out = graft.analytics.PipelineQueries.modularityOf(symDeg, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // Each triangle: 3 members, degree sum 6, internal endpoints 6,
    // Qc = (12·6 − 36)·10⁸ / 144 = 0.25 → 25 000 000; total 0.5.
    assert(out.toSeq == Seq(
      (1L, 3L, 6L, 6L, 25000000L, 50000000L),
      (10L, 3L, 6L, 6L, 25000000L, 50000000L)), out.toSeq.mkString(","))
    symDeg.unpersist(); labels.unpersist()
    ()
  }

  test("q238 Bloom pruning: zero false negatives, exact truth, FP only additive") {
    val r = graft.analytics.PipelineQueries.bloomJoinPrune(spark, TestSpark.SfDir).collect()(0)
    val (nPass, nTrue, nFp) = (r.getAs[Long]("n_pass"), r.getAs[Long]("n_true"), r.getAs[Long]("n_false_pos"))
    assert(nPass >= nTrue && nFp == nPass - nTrue)
    // independent truth: broadcast semi-join row count
    import org.apache.spark.sql.functions._
    val truth = graft.Tables.lineitem(spark, TestSpark.SfDir).join(
      graft.Tables.orders(spark, TestSpark.SfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi").count()
    assert(nTrue == truth, s"n_true=$nTrue != semi-join truth=$truth")
  }

  test("q253 repeat spans: overlapping, nested, self-overlapping and split repeats merge to maximal spans") {
    import spark.implicits._
    // L = 8. Hand-derived expectations:
    //  doc 1 shares the 10-token run a..j with doc 2 → three consecutive
    //    duplicated 8-gram starts (1,2,3) merge to span [1,10];
    //  doc 2's copy is offset by one → starts (2,3,4) → span [2,11];
    //  doc 3 is "p"×9: its single 8-gram occurs at starts 1 AND 2 (a
    //    SELF-overlap) → span [1,9];
    //  doc 4 repeats doc 1's head (start 1) and doc 3's p-run (start 15)
    //    with unique filler between → TWO islands [1,8] and [15,22];
    //  doc 5 is 8 unique tokens → no duplicated gram, no rows.
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "x a b c d e f g h i j y"),
      (3L, "p p p p p p p p p"),
      (4L, "a b c d e f g h z1 z2 z3 z4 z5 z6 p p p p p p p p q"),
      (5L, "u1 u2 u3 u4 u5 u6 u7 u8")).toDF("doc_id", "text")
    val out = graft.analytics.PipelineQueries.maximalRepeatSpansOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 10L, 10L),
      (2L, 2L, 11L, 10L),
      (3L, 1L, 9L, 9L),
      (4L, 1L, 8L, 8L),
      (4L, 15L, 22L, 8L)), out.toSeq.toString)
  }

  test("q257 DSIR selection: matches a sequential reference replica and prefers target-like candidates") {
    import spark.implicits._
    import graft.analytics.PipelineQueries.{DsirBuckets => B, DsirQuotaDiv, DsirTargetLang}
    def h(s: String): Long = graft.functions.Md5Hash.h60(s.getBytes) % B
    def bkts(text: String): Seq[Long] =
      text.split(" ").toSeq.sliding(2).collect {
        case Seq(x, y) => ((h(x) * 31 + h(y)) % B)
      }.toSeq
    // Target vocabulary {a,b,c}; 5 target-like candidates (lang aa) and
    // 5 disjoint-vocab candidates (lang bb). kq = 10 div 5 = 2, and the
    // two top scores must both be target-like.
    val docs = Seq(
      (1L, DsirTargetLang, "a b c a b c a b"),
      (2L, DsirTargetLang, "b c a b c a"),
      (10L, "aa", "a b c a b"), (11L, "aa", "b c a b"), (12L, "aa", "c a b c"),
      (13L, "aa", "a b c"), (14L, "aa", "b c a"),
      (20L, "bb", "z w v z w"), (21L, "bb", "w v z w"), (22L, "bb", "v z w v"),
      (23L, "bb", "z w v"), (24L, "bb", "w v z")).toDF("doc_id", "lang", "text")
    // Sequential replica on plain collections — independent of every
    // Spark code path under test.
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pCnt = rows.filter(_._2 == DsirTargetLang).flatMap(r => bkts(r._3))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val candRows = rows.filter(_._2 != DsirTargetLang)
    val qCnt = candRows.flatMap(r => bkts(r._3))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val (pTot, qTot) = (pCnt.values.sum, qCnt.values.sum)
    val scores = candRows.map { case (id, lang, text) =>
      val cs = bkts(text).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val num = cs.map { case (b, c) =>
        c * (((pCnt.getOrElse(b, 0L) + 1) * (qTot + B) * 1000L) /
          ((qCnt(b) + 1) * (pTot + B)))
      }.sum
      (id, lang, num / cs.values.sum)
    }
    val kq = scores.length / DsirQuotaDiv.toInt
    val ranked = scores.sortBy { case (id, _, s) => (-s, id) }
    val selected = ranked.take(kq)
    assert(selected.forall(_._2 == "aa"),
      s"top-$kq must be target-like: ${ranked.mkString(", ")}")
    val expected = scores.groupBy(_._2).toSeq.sortBy(_._1).map { case (lang, ss) =>
      val sel = selected.filter(_._2 == lang)
      (lang, ss.length.toLong, sel.length.toLong,
        sel.length.toLong * 10000L / ss.length,
        ss.map(_._3).sum / ss.length,
        if (sel.isEmpty) 0L else sel.map(_._3).sum / sel.length)
    }
    val got = graft.analytics.PipelineQueries.dsirSelectionOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q258 CDC chunks: matches a sequential reference replica; boundaries are shift-invariant") {
    import spark.implicits._
    import graft.analytics.PipelineQueries.{CdcMod => M, CdcGate}
    def h(s: String): Long = graft.functions.Md5Hash.h60(s.getBytes) % M
    def chunksOf(text: String): Seq[String] = {
      val t = text.split(" ")
      val out = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      for (i <- t.indices) {
        val bd = i > 0 && ((h(t(i - 1)) * 31 + h(t(i))) % M % CdcGate == 0)
        if (bd && cur.nonEmpty) { out += cur.reverse; cur = Nil }
        cur = t(i) :: cur
      }
      if (cur.nonEmpty) out += cur.reverse
      out.map(_.mkString(" ")).toSeq
    }
    // A long pseudo-word stream with guaranteed repeats; B = A behind an
    // inserted prefix — downstream of the first resync boundary, every
    // chunk of A must reappear verbatim in B (the CDC property fixed-n
    // grams lack).
    val aTokens = (0 until 400).map(i => s"w${i % 23}").mkString(" ")
    val bTokens = "pfx1 pfx2 pfx3 " + aTokens
    val aChunks = chunksOf(aTokens)
    val bChunks = chunksOf(bTokens)
    assert(aChunks.length >= 3, s"planted doc must produce several chunks: $aChunks")
    val bSet = bChunks.groupBy(identity).map { case (k, v) => k -> v.length }
    val aTail = aChunks.drop(1)
    assert(aTail.groupBy(identity).forall { case (c, occ) =>
      bSet.getOrElse(c, 0) >= occ.length
    }, "every post-resync chunk of A must appear in B")
    val docs = Seq((1L, "en", aTokens), (2L, "en", bTokens),
      (3L, "xx", "solo tokens only once here")).toDF("doc_id", "lang", "text")
    val expected = Seq(("en", aChunks ++ bChunks), ("xx", chunksOf("solo tokens only once here")))
      .map { case (lang, cs) =>
        val byChunk = cs.groupBy(identity).map { case (_, v) => v.length.toLong }
        val n = cs.length.toLong
        (lang, n, byChunk.size.toLong, (n - byChunk.size) * 10000L / n,
          cs.map(c => c.split(" ").length.toLong).sum / n, byChunk.max)
      }
    val got = graft.analytics.PipelineQueries.cdcChunkDedupOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q259 split leakage: histogram combinatorics equal a brute-force all-pairs replica") {
    import spark.implicits._
    def toks(s: String) = s.split(" ").toSet
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)
    def split(text: String): String = {
      val b = ((graft.functions.Md5Hash.h31(text.getBytes) % 100) + 100) % 100
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    // A 9-doc identical group (tier-A combinatorics with n·(n−1)/2 and
    // cross terms), a near-identical tier-B pair family, and noise.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau upsilon"
    val texts =
      (0 until 9).map(_ => base) ++                       // identical group
      (0 until 4).map(i => base + s" extra$i") ++          // J = 20/21 ≥ 0.95 vs base and each other? (20/22 < 0.95 pairwise)
      Seq("totally different words here nothing shared at all with others")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }
      .toDF("doc_id", "lang", "text")
    // Brute-force replica on plain collections.
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(2)))
    val pairs = for {
      (ia, ta) <- rows; (ib, tb) <- rows
      if ia < ib && jac(toks(ta), toks(tb)) >= 0.95
    } yield {
      val (sa, sb) = (split(ta), split(tb))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }
    assert(pairs.nonEmpty, "planted corpus must contain near-dup pairs")
    val total = pairs.length.toLong
    val expected = pairs.groupBy(identity).toSeq
      .map { case ((a, b), ps) =>
        (a, b, ps.length.toLong, ps.length.toLong * 10000L / total, a != b)
      }.sortBy(t => (t._1, t._2))
    val got = graft.analytics.PipelineQueries.splitLeakageOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q260 leak quarantine: set-reachability equals a brute-force per-doc replica") {
    import spark.implicits._
    def toks(s: String) = s.split(" ").toSet
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)
    def split(text: String): String = {
      val b = ((graft.functions.Md5Hash.h31(text.getBytes) % 100) + 100) % 100
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau upsilon"
    val texts =
      (0 until 9).map(_ => base) ++
      (0 until 4).map(i => base + s" extra$i") ++
      Seq("totally different words here nothing shared at all with others")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }
      .toDF("doc_id", "lang", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = rows.filter(r => split(r._3) == "train")
    val eval = rows.filter(r => split(r._3) != "train")
    assert(train.nonEmpty && eval.nonEmpty, "planted corpus must straddle the split")
    val quarantined = train.filter { case (_, _, t) =>
      eval.exists { case (_, _, e) => jac(toks(t), toks(e)) >= 0.95 }
    }
    val expected = train.groupBy(_._2).toSeq.sortBy(_._1).map { case (lang, tr) =>
      val nq = quarantined.count(_._2 == lang).toLong
      (lang, tr.length.toLong, nq, nq * 10000L / tr.length)
    }
    val got = graft.analytics.PipelineQueries.leakQuarantineOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q261 classifier scores: map-only fold equals a per-token brute-force replica") {
    import spark.implicits._
    val data = Seq(
      (1L, "en", "wiki", "alpha beta gamma alpha"),
      (2L, "en", "wiki", "delta epsilon"),
      (3L, "en", "web", "alpha alpha alpha zeta"),
      (4L, "de", "web", "zeta eta theta iota kappa"),
      (5L, "fr", "web", "beta"),
      (6L, "fr", "web", "gamma delta beta alpha"))
    val docs = data.toDF("doc_id", "lang", "source", "text")
    val classes = graft.analytics.PipelineQueries.ClsClasses
    def scores(text: String): Seq[Long] =
      classes.indices.map { i =>
        text.split(" ").map { t =>
          ((graft.functions.Md5Hash.h60(t.getBytes) >> (15 * i)) & 32767L) % 2001L - 1000L
        }.sum
      }
    val per = data.map { case (_, _, src, text) =>
      val s = scores(text)
      val pred = classes(s.indexWhere(_ == s.max)) // first argmax == the CASE chain
      val sorted = s.sorted
      (src, pred, sorted(3) - sorted(2))
    }
    val expected = per.groupBy(p => (p._1, p._2)).toSeq.map { case ((src, pred), ps) =>
      val n = ps.size.toLong
      val tot = per.count(_._1 == src).toLong
      (src, pred, n, n * 10000L / tot, ps.map(_._3).sum / n)
    }.sortBy(t => (t._1, t._2))
    val got = graft.analytics.PipelineQueries.classifierScoresOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q262 locality layout: GlobalRank adjacency equals a serial-sort replica") {
    import spark.implicits._
    val data = Seq(
      (1L, "en", "a b c d"),
      (2L, "en", "x y z"),
      (3L, "en", "a b c e"),
      (4L, "en", "x y w"),
      (5L, "de", "p q r"),
      (6L, "de", "p q r s"),
      (7L, "fr", "solo only"))
    val docs = data.toDF("doc_id", "lang", "text")
    def toks(t: String) = t.split(" ").distinct.toSet
    def jacBp(a: Set[String], b: Set[String]): Long = {
      val ni = a.intersect(b).size.toLong
      ni * 10000L / (a.size + b.size - ni)
    }
    def minh(t: String): Long =
      t.split(" ").map(x => graft.functions.Md5Hash.h60(x.getBytes)).min
    val expected = data.groupBy(_._2).toSeq.map { case (lang, ds) =>
      val cl = ds.sortBy(d => (minh(d._3), d._1)).map(d => toks(d._3))
      val bl = ds.sortBy(_._1).map(d => toks(d._3))
      def meanBp(seq: Seq[Set[String]]): (Long, Long) = {
        val bps = seq.zip(seq.drop(1)).map { case (a, b) => jacBp(a, b) }
        if (bps.isEmpty) (0L, 0L) else (bps.size.toLong, bps.sum / bps.size)
      }
      val (np, cbp) = meanBp(cl)
      val (_, bbp) = meanBp(bl)
      (lang, ds.size.toLong, np, cbp, bbp, cbp - bbp)
    }.sortBy(_._1)
    val got = graft.analytics.PipelineQueries.localityLayoutOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
    // The planted near-dup pairs (1,3) and (5,6) must cluster adjacent
    // under the minhash order: the en/de clustered means beat doc_id order.
    val gain = got.map(g => g._1 -> g._6).toMap
    assert(gain("de") >= 0L && got.map(_._6).exists(_ > 0L),
      s"clustering should improve at least one lang's adjacency: $got")
  }

  test("q263 stratified quota: global-rank offsets equal a per-stratum serial replica") {
    import spark.implicits._
    // en: 9 docs (quota 1), de: 16 (quota 2), fr: 3 (quota 0 — the
    // below-divisor stratum must emit zero witnesses, not null).
    val data =
      (1 to 9).map(i => (i.toLong, "en", s"alpha beta tok$i")) ++
      (10 to 25).map(i => (i.toLong, "de", s"gamma tok$i extra pad")) ++
      (26 to 28).map(i => (i.toLong, "fr", s"only tok$i"))
    val docs = data.toDF("doc_id", "lang", "text")
    def h31(t: String) = graft.functions.Md5Hash.h31(t.getBytes)
    val div = graft.analytics.PipelineQueries.StratQuotaDiv
    val expected = data.groupBy(_._2).toSeq.map { case (lang, ds) =>
      val q = ds.size.toLong / div
      val sel = ds.sortBy(d => (h31(d._3), d._1)).take(q.toInt)
      (lang, ds.size.toLong, q,
        sel.map(_._3.split(" ").length.toLong).sum,
        sel.map(d => h31(d._3)).sum)
    }.sortBy(_._1)
    val got = graft.analytics.PipelineQueries.exactStratifiedQuotaOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q264 score store: digest sync re-scores ONLY the edited partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TestSpark.withTempDir("graft_q264_spec") { work =>
      val corpus = s"$work/corpus"
      val docs = Seq(
        (0L, "s0", "alpha beta gamma"),
        (1L, "s0", "delta epsilon"),
        (2L, "s1", "zeta eta"),
        (3L, "s1", "theta iota kappa"),
        (4L, "s0", "mu nu"),
        (5L, "s1", "xi omicron pi"))
        .toDF("doc_id", "source", "text")
        .withColumn("part_id", pmod(col("doc_id"), lit(3L)))
      docs.write.partitionBy("part_id").parquet(corpus)
      val score = (slice: org.apache.spark.sql.DataFrame) =>
        graft.analytics.PipelineQueries.classifierDocScores(slice)
          .select(col("doc_id"), col("pred_class"), col("margin"))
      graft.operators.ScoreStore.sync(spark, corpus, score)
      def files(p: String) = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).filter(_.isFile)
          .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
          .sortBy(_._1).toSeq
      }
      val part0Before = files(s"$corpus/_scores/part_id=0")
      val part1Before = files(s"$corpus/_scores/part_id=1")
      Thread.sleep(1100) // local-fs mtime can be second-granular
      // Out-of-band edit of corpus partition 1 (derived from the source
      // frame — the overwrite never reads its own target).
      docs.filter(col("part_id") === 1L)
        .withColumn("text", concat(col("text"), lit(" edited")))
        .drop("part_id").write.mode("overwrite").parquet(s"$corpus/part_id=1")
      graft.operators.ScoreStore.sync(spark, corpus, score)
      assert(files(s"$corpus/_scores/part_id=0") == part0Before,
        "untouched partition must not re-score")
      assert(files(s"$corpus/_scores/part_id=1") != part1Before,
        "edited partition must re-score")
      // No-op sync: digests match the state — nothing rewritten.
      val part1After = files(s"$corpus/_scores/part_id=1")
      graft.operators.ScoreStore.sync(spark, corpus, score)
      assert(files(s"$corpus/_scores/part_id=1") == part1After,
        "a no-diff sync must not rewrite the store")
      // Store contents == a fresh full score of the FINAL corpus state.
      val expected = graft.analytics.PipelineQueries.classifierDocScores(
          docs.withColumn("text",
            when(col("part_id") === 1L, concat(col("text"), lit(" edited")))
              .otherwise(col("text"))))
        .select(col("doc_id"), col("pred_class"), col("margin"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val got = graft.operators.ScoreStore.read(spark, corpus)
        .select(col("doc_id"), col("pred_class"), col("margin"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == expected, s"got $got, expected $expected")
    }
  }

  test("score store sidecars: two materializations on one corpus stay independent") {
    // Round-12 (q317 four-store DAG enabler): ScoreStore's sidecar
    // parameter mounts several digest-synced materializations on ONE
    // corpus — each with its own partition state, so a sync of one must
    // never touch, rewrite, or invalidate the other.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TestSpark.withTempDir("graft_sidecar_spec") { work =>
      val corpus = s"$work/corpus"
      val docs = Seq(
        (0L, "s0", "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"),
        (1L, "s0", "zeta eta theta iota kappa"),
        (2L, "s1", "mu nu xi omicron pi"))
        .toDF("doc_id", "source", "text")
        .withColumn("part_id", pmod(col("doc_id"), lit(2L)))
      docs.write.partitionBy("part_id").parquet(corpus)
      val score = (s: org.apache.spark.sql.DataFrame) =>
        graft.analytics.PipelineQueries.classifierDocScores(s)
          .select(col("doc_id"), col("pred_class"), col("margin"))
      graft.operators.ScoreStore.sync(spark, corpus, score)
      graft.operators.ScoreStore.sync(spark, corpus,
        graft.analytics.PipelineQueries.segmentPartials, sidecar = "_boiler")
      // Both sidecars committed, both readable, with independent payloads.
      assert(graft.operators.ScoreStore.read(spark, corpus).count() == 3L)
      val boiler = graft.operators.ScoreStore.read(spark, corpus, sidecar = "_boiler")
      assert(boiler.columns.toSet == Set("source", "segh", "n_inst", "n_docs", "part_id"))
      assert(boiler.count() > 0L)
      // Corpus reads never see either sidecar.
      assert(spark.read.parquet(corpus).count() == 3L)
      // An out-of-band edit re-syncs each store independently: syncing the
      // scores sidecar must leave the boiler sidecar's state STALE-aware —
      // its own next sync still sees (and re-signs) the edit.
      def files(p: String) = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).filter(_.isFile)
          .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
          .sortBy(_._1).toSeq
      }
      Thread.sleep(1100) // local-fs mtime can be second-granular
      docs.filter(col("part_id") === 1L)
        .withColumn("text", concat(col("text"), lit(" edited")))
        .drop("part_id").write.mode("overwrite").parquet(s"$corpus/part_id=1")
      val boilerBefore = files(s"$corpus/_boiler/part_id=1")
      graft.operators.ScoreStore.sync(spark, corpus, score) // scores only
      assert(files(s"$corpus/_boiler/part_id=1") == boilerBefore,
        "a scores sync must not touch the boiler sidecar")
      graft.operators.ScoreStore.sync(spark, corpus,
        graft.analytics.PipelineQueries.segmentPartials, sidecar = "_boiler")
      assert(files(s"$corpus/_boiler/part_id=1") != boilerBefore,
        "the boiler sidecar's own sync must still see the edit")
      // Non-underscore sidecar names are rejected (corpus reads would see them).
      intercept[IllegalArgumentException] {
        graft.operators.ScoreStore.sync(spark, corpus, score, sidecar = "scores")
      }
      // ...on BOTH ends of the API (round-12 advice #4): without the read
      // guard, read(spark, corpus, "scores") silently read corpus DATA
      // files as if they were a store.
      intercept[IllegalArgumentException] {
        graft.operators.ScoreStore.read(spark, corpus, sidecar = "scores")
      }
      ()
    }
  }

  test("q265 repeat allocation: greedy epoch competition equals a sequential replica") {
    import spark.implicits._
    // Three sources with separated quality so the strong source's 2nd and
    // 3rd epochs outrank the weak source's 1st; token masses differ so
    // the budget boundary lands mid-unit (partial allocation covered).
    val data = Seq(
      (1L, "hi", "a b c d e f g h"),          // 8 distinct / 8 -> 10000 bp
      (2L, "hi", "p q r s t u"),              // 10000 bp
      (3L, "mid", "a a b b c c"),             // 3/6 -> 5000 bp
      (4L, "mid", "x x y y"),                 // 5000 bp
      (5L, "lo", "z z z z z z z z z z"),      // 1/10 -> 1000 bp
      (6L, "lo", "w w w w"))                  // 1/4 -> 2500 bp
    val docs = data.map { case (id, src, t) => (id, src, t) }
      .toDF("doc_id", "source", "text")
    val decay = graft.analytics.PipelineQueries.RepeatDecayMilli
    val den = graft.analytics.PipelineQueries.RepeatBudgetDen
    val srcStats = data.groupBy(_._2).map { case (src, ds) =>
      val toks = ds.map(_._3.split(" ").length.toLong).sum
      val q = ds.map { d =>
        val t = d._3.split(" "); t.distinct.length.toLong * 10000L / t.length
      }.sum / ds.size
      (src, toks, q)
    }.toSeq
    val total = srcStats.map(_._2).sum
    val budget = total / den
    val units = (for {
      (src, toks, q) <- srcStats
      (fac, i) <- decay.zipWithIndex
    } yield (src, toks, q, i + 1L, q * fac / 1000L))
      .sortBy { case (src, _, _, r, util) => (-util, src, r) }
    var remaining = budget
    val allocBySrc = scala.collection.mutable.Map.empty[String, Long]
    units.foreach { case (src, toks, _, _, _) =>
      val a = math.max(0L, math.min(toks, remaining))
      remaining -= toks // window semantics: cum_before grows by FULL unit size
      allocBySrc(src) = allocBySrc.getOrElse(src, 0L) + a
    }
    val expected = srcStats.map { case (src, toks, q) =>
      val a = allocBySrc(src)
      (src, q, toks, a, a * 100L / toks)
    }.sortBy(_._1)
    val got = graft.analytics.PipelineQueries.repeatAllocationOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
    // The diminishing-returns economics must bite: the hi source gets >1
    // epoch, the lo source is rationed below a full epoch of allocation.
    val epochs = got.map(g => g._1 -> g._5).toMap
    assert(epochs("hi") > 100L, s"strong source should repeat: $got")
    assert(epochs("lo") < epochs("hi"), s"weak source should be rationed: $got")
  }

  test("q266 behavior examples: lag-window assembly equals a sequential per-user replica") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: 5 events -> 2 examples (the 4th and 5th events have a full
    // 3-lag context); user 2: 3 events -> 0 examples (context short).
    val events = Seq(
      (1L, t(0), 1L, "view", 1.50),
      (2L, t(1), 1L, "view", 2.25),
      (3L, t(2), 1L, "cart", 0.75),
      (4L, t(3), 1L, "purchase", 10.00),
      (5L, t(4), 1L, "view", 1.00),
      (6L, t(0), 2L, "view", 3.00),
      (7L, t(1), 2L, "error", 0.10),
      (8L, t(2), 2L, "view", 0.20))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.analytics.PipelineQueries.behaviorExamplesOf(events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val expected = Seq(
      ("purchase", 1L, 1L, 1L, 1000L), // ctx "view view cart"
      ("view", 1L, 1L, 1L, 100L))      // ctx "view cart purchase"
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q267 streaming behavior card equals the batch q266 card at sf0.001") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val batch = rows(graft.analytics.PipelineQueries
      .behaviorExamples(spark, TestSpark.SfDir))
    val stream = rows(graft.analytics.PipelineQueries
      .streamBehaviorExamples(spark, TestSpark.SfDir))
    assert(batch.nonEmpty, "batch card must be non-empty")
    assert(stream == batch, s"stream=$stream batch=$batch")
  }

  test("q268 stratum quantiles: global-rank order statistics equal a per-source serial replica") {
    import spark.implicits._
    // Two sources with enough docs that deciles land on distinct ranks,
    // plus a tiny source exercising the max(1, ...) floor.
    val data =
      (1 to 25).map(i => (i.toLong, "sA", s"alpha tok$i beta gamma")) ++
      (26 to 40).map(i => (i.toLong, "sB", s"delta tok$i")) ++
      (41 to 43).map(i => (i.toLong, "sC", s"solo tok$i"))
    val docs = data.toDF("doc_id", "source", "text")
    // Brute per-doc margin replica (same bit-field weights as q261).
    val classes = graft.analytics.PipelineQueries.ClsClasses
    def margin(text: String): Long = {
      val s = classes.indices.map { i =>
        text.split(" ").map { t =>
          ((graft.functions.Md5Hash.h60(t.getBytes) >> (15 * i)) & 32767L) % 2001L - 1000L
        }.sum
      }.sorted
      s(3) - s(2)
    }
    val expected = data.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val sorted = ds.map(d => (margin(d._3), d._1)).sortBy(identity)
      val n = sorted.size.toLong
      (1 to 9).map { q =>
        val rk = math.max(1L, n * q / 10L)
        (src, q.toLong, sorted((rk - 1).toInt)._1)
      }
    }.sortBy(t => (t._1, t._2))
    val got = graft.analytics.PipelineQueries.stratumQuantilesOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q269 IPS policy eval: hash-argmax policy and weighted estimate equal a sequential replica") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val data = Seq(
      (1L, 1L, "view", 2.00), (2L, 1L, "click", 1.00), (3L, 1L, "view", 4.00),
      (4L, 2L, "click", 3.00), (5L, 2L, "buy", 10.00),
      (6L, 3L, "view", 0.50), (7L, 3L, "buy", 7.25), (8L, 3L, "click", 0.25))
    val events = data.map { case (e, u, a, v) => (e, ts0, u, a, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def h31(s: String) = graft.functions.Md5Hash.h31(s.getBytes)
    val actions = data.map(_._3).distinct.sorted
    val total = data.size.toLong
    val nLogged = data.groupBy(_._3).map { case (a, xs) => a -> xs.size.toLong }
    val propBp = nLogged.map { case (a, n) => a -> n * 10000L / total }
    def pi(u: Long): String =
      actions.map(a => ((h31(s"$u:$a"), a), a)).maxBy(_._1)._2
    val expected = actions.map { a =>
      val rows = data.filter(_._3 == a)
      val matched = rows.filter(r => pi(r._2) == a)
      val ips = matched.map(r => math.floor(r._4 * 100).toLong * 10000L / propBp(a)).sum
      (a, nLogged(a), propBp(a), matched.size.toLong, ips,
        rows.map(r => math.floor(r._4 * 100).toLong).sum)
    }
    val got = graft.analytics.PipelineQueries.ipsPolicyEvalOf(events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q270 segment boilerplate: planted recurring segment flags across sources, short docs emit nothing") {
    import spark.implicits._
    // "a b c d e" recurs in 4 docs (3 in s0, 1 in s1) => boilerplate at
    // MinDocs=3; every other segment is unique; the 2-token doc must
    // contribute zero segments on both engines.
    val docs = Seq(
      (0L, "s0", "a b c d e x1 x2 x3 x4 x5"),
      (1L, "s0", "a b c d e y1 y2 y3 y4 y5"),
      (2L, "s0", "a b c d e z1 z2 z3 z4 z5"),
      (3L, "s1", "a b c d e w1 w2 w3 w4 w5"),
      (4L, "s1", "p q")).toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.segmentBoilerplateOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("s0", 6L, 3L, 5000L, 1L),
      ("s1", 2L, 1L, 5000L, 1L)), s"got $got")
  }

  test("q271 winnowing: fingerprints and pair overlap equal a sequential replica") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"t$i")
    // d0/d1 share a 12-token run (positions differ — winnowing is
    // position-robust); d2 is disjoint.
    val docs = Seq(
      (0L, "s0", (base.take(12) ++ Seq("u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8")).mkString(" ")),
      (1L, "s0", (Seq("v1", "v2", "v3", "v4", "v5") ++ base.take(12) ++ Seq("v6", "v7", "v8")).mkString(" ")),
      (2L, "s1", (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "source", "text")
    val k = graft.analytics.PipelineQueries.WinnowGram
    val w = graft.analytics.PipelineQueries.WinnowWindow
    def fingerprints(text: String): Set[Long] = {
      val toks = text.split(" ")
      val ghs = toks.sliding(k).map(g =>
        graft.functions.Md5Hash.h60(g.mkString(" ").getBytes)).toVector
      (0 to ghs.size - w).map(p => ghs.slice(p, p + w).min).toSet
    }
    val fps = docs.collect().map(r => r.getLong(0) -> fingerprints(r.getString(2))).toMap
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      shared = (fps(a) intersect fps(b)).size.toLong if shared >= 2
    } yield (a, b, shared, fps(a).size.toLong, fps(b).size.toLong,
      shared * 10000L / math.min(fps(a).size, fps(b).size)))
      .toSeq.sortBy(t => (-t._3, t._1, t._2))
    assert(expected.nonEmpty, "planted clone pair must survive winnowing")
    val got = graft.analytics.PipelineQueries.winnowingPairsOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q272 calibration: two-labeler agreement by margin decile equals a sequential replica") {
    import spark.implicits._
    val classes = graft.analytics.PipelineQueries.ClsClasses
    val texts = Seq("alpha beta gamma", "delta epsilon", "zeta eta theta iota",
      "kappa", "lambda mu nu xi omicron", "pi rho sigma")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, "s0", t) }.toDF("doc_id", "source", "text")
    def lanes(text: String, mod: Long, rot: Int): Seq[Long] =
      classes.indices.map { i =>
        val lane = (i + rot) % classes.size
        text.split(" ").map { t =>
          ((graft.functions.Md5Hash.h60(t.getBytes) >> (15 * lane)) & 32767L) % mod - 1000L
        }.sum
      }
    // first-max semantics: lowest index among ties of the max (the
    // engine's when-chain resolves ties to the lowest class index).
    def firstMax(s: Seq[Long]): String = classes(s.indexOf(s.max))
    val perDoc = texts.zipWithIndex.map { case (t, i) =>
      val s = lanes(t, 2001L, 0)
      val alt = lanes(t, 1999L, 2)
      val sorted = s.sorted
      (i.toLong, firstMax(s), firstMax(alt), sorted(3) - sorted(2))
    }
    val n = perDoc.size.toLong
    val ranked = perDoc.sortBy(d => (d._4, d._1)).zipWithIndex
      .map { case ((_, p, l, m), idx) => (math.min(9L, idx.toLong * 10 / n), p, l, m) }
    val expected = ranked.groupBy(_._1).toSeq.sortBy(_._1).map { case (dec, xs) =>
      val agree = xs.count(x => x._2 == x._3).toLong
      (dec, xs.size.toLong, xs.map(_._4).sum / xs.size, agree,
        agree * 10000L / xs.size)
    }
    val got = graft.analytics.PipelineQueries.scoreCalibrationOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q273 context branching: deterministic and branching contexts count by hand") {
    import spark.implicits._
    val docs = Seq(
      (0L, "s0", "a b c a b c a b c"),   // "a b"->c x3 (deterministic), "b c"->a x2, "c a"->b x2
      (1L, "s1", "x y p x y q x y p"),   // "x y"->{p:2,q:1}, four 1-shot contexts
      (2L, "s2", "k l")                   // too short: no trigram
    ).toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.contextBranchingOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("s0", 3L, 7L, 1L, 3333L, 10000L),
      ("s1", 5L, 7L, 0L, 0L, (6666L + 4 * 10000L) / 5L)), s"got $got")
  }

  test("q274 Bradley-Terry: two MM rounds equal a sequential fixed-point replica") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // u1: A>B, A>C, B>C ; u2: A>B, C>A, C>B ; u3: B>A (and only A/B play)
    val data = Seq(
      (1L, 1L, "A", 5.00), (2L, 1L, "B", 3.00), (3L, 1L, "C", 1.00),
      (4L, 2L, "A", 2.00), (5L, 2L, "B", 1.00), (6L, 2L, "C", 4.00),
      (7L, 3L, "A", 1.00), (8L, 3L, "B", 2.00))
    val events = data.map { case (e, u, a, v) => (e, ts0, u, a, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val C = graft.analytics.PipelineQueries.BtScale
    // duels per unordered pair (x<y): (n, wins of x)
    val cents = data.groupBy(d => (d._2, d._3)).map { case (k, xs) =>
      k -> xs.map(r => math.floor(r._4 * 100).toLong).sum
    }
    val users = data.map(_._2).distinct
    val acts = data.map(_._3).distinct.sorted
    val half = (for {
      u <- users; i <- acts.indices; j <- (i + 1) until acts.size
      ca <- cents.get((u, acts(i))); cb <- cents.get((u, acts(j))) if ca != cb
    } yield ((acts(i), acts(j)), if (ca > cb) 1L else 0L))
      .groupBy(_._1).map { case (k, xs) => (k._1, k._2, xs.size.toLong, xs.map(_._2).sum) }
    val pairs = half.flatMap { case (x, y, n, w) => Seq((x, y, n, w), (y, x, n, n - w)) }.toSeq
    val wins = pairs.groupBy(_._1).map { case (x, xs) => x -> xs.map(_._4).sum }
    val games = pairs.groupBy(_._1).map { case (x, xs) => x -> xs.map(_._3).sum }
    def round(s: Map[String, Long]): Map[String, Long] = {
      val denom = pairs.groupBy(_._1).map { case (x, xs) =>
        x -> xs.map { case (_, y, n, _) => n * C / (s(x) + s(y)) }.sum
      }
      val raw = denom.map { case (x, d) => x -> wins(x) * C / d }
      val tot = raw.values.sum
      raw.map { case (x, r) => x -> math.max(1L, r * raw.size * 10000L / tot) }
    }
    val s1 = round(acts.map(_ -> 10000L).toMap)
    val s2 = round(s1)
    val expected = acts.map(x => (x, games(x), wins(x), s1(x), s2(x)))
    val got = graft.analytics.PipelineQueries.bradleyTerryOf(events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
    // sanity on the planted pattern: strength must move away from uniform
    assert(s2.values.toSet.size > 1, "planted duels must separate the actions")
  }

  test("q275 length bias: per-source Spearman rho equals a sequential ranked replica") {
    import spark.implicits._
    val texts = Seq(
      (0L, "s0", "alpha beta gamma delta", 40L), (1L, "s0", "epsilon zeta", 12L),
      (2L, "s0", "eta theta iota", 77L), (3L, "s0", "kappa", 5L),
      (4L, "s1", "lambda mu", 20L), (5L, "s1", "nu xi omicron pi", 31L),
      (6L, "s1", "rho sigma tau", 8L))
    val docs = texts.toDF("doc_id", "source", "text", "n_chars")
    def margin(text: String): Long = {
      val s = (0 until 4).map { i =>
        text.split(" ").map { t =>
          ((graft.functions.Md5Hash.h60(t.getBytes) >> (15 * i)) & 32767L) % 2001L - 1000L
        }.sum
      }.sorted
      s(3) - s(2)
    }
    val expected = texts.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, ds) =>
      val rm = ds.sortBy(d => (margin(d._3), d._1)).zipWithIndex
        .map { case (d, i) => d._1 -> (i + 1L) }.toMap
      val rl = ds.sortBy(d => (d._4, d._1)).zipWithIndex
        .map { case (d, i) => d._1 -> (i + 1L) }.toMap
      val sd2 = ds.map(d => { val x = rm(d._1) - rl(d._1); x * x }).sum
      val n = ds.size.toLong
      (src, n, sd2, 10000L - 60000L * sd2 / (n * n * n - n))
    }
    val got = graft.analytics.PipelineQueries.lengthBiasOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q276 JL distortion: histogram equals a sequential left-fold replica") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // ids cover the sample selector (%50==0), the panel selector
    // (%97==1), and bystanders that must not pair at all.
    val ids = Seq(0L, 1L, 50L, 98L, 100L, 7L)
    val vecs = ids.map(i => i -> Array.fill(64)(rnd.nextFloat() * 2f - 1f)).toMap
    val embs = ids.map(i => (i, vecs(i), 0)).toDF("vec_id", "embedding", "label")
    val k = graft.analytics.PipelineQueries.JlDims
    val planes = graft.similarity.Ann.hyperplanes(
      1, k, 64, graft.analytics.PipelineQueries.JlSeed)(0)
    def dot(a: Array[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }; acc
    }
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }; acc
    }
    val sampleIds = ids.filter(_ % 50 == 0).sorted
    val panelIds = ids.filter(_ % 97 == 1).sorted.take(100)
    val dists = for {
      a <- sampleIds; b <- panelIds if a != b
      xa = vecs(a); xb = vecs(b)
      dx2 = dotF(xa, xa) + dotF(xb, xb) - 2.0 * dotF(xa, xb) if dx2 > 0
    } yield {
      val ya = planes.map(p => dot(xa, p))
      val yb = planes.map(p => dot(xb, p))
      var dy2 = 0.0; var j = 0
      while (j < k) { dy2 += (ya(j) - yb(j)) * (ya(j) - yb(j)); j += 1 }
      math.floor(dy2 * 10000.0 / (k.toDouble * dx2)).toLong
    }
    val expected = dists.groupBy(d => math.min(39L, d / 1000L)).toSeq.sortBy(_._1)
      .map { case (bkt, xs) => (bkt, xs.size.toLong, xs.min, xs.max) }
    assert(expected.nonEmpty, "planted ids must produce at least one pair")
    val got = graft.analytics.PipelineQueries.jlDistortionOf(embs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q277 boiler store: partial-merge card equals the direct q270 card; ingest sync touches only the new partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TestSpark.withTempDir("graft_q277_spec") { work =>
      val corpus = s"$work/corpus"
      val base = Seq(
        (0L, "s0", "a b c d e x1 x2 x3 x4 x5"),
        (1L, "s0", "a b c d e y1 y2 y3 y4 y5"),
        (2L, "s1", "a b c d e z1 z2 z3 z4 z5"),
        (3L, "s1", "q r s t u v w x y z"))
      val docs = base.toDF("doc_id", "source", "text")
        .withColumn("part_id", pmod(col("doc_id"), lit(3L)))
      docs.write.partitionBy("part_id").parquet(corpus)
      val partials = (slice: org.apache.spark.sql.DataFrame) =>
        graft.analytics.PipelineQueries.docSegments(slice)
          .groupBy(col("source"), col("segh"))
          .agg(count(lit(1)).as("n_inst"), countDistinct(col("doc_id")).as("n_docs"))
      graft.operators.ScoreStore.sync(spark, corpus, partials)
      val fs = new org.apache.hadoop.fs.Path(corpus)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def mtimes(): Map[String, Long] = (0 to 2).flatMap { p =>
        val d = new org.apache.hadoop.fs.Path(s"$corpus/_scores/part_id=$p")
        fs.listStatus(d).map(s => s.getPath.toString -> s.getModificationTime)
      }.toMap
      val before = mtimes()
      // Ingest batch: a new partition whose docs share a banner segment
      // with each other AND the seed's recurring segment.
      val batch = Seq(
        (100L, "s0", "a b c d e b1 b2 b3 b4 b5"),
        (101L, "s1", "a b c d e b1 b2 b3 b4 b5"))
      batch.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$corpus/part_id=3")
      graft.operators.ScoreStore.sync(spark, corpus, partials)
      assert(mtimes() == before,
        "committed seed partials must be byte-stable across the ingest sync")
      val got = graft.analytics.PipelineQueries
        .boilerCardFromPartials(graft.operators.ScoreStore.read(spark, corpus))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val direct = graft.analytics.PipelineQueries
        .segmentBoilerplateOf((base ++ batch).toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got == direct, s"store card $got must equal direct card $direct")
      // the recurring "a b c d e" must actually be flagged (4 seed+batch docs)
      assert(got.exists(_._3 > 0), "planted boilerplate must surface in the card")
    }
  }

  test("q278 chunk reassembly: finds 5- and 7-token seams and replays the splitter") {
    import spark.implicits._
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val o7 = toks("o", 7); val s5 = toks("s", 5)
    val docs = Seq(
      // true 7-token overlap (a shifted seam the fixed-width key misses)
      (1L, "s0", (toks("a", 10) ++ o7).mkString(" ")),
      (2L, "s0", (o7 ++ toks("b", 10)).mkString(" ")),
      // true 5-token overlap
      (4L, "s1", (toks("c", 10) ++ s5).mkString(" ")),
      (5L, "s1", (s5 ++ toks("d", 10)).mkString(" ")),
      // bystander
      (6L, "s1", toks("e", 12).mkString(" ")),
      // splitter-replay victim: doc_id % 11 == 0, 20 tokens
      (0L, "s2", toks("t", 20).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.chunkReassemblyOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 7L, 27L),
      (4L, 5L, 5L, 25L),
      // 15-token chunk1 + 10-token chunk2 − 5 seam = the original 20
      (2000000L, 2000001L, 5L, 20L)), s"got $got")
  }

  test("q279 span corruption: mask schedule and island count equal a sequential replica") {
    import spark.implicits._
    val docs = Seq(
      (0L, "s0", (1 to 80).map(i => s"w$i").mkString(" ")),
      (1L, "s0", (1 to 40).map(i => s"v$i").mkString(" ")),
      (2L, "s1", (1 to 60).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val every = graft.analytics.PipelineQueries.SpanEvery
    val maxLen = graft.analytics.PipelineQueries.SpanMaxLen
    def replica(docId: Long, n: Int): (Long, Long) = { // (masked, spans)
      val covered = scala.collection.mutable.SortedSet.empty[Long]
      for (i <- 1 to n) {
        val h = graft.functions.Md5Hash.h31(s"$docId:$i".getBytes)
        if (h % every == 0) {
          val len = 1 + ((h >> 5) % maxLen)
          (i.toLong to math.min(n.toLong, i + len - 1)).foreach(covered += _)
        }
      }
      val spans = covered.toSeq.foldLeft((0L, -10L)) { case ((s, prev), p) =>
        (if (p - prev > 1) s + 1 else s, p)
      }._1
      (covered.size.toLong, spans)
    }
    val lens = Map(0L -> 80, 1L -> 40, 2L -> 60)
    val reps = lens.map { case (id, n) => id -> replica(id, n) }
    assert(reps.values.exists(_._1 > 0), "planted docs must produce spans")
    val bySrc = Map("s0" -> Seq(0L, 1L), "s1" -> Seq(2L))
    val expected = bySrc.toSeq.sortBy(_._1).flatMap { case (src, ids) =>
      val masked = ids.filter(reps(_)._1 > 0)
      if (masked.isEmpty) None else Some {
        val nTok = ids.map(lens(_).toLong).sum
        val nMask = masked.map(reps(_)._1).sum
        val nSpan = masked.map(reps(_)._2).sum
        (src, ids.size.toLong, nTok, masked.size.toLong, nMask,
          nMask * 10000L / nTok, nSpan, nMask * 100L / nSpan,
          masked.map(reps(_)._2).max)
      }
    }
    val got = graft.analytics.PipelineQueries.spanCorruptionOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q280 template positions: stable header surfaces, floating repeat is rejected") {
    import spark.implicits._
    val h5 = "h1 h2 h3 h4 h5" // header at g=0 in all three docs
    val f5 = "f1 f2 f3 f4 f5" // floats: g=1, g=2, g=1 -> 6666 bp < 8000
    val docs = Seq(
      (0L, "s0", s"$h5 $f5 a1 a2 a3 a4 a5"),
      (1L, "s0", s"$h5 b1 b2 b3 b4 b5 $f5"),
      (2L, "s1", s"$h5 $f5 c1 c2 c3 c4 c5"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.templatePositionsOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val hKey = graft.functions.Md5Hash.h60(h5.getBytes)
    assert(got == Seq((hKey, 3L, 3L, 0L, 10000L)), s"got $got")
  }

  test("q281 label aggregation: majority, weights, and weighted re-vote equal a sequential replica") {
    import spark.implicits._
    val texts = Seq("alpha beta gamma", "delta epsilon zeta", "eta theta",
      "iota kappa lambda mu", "nu xi", "omicron pi rho")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, "s0", t) }
      .toDF("doc_id", "source", "text")
    val panel = graft.analytics.PipelineQueries.AggLabelers
    def votes(text: String): Seq[Int] = panel.map { case (mod, rot) =>
      val s = (0 until 4).map { c =>
        val lane = (c + rot) % 4
        text.split(" ").map { t =>
          ((graft.functions.Md5Hash.h60(t.getBytes) >> (15 * lane)) & 32767L) % mod - 1000L
        }.sum
      }
      s.indexOf(s.max)
    }
    val vs = texts.map(votes)
    val majs = vs.map { case Seq(l0, l1, l2) =>
      if (l0 == l1 || l0 == l2) l0 else if (l1 == l2) l1 else Seq(l0, l1, l2).min
    }
    val n = texts.size.toLong
    val w = (0 until 3).map(li => vs.indices.count(d => vs(d)(li) == majs(d)) * 10000L / n)
    val wvotes = vs.map { v =>
      val sc = (0 until 4).map(c => (0 until 3).map(li => if (v(li) == c) w(li) else 0L).sum)
      sc.indexOf(sc.max)
    }
    val flips = wvotes.zip(majs).count { case (a, b) => a != b }.toLong
    val expected = (0 until 3).map { li =>
      (li.toLong, w(li), vs.indices.count(d => vs(d)(li) == wvotes(d)) * 10000L / n, n, flips)
    }
    val got = graft.analytics.PipelineQueries.labelAggregationOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q283 borda fusion: card equals a sequential three-signal Borda replica") {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta", // long, diverse
      "alpha alpha alpha alpha alpha alpha",           // long, repetitive
      "iota kappa lambda",                             // short, diverse
      "mu mu nu",                                      // short, repetitive
      "xi omicron pi rho sigma",                       // mid
      "tau upsilon phi chi psi omega alef bet gimel dalet", // longest
      "he vav zayin",                                  // short
      "het tet yod yod")                               // short, one repeat
    val srcs = Seq("s0", "s1", "s0", "s1", "s0", "s1", "s0", "s1")
    val docs = texts.zip(srcs).zipWithIndex
      .map { case ((t, s), i) => (i.toLong, s, t) }.toDF("doc_id", "source", "text")
    // Sequential replica: signals, three serial ranks, fused rank, quota.
    val sigs = texts.zipWithIndex.map { case (t, i) =>
      val toks = t.split(" ").toSeq
      val lanes = (0 until 4).map { c =>
        toks.map(tok =>
          ((graft.functions.Md5Hash.h60(tok.getBytes) >> (15 * c)) & 32767L) %
            graft.analytics.PipelineQueries.ClsWeightMod - 1000L).sum
      }.sorted
      (i.toLong, toks.size.toLong, toks.distinct.size.toLong * 10000L / toks.size,
        lanes(3) - lanes(2))
    }
    def rankBy(key: ((Long, Long, Long, Long)) => Long): Map[Long, Long] =
      sigs.sortBy(s => (-key(s), s._1)).zipWithIndex
        .map { case (s, r) => s._1 -> (r + 1L) }.toMap
    val (rl, rd, rm) = (rankBy(_._2), rankBy(_._3), rankBy(_._4))
    val ranksum = sigs.map(s => s._1 -> (rl(s._1) + rd(s._1) + rm(s._1))).toMap
    val kq = texts.size / 4
    val sel = ranksum.toSeq.sortBy { case (id, rs) => (rs, id) }.take(kq).map(_._1).toSet
    val expected = Seq("s0", "s1").map { s =>
      val ids = srcs.zipWithIndex.filter(_._1 == s).map(_._2.toLong)
      val nSel = ids.count(sel)
      (s, ids.size.toLong, nSel.toLong, nSel * 10000L / ids.size,
        ids.map(ranksum).sum / ids.size,
        if (nSel == 0) 0L else ids.filter(sel).map(ranksum).sum / nSel)
    }
    val got = graft.analytics.PipelineQueries.bordaFusionOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q284 epoch schedule: positions, adjacency, displacement equal a sequential replica") {
    import spark.implicits._
    val n = 96
    val src = (0 until n).map(i => if (i % 3 == 0) "s0" else "s1")
    val docs = (0 until n).map(i => (i.toLong, src(i), s"tok$i"))
      .toDF("doc_id", "source", "text")
    val shardDocs = graft.analytics.PipelineQueries.EpochShardDocs
    val epochs = graft.analytics.PipelineQueries.EpochCount
    val shards = (0 until n).map(i => (src(i), i / shardDocs)).distinct
    def posOf(e: Int): Map[(String, Long), Long] =
      shards.sortBy { case (s, no) =>
        (graft.functions.Md5Hash.h31(s"$s:$no:$e".getBytes), s, no)
      }.zipWithIndex.map { case (k, p) => k -> (p + 1L) }.toMap
    val p0 = posOf(0)
    val expected = (0 until epochs).map { e =>
      val pos = posOf(e)
      val byPos = pos.toSeq.sortBy(_._2).map(_._1)
      val same = byPos.sliding(2).count { case Seq(a, b) => a._1 == b._1 }
      val disp = shards.map(k => math.abs(pos(k) - p0(k))).sum
      (e.toLong, shards.size.toLong, same * 10000L / (shards.size - 1),
        disp * 100L / shards.size)
    }
    val got = graft.analytics.PipelineQueries.epochScheduleOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
    // The shuffle must actually decorrelate: epochs 1+ displace from epoch 0.
    assert(expected.drop(1).forall(_._4 > 0L), s"epochs 1+ must move shards: $expected")
  }

  test("q284 memo hit: a second epochSchedule in the session runs no job and caches nothing") {
    val first = graft.analytics.PipelineQueries.epochSchedule(spark, TestSpark.SfDir).collect()
    val cached = spark.sparkContext.getPersistentRDDs.size
    val (again, jobs) = TestSpark.jobsStartedBy(
      graft.analytics.PipelineQueries.epochSchedule(spark, TestSpark.SfDir))
    assert(jobs == 0, s"memo-hit construction started $jobs Spark jobs")
    assert(spark.sparkContext.getPersistentRDDs.size == cached)
    assert(again.collect().toSeq == first.toSeq)
  }

  test("q285 normalization: variants collapse onto their originals; clean source untouched") {
    import spark.implicits._
    // ids 0 and 7 re-enter as uppercased double-spaced variants; id 3 is clean.
    val docs = Seq((0L, "s0", "a b"), (7L, "s0", "c d"), (3L, "s1", "e f"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.normalizationAuditOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    // s0: 4 rows (2 originals + 2 variants), both variants rewritten and
    // re-collapsed onto their originals: 14 raw chars -> 12, 4 distinct -> 2.
    assert(got == Seq(
      ("s0", 4L, 2L, 5000L, 1428L, 2L),
      ("s1", 1L, 0L, 0L, 0L, 0L)), s"got $got")
  }

  test("q286 pca power: planted rank-1 cloud converges to the (1,2) axis with full variance share") {
    import spark.implicits._
    val d = graft.similarity.Pq.Dim
    // Five points along direction (0.25, 0.5, 0...), t in -2..2: the scatter
    // matrix is exactly c*[[1,2],[2,4]] on dims (0,1); L-inf-normalized top
    // eigenvector is (5000, 10000, 0...) and it carries ALL the variance.
    val emb = Seq(-2, -1, 0, 1, 2).zipWithIndex.map { case (t, i) =>
      (i.toLong, Seq.tabulate(d)(k =>
        if (k == 0) 0.25f * t else if (k == 1) 0.5f * t else 0f))
    }.toDF("vec_id", "embedding")
    val got = graft.analytics.PipelineQueries.pcaPowerOf(emb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val expected = (0 until d).map(i =>
      (i.toLong, if (i == 0) 5000L else if (i == 1) 10000L else 0L, 10000L))
    assert(got == expected, s"got ${got.take(4)}..., expected ${expected.take(4)}...")
  }

  test("q286 gramSums: one-pass fold equals the brute pair sums, including the 128-bit spill") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = 3
    // Values chosen so pair products hit ~8.6e18: two adds overflow a Long
    // cell and exercise the BigInt spill path; negatives exercise the
    // signed overflow test in both directions.
    val rows = Seq(
      Array(2940000000L, -7L, 11L),
      Array(2940000000L, 13L, -5L),
      Array(-2940000000L, 2L, 3L),
      Array(-2940000000L, -2940000000L, 1L))
    val f = rows.map(a => Tuple1(a)).toDF("f").repartition(2, col("f"))
    val (m, s, n) = graft.analytics.PipelineQueries.gramSums(f, d)
    assert(n == 4L)
    for (i <- 0 until d) {
      assert(s(i) == rows.map(r => BigInt(r(i))).sum, s"dim sum $i")
      for (j <- 0 until d)
        assert(m(i)(j) == rows.map(r => BigInt(r(i)) * BigInt(r(j))).sum,
          s"pair sum ($i,$j)")
    }
    // The diagonal of dim 0 exceeds Long range — the spill actually fired.
    assert(m(0)(0) > BigInt(Long.MaxValue))
  }

  test("q287 decayed hitters: planted ages weight 256>>age; stale mass rounds to zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // latest hour is h=100. user 1: 3 events age 0; user 2: 5 events age 1;
    // user 3: 100 events age 9 (fully decayed); user 4: 2 events age 8.
    val rows = Seq.fill(3)((1L, 100L)) ++ Seq.fill(5)((2L, 99L)) ++
      Seq.fill(100)((3L, 91L)) ++ Seq.fill(2)((4L, 92L))
    val events = rows.toDF("user_id", "h")
      .withColumn("ts", timestamp_seconds(col("h") * 3600L))
    val got = graft.analytics.PipelineQueries.decayedHittersOf(events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, 768L, 3L, 1L), (2L, 640L, 5L, 1L),
      (4L, 2L, 2L, 1L), (3L, 0L, 100L, 1L)), s"got $got")
  }

  test("q288 LPT: planted source sizes land the textbook greedy assignment") {
    import spark.implicits._
    // token masses 10,7,5,3,2 over 4 workers: 10|7|5|3+2 — makespan 10 = LB.
    val docs = Seq(("s_a", 10), ("s_b", 7), ("s_c", 5), ("s_d", 3), ("s_e", 2))
      .zipWithIndex.map { case ((s, n), i) =>
        (i.toLong, s, (1 to n).map(j => s"t$j").mkString(" "))
      }.toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.lptMakespanOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      (1L, 1L, 10L, 3703L, 10000L), (2L, 1L, 7L, 2592L, 10000L),
      (3L, 1L, 5L, 1851L, 10000L), (4L, 2L, 5L, 1851L, 10000L)), s"got $got")
  }

  test("q289 bitext: mutual pairs and ratio margins equal a sequential replica") {
    import spark.implicits._
    val d = graft.similarity.Pq.Dim
    def v(x: Double, y: Double): Seq[Float] =
      Seq.tabulate(d)(k => if (k == 0) x.toFloat else if (k == 1) y.toFloat else 0f)
    val rows = Seq(
      (1L, v(1, 0)), (11L, v(0.6, 0.8)), (21L, v(0, 1)),
      (2L, v(0.9, 0.1)), (3L, v(0.5, 0.9)), (4L, v(-1, 0)), (12L, v(0.1, 1.0)))
    val emb = rows.toDF("vec_id", "embedding")
    val srcS = rows.filter(_._1 % 10 == 1)
    val tgtS = rows.filter(_._1 % 10 != 1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble
        nb += y.toDouble * y.toDouble
      }
      dot / math.sqrt(na * nb)
    }
    def topk(q: (Long, Seq[Float]), corpus: Seq[(Long, Seq[Float])]): Seq[(Long, Double)] =
      corpus.filter(_._1 != q._1).map { case (id, vv) => (id, cos(q._2, vv)) }
        .sortBy { case (id, c) => (-c, id) }.take(graft.analytics.PipelineQueries.BitextK)
    val fwd = srcS.map(s => s._1 -> topk(s, tgtS)).toMap
    val candIds = fwd.values.map(_.head._1).toSet
    val rev = tgtS.filter(t => candIds(t._1)).map(t => t._1 -> topk(t, srcS)).toMap
    val expected = fwd.toSeq.flatMap { case (sid, nbrs) =>
      val (tid, c) = nbrs.head
      rev.get(tid).filter(_.head._1 == sid).map { rn =>
        val denF = nbrs.foldLeft(0.0)(_ + _._2) / nbrs.size
        val denR = rn.foldLeft(0.0)(_ + _._2) / rn.size
        val margin = c * 2 / (denF + denR)
        (sid, tid, c, margin, margin >= graft.analytics.PipelineQueries.BitextMargin)
      }
    }.sortBy(_._1)
    val got = graft.analytics.PipelineQueries.bitextMiningOf(
        emb.filter($"vec_id" % 10 === 1), emb.filter($"vec_id" % 10 =!= 1))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
    assert(got.size == 3, s"all three planted pairs are mutual: $got")
  }

  test("q290 cluster-safe split: dup family moves as one unit; content rule's leak is counted") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    // d0 ("val" under the content rule, h31%100 = 90) and d1 (same token SET,
    // "train" at 17) are near-dups that the content split separates — one
    // leaked pair. Cluster rule hashes rep=0 ("train" at 68) for both; the
    // singleton d2 hashes rep=2 ("train" at 57). All three land in train.
    val docs = Seq((0L, base), (1L, s"$base w1"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val clusters = graft.dedup.Dedup.nearDupClusters(docs, "doc_id", "text")
    val got = graft.analytics.PipelineQueries.clusterSafeSplitOf(docs, clusters)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(("train", 3L, 10000L, 2L, 1L, 0L)), s"got $got")
  }

  test("q291 interleave: 4:2 planted sources land the hand-computed a,b,a,a,b,a order and deviations") {
    import spark.implicits._
    // a has 4 docs, b has 2, N=6: slot keys 0.75/2.25/3.75/5.25M (a) and
    // 1.5/4.5M (b) give order a,b,a,a,b,a at positions 1..6 -> deciles
    // 0,1,3,5,6,8; the decile-checkpoint deviations peak at d0 (only an
    // 'a' has arrived: a sits at 10000 vs 6666, b at 0 vs 3333).
    val docs = (1 to 4).map(i => (i.toLong, "a")) ++ Seq((5L, "b"), (6L, "b"))
    val got = graft.analytics.PipelineQueries.interleaveScheduleOf(
        docs.toDF("doc_id", "source"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(("a", 4L, 6666L, 3334L), ("b", 2L, 3333L, 3333L)), s"got $got")
  }

  test("q292 merkle diff: planted edit localizes to its leaf/group; probe count is hierarchical") {
    import spark.implicits._
    // ids 0,1 -> leaf 0; 64 -> leaf 1 (both group 0); 2048 -> leaf 32
    // (group 2). Only id 0 is %13==0, so exactly leaf 0 / group 0 / root
    // change. Tree probes: 1 root + 2 groups + 2 leaves under group 0 = 5;
    // a flat scan compares all 3 leaves.
    val docs = Seq((0L, "a b"), (1L, "c d"), (64L, "e f"), (2048L, "g h"))
      .toDF("doc_id", "text")
    val got = graft.analytics.PipelineQueries.merkleDiffOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("group", 2L, 1L, 5L, 3L),
      ("leaf", 3L, 1L, 5L, 3L),
      ("root", 1L, 1L, 5L, 3L)), s"got $got")
  }

  test("q293 stream trender: micro-batch partials merge to exactly the batch q287 card") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    TestSpark.withTempDir("graft_q293_spec") { work =>
      val rows = Seq.fill(3)((1L, 100L)) ++ Seq.fill(5)((2L, 99L)) ++
        Seq.fill(100)((3L, 91L)) ++ Seq.fill(2)((4L, 92L))
      val events = rows.zipWithIndex.map { case ((u, h), i) => (i.toLong, u, h) }
        .toDF("event_id", "user_id", "h")
        .withColumn("ts", timestamp_seconds(col("h") * 3600L))
        .select(col("event_id"), col("ts"), col("user_id"))
      events.write.parquet(s"$work/events.parquet")
      val got = graft.analytics.PipelineQueries.streamTrender(spark, work)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == Seq(
        (1L, 768L, 3L, 1L), (2L, 640L, 5L, 1L),
        (4L, 2L, 2L, 1L), (3L, 0L, 100L, 1L)), s"got $got")
    }
  }

  test("q294 FIM: cut points, modes, and shares equal a sequential replica") {
    import spark.implicits._
    val texts = Seq.tabulate(10)(i => (8 + i * 3, i)).map { case (n, i) =>
      (i.toLong, s"s${i % 2}", (1 to n).map(j => s"t$j").mkString(" "))
    } :+ ((99L, "s0", "too short"))
    val docs = texts.toDF("doc_id", "source", "text")
    val elig = texts.filter(_._3.split(" ").length >= 8)
    val rows = elig.map { case (id, src, t) =>
      val n = t.split(" ").length.toLong
      val h = graft.functions.Md5Hash.h31(s"$id:fim".getBytes)
      val (a, b) = (h % n, (h >> 7) % n)
      (src, n, math.max(a, b) - math.min(a, b), (h >> 15) % 2)
    }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val (nd, mid, tok) = (g.size.toLong, g.map(_._3).sum, g.map(_._2).sum)
      (src, nd, g.count(_._3 > 0).toLong, mid * 10000L / tok, mid * 100L / nd,
        g.count(_._4 == 0).toLong * 10000L / nd)
    }
    val got = graft.analytics.PipelineQueries.fimAssemblyOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected, s"got $got, expected $expected")
  }

  test("q295 multi-probe LSH: card equals a sequential replica; two-probe dominates single") {
    import spark.implicits._
    val P = graft.analytics.PipelineQueries
    val d = graft.similarity.Pq.Dim
    val rnd = new scala.util.Random(5L)
    val vecs = (0 until 120).map(i => (i.toLong, Seq.fill(d)(rnd.nextFloat() - 0.5f)))
    TestSpark.withTempDir("graft_q295_spec") { work =>
      vecs.toDF("vec_id", "embedding").write.parquet(s"$work/embeddings.parquet")
      // Sequential replica over the same planes.
      val planes = graft.similarity.Ann.hyperplanes(P.MpTables, P.MpBits, d, P.MpSeed)
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.zip(b).foreach { case (x, y) =>
          dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble
          nb += y.toDouble * y.toDouble
        }
        dot / math.sqrt(na * nb)
      }
      def keyAndFlip(v: Seq[Float], t: Int): (Long, Long) = {
        var key = 0L; var bestA = Double.MaxValue; var bestB = 0
        for (b <- planes(t).indices) {
          val dot = planes(t)(b).zipWithIndex.map { case (p, j) => v(j) * p }.sum
          if (dot > 0) key |= (1L << b)
          if (math.abs(dot) < bestA) { bestA = math.abs(dot); bestB = b }
        }
        (key, key ^ (1L << bestB))
      }
      val sig = vecs.map { case (id, v) =>
        id -> (0 until P.MpTables).map(t => keyAndFlip(v, t))
      }.toMap
      val qs = vecs.filter(_._1 % 50 == 0)
      val truth = qs.map { case (qid, qv) =>
        qid -> vecs.filter(_._1 != qid)
          .map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      }.toMap
      def replicaCard(twoProbe: Boolean): (Long, Long, Long) = {
        val cand = qs.flatMap { case (qid, _) =>
          vecs.filter(_._1 != qid).collect { case (id, _) if (0 until P.MpTables).exists { t =>
            val qk = sig(qid)(t); val ck = sig(id)(t)._1
            ck == qk._1 || (twoProbe && ck == qk._2)
          } => (qid, id) }
        }
        val hits = cand.groupBy(_._1).toSeq.map { case (qid, ps) =>
          val qv = vecs(qid.toInt)._2
          val top = ps.map(_._2).distinct
            .map(id => (id, cos(qv, vecs(id.toInt)._2)))
            .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
          top.count(truth(qid))
        }.sum
        (cand.distinct.size.toLong, hits.toLong,
          hits.toLong * 10000L / (qs.size.toLong * 10L))
      }
      val (p1, h1, r1) = replicaCard(twoProbe = false)
      val (p2, h2, r2) = replicaCard(twoProbe = true)
      val got = P.multiProbeLsh(spark, work)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(got == Seq(
        ("single", qs.size.toLong, p1, h1, r1),
        ("two_probe", qs.size.toLong, p2, h2, r2)), s"got $got vs $p1/$h1/$r1 $p2/$h2/$r2")
      assert(p2 >= p1 && r2 >= r1, "two-probe must dominate single-probe")
    }
  }

  test("q296 KMV difference: planted audiences land the exact threshold-sample arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    TestSpark.withTempDir("graft_q296_spec") { work =>
      val usersA = (1L to 6L).toSeq
      val usersB = (4L to 9L).toSeq
      val rows = usersA.map(("a", _)) ++ usersB.map(("b", _))
      rows.zipWithIndex.map { case ((t, u), i) => (i.toLong, t, u, 100L) }
        .toDF("event_id", "event_type", "user_id", "h")
        .withColumn("ts", timestamp_seconds(col("h") * 3600L))
        .drop("h")
        .write.parquet(s"$work/events.parquet")
      val (p, c1, c2) = (2147483647L, 2654435761L, 1013904223L)
      def hv(u: Long) = ((u % p) * c1 + c2) % p
      val va = usersA.map(hv).distinct.sorted
      val vb = usersB.map(hv).distinct.sorted
      val uk = (va ++ vb).distinct.sorted
      val m = uk.size // 9 < k=128: sketches hold everything
      val estU = (m - 1).toLong * p / uk(m - 1)
      val dAb = uk.take(m).count(x => va.contains(x) && !vb.contains(x))
      val dBa = uk.take(m).count(x => vb.contains(x) && !va.contains(x))
      val (estAb, estBa) = (estU * dAb / m, estU * dBa / m)
      val exactU = 9L
      val expected = Seq(("a", "b", 3L, 3L, estAb, estBa,
        math.abs(estAb - 3L) * 10000L / exactU, math.abs(estBa - 3L) * 10000L / exactU))
      val got = graft.analytics.PipelineQueries.kmvDifference(spark, work)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toSeq
      assert(got == expected, s"got $got, expected $expected")
    }
  }

  test("q297 median binary quant: planted skewed dim balances under the median threshold") {
    import spark.implicits._
    val d = graft.similarity.Pq.Dim
    TestSpark.withTempDir("graft_q297_spec") { work =>
      // dim0 all-positive {0.25..1.25} (zero-threshold saturates: imb 5000;
      // median 0.75 rebalances: ones=2, imb 1000); dim1 centered {-0.5..0.5}
      // (both thresholds at 0: imb 1000); dims 2..63 constant zero (imb 5000
      // under both). Only vec 0 queries; its brute top-10 is all 4 others and
      // both candidate stages admit everything, so recall is 4000 bp on both
      // variants — the card isolates the imbalance delta.
      val vecs = (0 until 5).map { i =>
        (i.toLong, Seq.tabulate(d)(k =>
          if (k == 0) 0.25f * (i + 1) else if (k == 1) -0.5f + 0.25f * i else 0f))
      }
      vecs.toDF("vec_id", "embedding").write.parquet(s"$work/embeddings.parquet")
      val got = graft.analytics.PipelineQueries.medianBinaryQuant(spark, work)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      val imbZero = (5000L * 62 + 5000L + 1000L) / d
      val imbMed = (5000L * 62 + 1000L + 1000L) / d
      assert(got == Seq(
        ("median", 1L, 4L, 4000L, imbMed),
        ("zero", 1L, 4L, 4000L, imbZero)), s"got $got")
    }
  }

  test("q298 temporal split: planted timeline lands exact cutoffs and entity reuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // 10 events in time order: ranks 1..8 train, 9 val, 10 test.
    // Users: u1 spans train+val+test (reused twice), u2 train-only,
    // u3 appears first in val? no — u3 only in test (fresh).
    val rows = Seq(
      (1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 1L),
      (6L, 2L), (7L, 1L), (8L, 2L), // train: u1 x4, u2 x4
      (9L, 1L),                     // val:   u1 (reused)
      (10L, 3L))                    // test:  u3 (fresh)
    val events = rows.map { case (i, u) => (i, u, 1000L + i) }
      .toDF("event_id", "user_id", "secs")
      .withColumn("ts", timestamp_seconds(col("secs")))
    val got = graft.analytics.PipelineQueries.temporalSplitOf(events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("test", 1L, 1L, 0L, 0L),
      ("train", 8L, 2L, 0L, 0L),
      ("val", 1L, 1L, 1L, 10000L)), s"got $got")
  }

  test("q299 concat-chunk: planted lengths land exact offsets, crossings, and spans") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    // Block = 512. With +1 EOS per doc: doc0 len 511 (off 0, 1 block),
    // doc1 len 3 (off 511 — straddles the 512 boundary, 2 blocks),
    // doc2 len 513 (off 514 — blocks 1..2, 2 blocks), doc3 len 2
    // (off 1027, 1 block).
    val docs = Seq(
      (0L, "s0", words(510)), (1L, "s1", words(2)),
      (2L, "s0", words(512)), (3L, "s1", words(1)))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.concatChunkingOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      ("s0", 2L, 1024L, 1L, 5000L, 3L, 150L),
      ("s1", 2L, 5L, 1L, 5000L, 3L, 150L)), s"got $got")
  }

  test("q300 soft dedup: a 3-doc cluster weights to 1/3, singletons keep full mass") {
    import spark.implicits._
    // Docs 0, 1, 3 share a token set (one cluster of 3); doc 2 is alone.
    val docs = Seq(
      (0L, "s0", "a b c d e"), (1L, "s0", "a b c d e"),
      (2L, "s1", "x y z w v"), (3L, "s1", "a b c d e"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.softDedupWeightsOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    // 5 tokens/doc; weight 1/3 → 5*10000 div 3 = 16666 per clustered doc.
    assert(got == Seq(
      ("s0", 2L, 2L, 10L, 33332L, 3333L),
      ("s1", 2L, 1L, 10L, 66666L, 6666L)), s"got $got")
  }

  test("q301 preference pairs: reflected ranks pair best-with-worst; near-ties gate out") {
    import spark.implicits._
    // s1: margins 100/90/50/10/0 → pairs (100,0) gap 100 and (90,10) gap
    // 80, middle doc unpaired. s2: single pair gap 30 < 50 gates out.
    val scored = Seq(
      (1L, "s1", 100L), (2L, "s1", 90L), (3L, "s1", 50L),
      (4L, "s1", 10L), (5L, "s1", 0L),
      (6L, "s2", 60L), (7L, "s2", 30L))
      .toDF("doc_id", "source", "margin")
    val got = graft.analytics.PipelineQueries.preferencePairsOfScored(scored)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("s1", 5L, 2L, 180L, 90L, 8000L),
      ("s2", 2L, 0L, 0L, 0L, 0L)), s"got $got")
  }

  test("q302 loss mask: a shared 8-gram masks 8 tokens in each carrier; short docs stay clean") {
    import spark.implicits._
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, "s0", s"$rep a b c"),   // 11 tokens, span 1..8 masked
      (1L, "s1", s"x y $rep"),     // 10 tokens, span 3..10 masked
      (2L, "s0", "p q"))           // under the seed length — no explode
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.lossMaskCardOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("s0", 2L, 1L, 13L, 8L, 6153L),
      ("s1", 1L, 1L, 10L, 8L, 8000L)), s"got $got")
  }

  test("q303 source gini: [1,3] lands 2500bp, uniform masses land 0") {
    import spark.implicits._
    val docs = Seq(
      (0L, "s0", "a"), (1L, "s0", "a b c"),
      (2L, "s1", "a b"), (3L, "s1", "c d"), (4L, "s1", "e f"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.sourceGiniOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(("s0", 2L, 4L, 2500L), ("s1", 3L, 6L, 0L)), s"got $got")
  }

  test("q304 perplexity filter: seen bigrams score L(c1+B)-L(c2+1); unseen contexts hit the ceiling") {
    import spark.implicits._
    // Model = ALL en docs: 8 bigrams from doc 0 + 1 from doc 1 →
    // c2(a,a)=9, c1(a)=9. Every seen bigram scores
    // s = L(9+512) - L(9+1) = 2308 - 832 = 1476 (keep ≤ 1540);
    // doc 2's context is unseen: s = L(512) - L(1) = 2304 (cut).
    val docs = Seq(
      (0L, "s0", "en", "a a a a a a a a a"),
      (1L, "s0", "en", "a a"),
      (2L, "s1", "fr", "b a"))
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.analytics.PipelineQueries.perplexityFilterOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("s0", 2L, 1476L, 2L, 10000L),
      ("s1", 1L, 2304L, 0L, 0L)), s"got $got")
  }

  test("q305 token pmi: alternating pairs land PMI = L(10) - L(5) = 256 with t1-asc tie order") {
    import spark.implicits._
    // 11 alternating tokens → 5×(x,y), 5×(y,x); marginals all 5, N=10:
    // PMI = L(5) + L(10) - L(5) - L(5) = 832 - 576 = 256 for both pairs.
    val docs = Seq(
      (0L, "en", "x y x y x y x y x y x"),
      (1L, "fr", "p q p q p q p q p q p"))
      .toDF("doc_id", "lang", "text")
    val got = graft.analytics.PipelineQueries.tokenPmiOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("en", "x", "y", 5L, 256L, 1L), ("en", "y", "x", 5L, 256L, 2L),
      ("fr", "p", "q", 5L, 256L, 1L), ("fr", "q", "p", 5L, 256L, 2L)), s"got $got")
  }

  test("q306 datasheet: dup share, lang entropy, and Simpson land exact planted values") {
    import spark.implicits._
    // s0: en×3 (one exact dup pair), fr×1 → H = L(4) − (3·L(3))/4 =
    // 512 − 288 = 224; Simpson = 6·10⁴/12 = 5000; dup 1/4 = 2500bp.
    val docs = Seq(
      (0L, "s0", "en", "a b"), (1L, "s0", "en", "a b"),
      (2L, "s0", "fr", "c"), (3L, "s0", "en", "d e f"),
      (4L, "s1", "zh", "g h i j"))
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.analytics.PipelineQueries.sourceDatasheetOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      ("s0", 4L, 8L, 2500L, 2L, 224L, 5000L),
      ("s1", 1L, 4L, 0L, 1L, 0L, 0L)), s"got $got")
  }

  test("q307 ppl gate: in-model heads admit at 1225; unseen-context heads cut at 2304") {
    import spark.implicits._
    TestSpark.withTempDir("graft_q307_spec") { work =>
      // doc 0 (en, 20×'a') is the whole model: c2(a,a)=19, c1=19. Its head
      // replays seen bigrams: s = L(531) − L(20) = 2313 − 1088 = 1225
      // (admit ≤ 1540). doc 6 (fr, 14×'b') streams an unseen context:
      // s = L(512) − L(1) = 2304 (cut). doc 3 (fr — outside the model) has
      // id % 6 ≠ 0, so it never stages.
      val a20 = (1 to 20).map(_ => "a").mkString(" ")
      val b14 = (1 to 14).map(_ => "b").mkString(" ")
      Seq((0L, "s0", "en", a20), (3L, "s0", "fr", "c c c"),
        (6L, "s1", "fr", b14))
        .toDF("doc_id", "source", "lang", "text")
        .write.parquet(s"$work/documents.parquet")
      val got = graft.analytics.PipelineQueries.streamPerplexityGate(spark, work)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .toSeq
      assert(got == Seq(
        (3000000L, "s0", 11L, 13475L, 1225L, true),
        (3000006L, "s1", 11L, 25344L, 2304L, false)), s"got $got")
    }
  }

  test("q308 backoff: seen trigrams score the trigram term; unseen pay penalty + bigram") {
    import spark.implicits._
    // Model (en "a a a a"): c3(aaa)=2, c2c=2; bigram c2(a,a)=3, c1=3.
    // doc 0 trigrams hit: s = L(514) − L(3) = 2305 − 384 = 1921; its
    // bigram-only score is L(515) − L(4) = 2305 − 512 = 1793. doc 1 (fr)
    // misses everything: s = 338 + L(512) − L(1) = 2642, s2 = 2304.
    val docs = Seq(
      (0L, "s0", "en", "a a a a"),
      (1L, "s1", "fr", "b b b"))
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.analytics.PipelineQueries.backoffLmOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("s0", 1L, 10000L, 1921L, 1793L),
      ("s1", 1L, 0L, 2642L, 2304L)), s"got $got")
  }

  test("q309 markov: 6 floor-exact power rounds over a 2-type chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // u1: A B A B A → (A,B)×2, (B,A)×2; u2: B B → (B,B). Matrix rows:
    // A→B 2/2, B→{A:2, B:1}/3. Six floor-per-term rounds from 500000
    // land π(A)=408778, π(B)=591219 (hand-iterated).
    val ev = Seq(
      (1L, 1L, "A"), (2L, 1L, "B"), (3L, 1L, "A"), (4L, 1L, "B"), (5L, 1L, "A"),
      (6L, 2L, "B"), (7L, 2L, "B"))
      .map { case (i, u, t) => (i, u, t, 1000L + i) }
      .toDF("event_id", "user_id", "event_type", "secs")
      .withColumn("ts", timestamp_seconds(col("secs")))
    val got = graft.analytics.PipelineQueries.markovStationaryOf(ev)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(("A", 2L, 408778L), ("B", 3L, 591219L)), s"got $got")
  }

  test("q310 burstiness: a 3-1 burst lands Fano 11666; uniform traffic lands 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // Span hours 0..2. A: (h0: 3, h2: 1) → (3·10 − 16)·10⁴ // 12 = 11666.
    // B: one per hour → zero variance → 0.
    val ev = Seq(
      ("A", 0L), ("A", 0L), ("A", 0L), ("A", 2L),
      ("B", 0L), ("B", 1L), ("B", 2L))
      .zipWithIndex.map { case ((t, h), i) => (i.toLong, t, h * 3600L + 10L) }
      .toDF("event_id", "event_type", "secs")
      .withColumn("ts", timestamp_seconds(col("secs")))
    val got = graft.analytics.PipelineQueries.burstinessOf(ev)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("A", 4L, 2L, 3L, 11666L, 133L),
      ("B", 3L, 3L, 3L, 0L, 100L)), s"got $got")
  }

  test("q311 shuffle quality: source-ordered adjacency is 2/3 same; baseline is 5000bp") {
    import spark.implicits._
    val docs = Seq(
      (0L, "s0", "x"), (1L, "s0", "x"), (2L, "s1", "x"), (3L, "s1", "x"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.shuffleQualityOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    val naive = got.find(_._1 == "naive").get
    assert(naive == ("naive", 3L, 2L, 6666L, 5000L), s"got $got")
    // The shuffled order is hash-determined; pin its invariants rather
    // than the draw: 3 adjacent pairs, a valid share, the same baseline.
    val sh = got.find(_._1 == "shuffled").get
    assert(sh._2 == 3L && sh._3 <= 3L && sh._5 == 5000L, s"got $got")
  }

  test("q312 doremi mix: zero-excess anchors 256; a 383-excess source gets (256+127)<<1") {
    import spark.implicits._
    // Model (en "a a a"): c2=2, c1=2 → s0's avg = L(514) − L(3) = 1921
    // (the min). s1's unseen context scores 2304 → excess 383 →
    // w = (256 + 127) << 1 = 766; shares 256/1022 and 766/1022.
    val docs = Seq(
      (0L, "s0", "en", "a a a"),
      (1L, "s1", "fr", "b a"))
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.analytics.PipelineQueries.doremiMixOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("s0", 1921L, 0L, 256L, 2504L),
      ("s1", 2304L, 383L, 766L, 7495L)), s"got $got")
  }

  test("q313 ndcg: a fully-relevant top-2 lands 10000; a truthless query lands zeros") {
    import spark.implicits._
    // Query 1 has two exact twins (5, 7): both retrieved and relevant →
    // dcg = idcg = 10000 + 6666. Query 101 shares no token with anyone.
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta"),
      (7L, "alpha beta gamma delta"), (8L, "x y z w"),
      (101L, "p q r s t"))
      .toDF("doc_id", "text")
    val got = graft.analytics.PipelineQueries.irNdcgOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 16666L, 16666L, 10000L),
      (101L, 0L, 0L, 0L, 0L)), s"got $got")
  }

  test("q314 hyperball: on K3 every node sees the same ball, so max == avg and rounds saturate") {
    import spark.implicits._
    // Complete triangle: ball(v, t) = {a, b, c} for every v at every
    // t ≥ 1 — all three register vectors are computed from the SAME
    // 3-element set, so the estimate is identical across nodes
    // (max == avg) and constant across rounds (saturated at t = 1).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val got = graft.analytics.PipelineQueries.hyperBallOf(edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), s"got $got")
    got.foreach { case (t, n, avg, mx) =>
      assert(n == 3L, s"t=$t: node count drift")
      assert(avg == mx, s"t=$t: identical balls must estimate identically")
      assert(avg > 0L, s"t=$t: estimate must be positive")
    }
    assert(got.map(_._3).distinct.size == 1, s"saturated graph drifted across rounds: $got")
  }

  test("q315 bloom advisor: sizing and pow2 rounding are exact; occupancy bounded by k·n") {
    import spark.implicits._
    // s0: 1 distinct text → advised 95699//10⁴+1 = 10 bits → m2 = 16;
    // at most k = 7 bits set. s1: 2 distinct → advised 20 → m2 = 32;
    // at most 14 bits set.
    val docs = Seq(
      (0L, "s0", "alpha beta"), (1L, "s0", "alpha beta"),
      (2L, "s1", "gamma delta"), (3L, "s1", "epsilon zeta"))
      .toDF("doc_id", "source", "text")
    val got = graft.analytics.PipelineQueries.bloomAdvisorOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)) ==
      Seq(("s0", 1L, 10L, 16L), ("s1", 2L, 20L, 32L)), s"got $got")
    got.foreach { case (src, n, _, m2, occBp, fprBp) =>
      assert(occBp <= 7L * n * 10000L / m2, s"$src: occupancy exceeds k·n bits")
      assert(fprBp >= 0L && fprBp <= 10000L, s"$src: fpr out of range")
    }
  }

  test("q282 boiler gate: banner-carrying streamed docs reject at 3333bp, clean heads admit") {
    import spark.implicits._
    TestSpark.withTempDir("graft_q282_spec") { work =>
      def twenty(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
      // ids 0/7/14 feed the seed banner batch (banner df=3 => boilerplate);
      // ids 0/10/15 stream (0 and 10 with banner, 15 clean); 3 is a bystander.
      Seq(
        (0L, "s0", twenty("a")), (3L, "s0", twenty("b")), (7L, "s1", twenty("c")),
        (10L, "s1", twenty("d")), (14L, "s2", twenty("e")), (15L, "s2", twenty("f")))
        .toDF("doc_id", "source", "text")
        .write.parquet(s"$work/documents.parquet")
      val got = graft.analytics.PipelineQueries.streamBoilerGate(spark, work)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .toSeq
      assert(got == Seq(
        (3000000L, "s0", 3L, 1L, 3333L, false),
        (3000010L, "s1", 3L, 1L, 3333L, false),
        (3000015L, "s2", 3L, 0L, 0L, true)), s"got $got")
    }
  }

  test("q264 score store: a vanished corpus partition drops its score partition on sync") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TestSpark.withTempDir("graft_q264_gc_spec") { work =>
      val corpus = s"$work/corpus"
      val docs = Seq(
        (0L, "s0", "alpha beta"), (1L, "s0", "gamma delta"), (2L, "s1", "zeta eta"))
        .toDF("doc_id", "source", "text")
        .withColumn("part_id", pmod(col("doc_id"), lit(3L)))
      docs.write.partitionBy("part_id").parquet(corpus)
      val score = (slice: org.apache.spark.sql.DataFrame) =>
        graft.analytics.PipelineQueries.classifierDocScores(slice)
          .select(col("doc_id"), col("pred_class"), col("margin"))
      graft.operators.ScoreStore.sync(spark, corpus, score)
      val fs = new org.apache.hadoop.fs.Path(corpus)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$corpus/_scores/part_id=2")))
      // The retention/GDPR event: corpus partition 2 is deleted out-of-band.
      fs.delete(new org.apache.hadoop.fs.Path(s"$corpus/part_id=2"), true)
      graft.operators.ScoreStore.sync(spark, corpus, score)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$corpus/_scores/part_id=2")),
        "deletion must propagate into the derived score store")
      val got = graft.operators.ScoreStore.read(spark, corpus)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(0L, 1L), s"store must hold exactly the surviving docs: $got")
    }
  }

  test("q318 harmonic centrality: on K3 all nodes tie and the telescoping collapses to round 1") {
    import spark.implicits._
    // Complete triangle: every ball saturates at t = 1, so the t ≥ 2
    // deltas are zero and H(v) = |B(v,1)| − |B(v,0)| = e1 − 1000 for
    // every node; the top-k is all three nodes in id order.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val (stats, top, lin, close) = graft.analytics.PipelineQueries.hyperBallCoreOf(edges)
    assert(top.map(_._1) == Seq(1L, 2L, 3L), s"got $top")
    val e1 = top.head._2
    top.foreach { case (node, b1, bT, h) =>
      assert(b1 == e1 && bT == e1, s"node $node: saturated balls must match round 1")
      assert(h == e1 - 1000L, s"node $node: harmonic must telescope to e1 - 1000, got $h")
    }
    // q319 rides the same saturation: the distance sum collapses to the
    // round-1 delta (t ≥ 2 deltas are 0) and Lin's index is
    // e1² div (e1 − 1000) for every node — all three tied, id order.
    assert(lin.map(_._1) == Seq(1L, 2L, 3L), s"got $lin")
    lin.foreach { case (node, bT, ds, l) =>
      assert(bT == e1, s"node $node: ballT must match round 1")
      assert(ds == e1 - 1000L, s"node $node: distance sum must collapse to e1 - 1000, got $ds")
      assert(l == e1 * e1 / (e1 - 1000L), s"node $node: lin must be e1² div dist, got $l")
    }
    // q320 rides it too: closeness is the reciprocal of the same
    // collapsed distance sum, 10¹² div (e1 − 1000), all three tied.
    assert(close.map(_._1) == Seq(1L, 2L, 3L), s"got $close")
    close.foreach { case (node, bT, ds, c) =>
      assert(bT == e1 && ds == e1 - 1000L, s"node $node: same fold columns")
      assert(c == 1000000000000L / (e1 - 1000L),
        s"node $node: closeness must be 1e12 div dist, got $c")
    }
    // The per-round stats are the same ones q314 renders.
    assert(stats.map(_._2) == Seq(3L, 3L, 3L))
  }

  test("q316 distance card: exact interpolation on planted neighborhood sums") {
    // v = 4 nodes, N(0) = 4000 exact; planted cumulative estimates
    // N(1..3) = 8000/14000/16000 milli-pairs. τ=0.5 crosses exactly AT
    // N(1) → eff50 = 1.000 hops; τ=0.9 interpolates 1/5 into round 3
    // (144e6 target, 140e6 at t=2, Δ=20e6) → eff90 = 2.200 hops.
    val stats = Seq(
      (1L, 4L, BigInt(8000), 3000L),
      (2L, 4L, BigInt(14000), 4000L),
      (3L, 4L, BigInt(16000), 4000L))
    val got = graft.analytics.PipelineQueries.hyperBallDistanceOf(spark, stats)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      (1L, 4L, 8000L, 4000L, 5000L, 1000L, 2200L),
      (2L, 4L, 14000L, 6000L, 8750L, 1000L, 2200L),
      (3L, 4L, 16000L, 2000L, 10000L, 1000L, 2200L)), s"got $got")
  }

  test("q316 degenerate: a target at or below N(0) reads effective diameter 0") {
    // N(T) = 4400: τ=0.5 target 22e6 ≤ N(0)·10⁴ = 40e6 → eff50 = 0;
    // τ=0.9 target 39.6e6 ≤ 40e6 → eff90 = 0 too (everything is within
    // distance 0 at the τ mass — an (almost) edgeless graph).
    val stats = Seq((1L, 4L, BigInt(4400), 1100L))
    val got = graft.analytics.PipelineQueries.hyperBallDistanceOf(spark, stats)
      .collect().map(r => (r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq((0L, 0L)), s"got $got")
  }

  test("q316 overflow guard: a pair sum past BIGINT fails loudly, never wraps") {
    // Round-11 advice #2: the sums ride BigInt precisely because they
    // pass BIGINT at web scale, and the oracle's CAST(HUGEINT AS BIGINT)
    // raises there — Scala's toLong used to wrap silently instead. The
    // card must now fail the same way DuckDB does.
    val stats = Seq((1L, 4L, BigInt(Long.MaxValue) + 1, 1100L))
    val e = intercept[IllegalArgumentException] {
      graft.analytics.PipelineQueries.hyperBallDistanceOf(spark, stats).collect()
    }
    assert(e.getMessage.contains("overflows BIGINT"), s"got ${e.getMessage}")
  }

  test("q317 curation DAG: measured incremental costs and the store-content audit") {
    val got = graft.analytics.PipelineQueries
      .curationDagAudit(spark, TestSpark.SfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got.map(_._1) ==
      Seq("1_score", "2_boiler", "3_signature", "4_admission"), s"got $got")
    val Seq(s1, s2, s3, s4) = got
    // The shared edit touched exactly 1 of 3 partitions in all three
    // digest-diffed stores; the admission store rewrites its 4 waves.
    assert(s1._5 == 1L && s2._5 == 1L && s3._5 == 1L && s4._5 == 4L,
      s"resynced drift: $got")
    // Signature-store content audit: stored band rows of the edited
    // partition must equal a fresh re-derivation (symmetric diff 0).
    assert(s3._4 == 0L, s"stale signature store: ${s3._4} divergent band rows")
    // DAG narrows monotonically: score gate ≤ corpus; boiler survivors ≤
    // gated; admitted ≤ entering vectors.
    assert(s2._2 <= s1._2 && s3._2 <= s2._2 && s4._3 <= s4._2, s"DAG widened: $got")
    // The signature store signs every corpus doc, 48 bands each.
    assert(s3._3 == s1._2 * 48L, s"sig row count drift: $got")
    // The boiler store holds at least one partial row per source that has
    // any ≥5-token doc, and the share checksum is a sane bp sum.
    assert(s2._3 > 0L && s2._4 >= 0L, s"boiler store empty: $got")
  }

  private val mayBeEmpty = Set.empty[String]

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and is non-empty at sf0.001") {
      val df = fn(spark, TestSpark.SfDir)
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name)) assert(df.count() > 0, s"$name returned 0 rows")
      else df.count()
    }
  }
}
