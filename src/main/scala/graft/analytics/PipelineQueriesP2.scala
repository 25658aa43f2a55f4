package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.{Mp4, Multimodal}
import graft.similarity.Ann
import graft.text.TextAnalysis

/** Pipeline query defs, slab 2 of 4 (retrieval, sketches, graph,
  * layout and streaming audits through the q188 PCA constants) — a PURE MOVE out of the former 17k-line PipelineQueries.scala
  * (round-10 verdict #4): same members, same order, no logic change.
  * Self-typed to the object so every cross-slab reference resolves
  * unqualified and initialization order is exactly the old file order. */
trait PipelineQueriesP2 { this: PipelineQueries.type =>

  /** q231 multi-vector constants, shared with the oracle. */
  private[graft] val MaxSimSlots = 4L
  private[graft] val MaxSimQueryMod = 25L
  private[graft] val MaxSimK = 5

  /** q232 sweep bound: the Manku 6-choose-3 banding guarantees COMPLETE
    * candidate recall only to hamming ≤ 3, so the sweep stays inside the
    * guarantee region — points beyond it would silently undercount. */
  private[graft] val SimhashSweepMax = 3

  /** SimHash precision/recall sweep (q232) — the q131 tuning-curve
    * discipline applied to the OTHER near-dup family: for each hamming
    * threshold t ∈ [0, [[SimhashSweepMax]]], the banded SimHash candidate
    * pairs at distance ≤ t are scored against the exact MinHash-verified
    * truth (Jaccard ≥ 0.95 — the shared [[nearDupTiers]] memo), emitting
    * exact predicted/truth/hit counts and integer precision/recall basis
    * points. ONE banded candidate pass serves every operating point
    * (candidates carry their hamming; thresholds are a 4-row explode) —
    * the sweep never re-pairs the corpus. This is the report that decides
    * whether the 64-bit fingerprint can replace the 192-slot signature
    * family on a given corpus. */
  def simhashPrSweep(spark: SparkSession, dir: String): DataFrame = {
    // Tables.fan (r13): the per-doc simhash is map-side on the scan.
    val docs = graft.Tables.fan(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val sigs = docs.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(Dedup.simhashBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val l = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val cand = l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashSweepMax)
    val (members, setPairs) = nearDupTiers(spark, dir)
    val truth = Dedup.pairsOfTiered(members, setPairs)
      .select(col("id_a"), col("id_b"), lit(1L).as("is_true"))
    val joined = cand.join(truth, Seq("id_a", "id_b"), "left")
    val nTruth = truth.count()
    val sweep = joined
      .select(explode(expr(s"sequence(hamming, $SimhashSweepMax)")).as("t"),
        coalesce(col("is_true"), lit(0L)).as("hit"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_pred"), sum(col("hit")).as("n_hit"))
    val recall =
      if (nTruth == 0L) lit(null).cast("long")
      else expr(s"n_hit * 10000L div $nTruth")
    sweep
      .select(col("t").cast("int").as("max_hamming"), col("n_pred"),
        lit(nTruth).as("n_truth"), col("n_hit"),
        expr("n_hit * 10000L div n_pred").as("precision_bp"),
        recall.as("recall_bp"))
      .orderBy(col("max_hamming"))
  }

  /** q233 corruption modulus, shared with the oracle. */
  private[graft] val JsonlCorruptMod = 97L

  /** JSONL ingest robustness audit (q233) — the schema-on-read path a
    * web-scale text pipeline actually ingests through, with the failure
    * accounting that separates a production reader from a demo: each
    * event serializes to a JSON line (`to_json` over the typed row), a
    * deterministic slice (event_id % [[JsonlCorruptMod]] == 0) is
    * GARBLED at the first byte — total parse failure by construction, so
    * the audit is insensitive to Spark's partial-result JSON recovery
    * (`spark.sql.json.enablePartialResults`, on by default, can salvage
    * leading fields from a merely TRUNCATED line) — and the re-parse
    * (`from_json`, PERMISSIVE semantics —
    * corrupt input yields a null row, never a job failure) is audited
    * per event type: lines in, parsed, corrupt, corrupt share in bp,
    * and an exact value checksum over the SURVIVING rows proving the
    * parser neither dropped good lines nor hallucinated fields. DuckDB
    * replays the same serialize → truncate → validity test with its
    * native JSON machinery. Map-only until the per-type aggregate. */
  def jsonlCorruptAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(value * 100 AS DECIMAL(14,0))").cast("long").as("cents"))).as("line"))
      .select(col("event_type"),
        when(col("event_id") % JsonlCorruptMod === 0L,
          concat(lit("X"), expr("substring(line, 2, length(line))"))).otherwise(col("line")).as("line"))
      .select(col("event_type"),
        from_json(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT")).as("p"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_lines"),
        count(col("p.event_id")).as("n_parsed"),
        sum(when(col("p.event_id").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(coalesce(col("p.cents"), lit(0L))).as("parsed_cents"))
      .select(col("event_type"), col("n_lines"), col("n_parsed"), col("n_corrupt"),
        expr("n_corrupt * 10000L div n_lines").as("corrupt_bp"),
        col("parsed_cents"))
      .orderBy(col("event_type"))

  /** q221 SNM constants, shared with the oracle: sliding-window width and
    * the sort-key block granularity ($250 bands over offset cents). */
  private[graft] val SnmWindow = 4L
  private[graft] val SnmBlockCents = 25000L

  /** Sorted-neighborhood entity blocking (q221) — the classic
    * Hernández–Stolfo merge/purge alternative to LSH blocking: records
    * sort by a key (account cents), each record compares only against the
    * next [[SnmWindow]] records in sort order, and candidates verify with
    * an exact matcher (same nation + name edit distance ≤ 1). Done the
    * way a 1000-executor sort must: ranks are computed WITHIN
    * [[SnmBlockCents]]-wide key blocks (partitionBy windows — never a
    * global single-partition ORDER BY), and boundary pairs stitch through
    * an adjacent-block equi-join (`a` in its block's last w, `b` in the
    * next block's first w, combined distance ≤ w). Block-local SNM equals
    * the global sliding window whenever every block is nonempty; an empty
    * intermediate block truncates the window at its boundary — both
    * engines implement the IDENTICAL rule (so the oracle replays exactly),
    * and a production deployment tunes block width to key density.
    * Shuffle shape: two equi-joins on block id + one levenshtein filter —
    * candidate volume is n·w, never n². */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodOf(Tables.customer(spark, dir))

  private[graft] def sortedNeighborhoodOf(customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = customer
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").as("cents"))
      .withColumn("blk", expr(s"(cents + 1000000) div $SnmBlockCents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("cents"), col("c_custkey"))).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("blk"))))
    val a = r.select(col("blk").as("blk_a"), col("rn").as("rn_a"), col("cnt").as("cnt_a"),
      col("c_custkey").as("id_a"), col("c_name").as("name_a"),
      col("c_nationkey").as("nk_a"), col("cents").as("cents_a"))
    val b = r.select(col("blk").as("blk_b"), col("rn").as("rn_b"),
      col("c_custkey").as("id_b"), col("c_name").as("name_b"),
      col("c_nationkey").as("nk_b"), col("cents").as("cents_b"))
    val within = a.join(b, col("blk_a") === col("blk_b") &&
      col("rn_b") - col("rn_a") >= 1L && col("rn_b") - col("rn_a") <= SnmWindow)
    val across = a.join(b, col("blk_a") + 1L === col("blk_b") &&
      col("cnt_a") - col("rn_a") + col("rn_b") <= SnmWindow)
    within.unionByName(across)
      .filter(col("nk_a") === col("nk_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("id_a"), col("id_b"), col("cents_a"), col("cents_b"),
        (col("cents_b") - col("cents_a")).as("cents_gap"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q222 length gate, shared with the oracle. The other filter
    * thresholds are structural: stopword ratio ≥ 0.05 as the integer
    * cross-multiply hits·20 ≥ n_tokens; mean token length in [3, 8] as
    * 3n ≤ chars − n + 1 ≤ 8n; language agreement; zero PII spans. */
  private[graft] val AblationMinTokens = 20L

  /** Quality-filter ablation (q222) — the report every curation pipeline
    * owner asks for before tightening a gate: per filter, how many
    * documents it rejects (n_fail), how many it UNIQUELY rejects
    * (n_unique_fail — the docs that would come back if only this filter
    * were dropped; every other filter passes them), and the all-pass
    * survivor count. Marginal attribution tells you which filter is
    * actually shaping the corpus and which is redundant shadowing.
    * All five predicates are integer/exact (the q37/q38/q65 primitives),
    * so the whole matrix hash-replays in the oracle. One map-only scan +
    * one 11-sum aggregate; the 5-row report explodes from the single
    * aggregate row — corpus is touched once. */
  def filterAblation(spark: SparkSession, dir: String): DataFrame =
    filterAblationOf(Tables.documents(spark, dir))

  /** Dedup cascade funnel (q223) — the stage-attribution audit of the
    * dedup pipeline a training run actually executes: raw → exact
    * (byte-identical content, q25 rule) → token-set (reordered/repeated
    * copies, q26 rule) → near-dup (MinHash component keep-min, q56
    * semantics), each stage applied to the PREVIOUS stage's survivors,
    * reporting per stage how many docs entered, survived, and were
    * removed. The marginal numbers are the decision input for "is the
    * fuzzy tier worth its cost on this corpus". Reuses the shared
    * [[nearDupTiers]] memo (q27's payer) — no LSH recomputation; the
    * exact tiers are two hash aggregates on fingerprint keys; the final
    * report is a 4-row frame windowed into the funnel. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r13 note: a Tables.fan was measured and REVERTED (1.7 s -> 2.4-2.7 s
    // in both final runs — the full-row exchange outweighed the
    // fingerprint map it parallelized).
    val docs = Tables.documents(spark, dir)
    val s1 = docs.groupBy(TextAnalysis.contentFingerprint(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val s2 = docs.join(s1, Seq("doc_id"), "left_semi")
      .groupBy(TextAnalysis.tokenSetKey(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val (members, setPairs) = nearDupTiers(spark, dir)
    val clusters = Dedup.clustersOfTiered(members, setPairs)
      .select(col("id").as("doc_id"), col("comp"))
    val d2c = s2.join(clusters, Seq("doc_id"), "left")
    val keepPerComp = d2c.filter(col("comp").isNotNull)
      .groupBy(col("comp")).agg(min(col("doc_id")).as("keep_id"))
    val s3 = d2c.join(keepPerComp, Seq("comp"), "left")
      .filter(col("comp").isNull || col("doc_id") === col("keep_id"))
      .select(col("doc_id"))
    def cnt(df: DataFrame, idx: Int, name: String) =
      df.agg(count(lit(1)).as("n")).select(lit(idx).as("idx"), lit(name).as("stage"), col("n"))
    cnt(docs, 0, "raw")
      .unionByName(cnt(s1, 1, "exact"))
      .unionByName(cnt(s2, 2, "tokenset"))
      .unionByName(cnt(s3, 3, "neardup"))
      .withColumn("n_in", lag(col("n"), 1).over(Window.orderBy(col("idx"))))
      .filter(col("idx") > 0)
      .select(col("stage"), col("n_in"), col("n").as("n_out"),
        (col("n_in") - col("n")).as("n_removed"),
        expr("(n_in - n) * 10000L div n_in").as("removed_bp"))
      .orderBy(col("stage"))
  }

  private[graft] def filterAblationOf(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nChars = length(col("text")).cast("long")
    val flags = docs.filter(col("text").isNotNull).select(
      (nTok >= AblationMinTokens).as("p_len"),
      (TextAnalysis.stopwordHits(toks, "en").cast("long") * 20L >= nTok).as("p_stop"),
      (nChars - nTok + 1L >= nTok * 3L && nChars - nTok + 1L <= nTok * 8L).as("p_tlen"),
      (TextAnalysis.langId(col("text")) === col("lang")).as("p_lang"),
      ((TextAnalysis.emailCount(col("text")) + TextAnalysis.phoneCount(col("text"))) === 0)
        .as("p_pii"))
    val names = Seq("len", "stop", "tlen", "lang", "pii")
    def p(n: String) = col(s"p_$n")
    val aggs =
      names.map(n => sum(when(!p(n), 1L).otherwise(0L)).as(s"f_$n")) ++
      names.map(n => sum(when(!p(n) &&
        names.filter(_ != n).map(p).reduce(_ && _), 1L).otherwise(0L)).as(s"u_$n")) :+
      sum(when(names.map(p).reduce(_ && _), 1L).otherwise(0L)).as("pass_all")
    val agg = flags.agg(count(lit(1)).as("n_docs"), aggs: _*)
    agg
      .select(explode(array(names.map(n =>
        struct(lit(n).as("filter"), col(s"f_$n").as("n_fail"),
          col(s"u_$n").as("n_unique_fail"))): _*)).as("r"),
        col("n_docs"), col("pass_all").as("n_pass_all"))
      .select(col("r.filter").as("filter"), col("n_docs"),
        col("r.n_fail").as("n_fail"),
        expr("r.n_fail * 10000L div n_docs").as("fail_bp"),
        col("r.n_unique_fail").as("n_unique_fail"), col("n_pass_all"))
      .orderBy(col("filter"))
  }

  /** Approximate quantiles (QuantileSummaries/GK sketch — the distributed
    * quantile path at 100 TB, constant memory + mergeable partials) as a
    * BOUNDED driver-checked claim, same pattern as q42: the sketch output
    * is merge-order-specific, but |approx − exact| ≤ tol is portable —
    * Spark emits the booleans next to the exact quantiles, DuckDB emits
    * TRUE, sketch drift breaks the hash. accuracy=1000 ⇒ rank error
    * ≤ 0.1% ⇒ ≤ ~1 quantity unit on this distribution (tol 2.0 = 2×
    * slack). */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val tol = 2.0
    Tables
      .lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)").as("approx"),
        expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("exact"))
      .select(
        col("l_returnflag"),
        element_at(col("exact"), 1).as("p25"),
        element_at(col("exact"), 2).as("p50"),
        element_at(col("exact"), 3).as("p75"),
        (abs(element_at(col("approx"), 1) - element_at(col("exact"), 1)) <= tol &&
          abs(element_at(col("approx"), 2) - element_at(col("exact"), 2)) <= tol &&
          abs(element_at(col("approx"), 3) - element_at(col("exact"), 3)) <= tol)
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles per group (matches DuckDB
    * quantile_cont's linear interpolation). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"))
      .orderBy(col("l_returnflag"))

  /** Per-term BM25 contribution (k1 = 1.2, b = 0.75, ⌊idf·10⁶⌋ fixed-point)
    * over columns (tf, df, dl, n_docs, total_tokens) — shared verbatim by
    * q126's ranker and q234's multi-query eval run, so the scorer under
    * evaluation can never drift from the scorer in production. The oracle
    * twin is [[BmTermSql]]: every IEEE op in the same order. */
  private[analytics] val BmTermSpark =
    """CAST(FLOOR(CAST(n_docs * 1000000L div df AS DOUBLE)
      |  * (CAST(tf AS DOUBLE) * 2.2)
      |  / (CAST(tf AS DOUBLE) + (0.3 + 0.9 * (CAST(dl * n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))))) AS BIGINT)"""
      .stripMargin

  /** Reciprocal-rank-fusion constant (Cormack et al. 2009's k = 60),
    * shared with the q127 oracle (generated-constant pattern). */
  private[analytics] val RrfK = 60L

  /** Event-rate anomaly detection (q128) — the operational-monitoring op
    * next to q123's embedding drift: per (event_type, UTC hour) counts,
    * flagged when the hour deviates from the type's own hourly mean by
    * more than 3σ. The classic "did ingestion spike/stall this hour"
    * alert over a 100 TB event firehose.
    *
    * Exactness: the 3σ test is evaluated ENTIRELY in integers — with
    * h hours, total T and Σn², the test |n − μ| > 3σ rewrites as
    * (n·h − T)² > 9·(h·Σn² − T²), so no sqrt/float ever runs and the
    * flag is hash-exact (both sides of the inequality are emitted as
    * auditable BIGINTs; magnitudes stay < 2⁶³ past 1000× this SF).
    *
    * Scale shape: ONE shuffle aggregates events to the (type, hour)
    * matrix — map-side partials, metadata-sized output; the per-type
    * stats are windows over that matrix, never over events. Observed
    * hours only (an absent hour has no row — the zero-filled variant
    * is a calendar cross-join away and deliberately not paid here). */
  def eventRateAnomaly(spark: SparkSession, dir: String): DataFrame =
    eventRateAnomalyOf(
      Tables.events(spark, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("hour_id"))
        .agg(count(lit(1)).as("n")))

  /** The stats/flag stage of [[eventRateAnomaly]] over a pre-aggregated
    * (event_type, hour_id, n) matrix — split out so a spec can plant a
    * synthetic spike and assert it flags (the q123 planted-scenario
    * pattern). */
  private[graft] def eventRateAnomalyOf(hourly: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("h", count(lit(1)).over(byType))
      .withColumn("t", sum(col("n")).over(byType))
      .withColumn("s2", sum(col("n") * col("n")).over(byType))
      .select(
        col("event_type"), col("hour_id"), col("n"), col("h"),
        expr("t * 1000000L div h").as("mean_fp"),
        expr("(n * h - t) * (n * h - t)").as("dev2"),
        expr("9L * (h * s2 - t * t)").as("var9"),
        expr("(n * h - t) * (n * h - t) > 9L * (h * s2 - t * t)").as("anomalous"))
      .orderBy(col("event_type"), col("hour_id"))
  }

  /** Vocabulary size for [[vocabCoverage]], shared with the q129 oracle
    * (generated-constant pattern). Sized BELOW the synthetic corpus's
    * distinct-token count (31 at every SF) so the cut genuinely binds at every SF (a
    * vocabulary that admits every type audits nothing). */
  private[graft] val VocabV = 16

  /** Vocabulary coverage / OOV-rate audit (q129) — the tokenizer-sizing
    * question every training pipeline answers before fixing a vocab:
    * with the top-V corpus tokens as the vocabulary, what share of each
    * language's token INSTANCES is covered, and what share of its
    * distinct types is out-of-vocabulary? (BPE sizing runs exactly this
    * curve; q111 is the merge-induction step, this is the evaluation
    * step.) All integer arithmetic — counts and basis points.
    *
    * Scale shape: the corpus tokenizes ONCE into the (lang, token)
    * count matrix (map-side partials — the only corpus-sized exchange).
    * The matrix feeds BOTH the vocabulary derivation and the coverage
    * join — a diamond Catalyst cannot dedupe (column pruning
    * canonicalizes the two branches apart, so ReuseExchange never fires
    * and the naive form re-scans and re-explodes the corpus — the q109
    * trap, verified on the executed plan). So the matrix is persisted
    * via the session memo: distinct-(lang,token)-sized (orders below
    * the corpus), spillable, computed once per (session, dir). The
    * vocabulary is then a vocab-sized re-aggregate + TakeOrdered top-V
    * joined back as a BROADCAST flag; per-lang coverage is a
    * metadata-sized rollup. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val langTok = graft.SessionMemo.frame(spark, s"q129matrix|$dir") {
      Tables.documents(spark, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    }
    val vocab = langTok
      .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(VocabV)
      .select(col("token"))
    langTok
      .join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("token"), "left_outer")
      .groupBy(col("lang"))
      .agg(
        sum(col("n")).as("n_instances"),
        sum(when(col("in_vocab").isNotNull, col("n")).otherwise(0L)).as("covered_instances"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_vocab").isNotNull, 1L).otherwise(0L)).as("covered_types"))
      .select(
        col("lang"), col("n_instances"), col("covered_instances"),
        expr("covered_instances * 10000L div n_instances").as("coverage_bp"),
        col("n_types"), col("covered_types"),
        expr("(n_types - covered_types) * 10000L div n_types").as("oov_type_bp"))
      .orderBy(col("lang"))
  }

  /** ANALYZE-style table statistics snapshot (q130) — the stats
    * collection every CBO-driven 100 TB deployment schedules (Spark's
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`, emitted as data
    * so it can be oracled): per column of `documents` — row count, null
    * count, exact NDV, lexicographic/numeric min and max (as canonical
    * strings), and average value width (chars ×100). The q107 skew audit
    * diagnoses one join key; this is the standing per-column profile
    * that feeds broadcast/skew/pruning decisions (the CBO pin in
    * ScaleSpec consumes exactly these numbers via ANALYZE).
    *
    * Scale shape: ONE scan — all five columns profile in a single
    * multi-distinct aggregate (Catalyst's Expand handles the distincts;
    * map-side partials for the plain stats), then a 1-row explode to the
    * 5-row long-format profile. Numeric min/max cast to string AFTER
    * aggregation (5 values, not per-row). */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val stats = d.agg(
      count(lit(1)).as("n"),
      // doc_id
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("doc_id_nulls"),
      countDistinct(col("doc_id")).as("doc_id_ndv"),
      min(col("doc_id")).cast("string").as("doc_id_min"),
      max(col("doc_id")).cast("string").as("doc_id_max"),
      expr("sum(length(cast(doc_id AS STRING)) * 100) div count(doc_id)").as("doc_id_w"),
      // lang
      sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_nulls"),
      countDistinct(col("lang")).as("lang_ndv"),
      min(col("lang")).as("lang_min"),
      max(col("lang")).as("lang_max"),
      expr("sum(length(lang) * 100) div count(lang)").as("lang_w"),
      // source
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("source_nulls"),
      countDistinct(col("source")).as("source_ndv"),
      min(col("source")).as("source_min"),
      max(col("source")).as("source_max"),
      expr("sum(length(source) * 100) div count(source)").as("source_w"),
      // n_chars
      sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_chars_nulls"),
      countDistinct(col("n_chars")).as("n_chars_ndv"),
      min(col("n_chars")).cast("string").as("n_chars_min"),
      max(col("n_chars")).cast("string").as("n_chars_max"),
      expr("sum(length(cast(n_chars AS STRING)) * 100) div count(n_chars)").as("n_chars_w"),
      // text
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("text_nulls"),
      countDistinct(col("text")).as("text_ndv"),
      md5(min(col("text")).cast("binary")).as("text_min"),
      md5(max(col("text")).cast("binary")).as("text_max"),
      expr("sum(length(text) * 100) div count(text)").as("text_w"))
    stats.selectExpr(
      """stack(5,
        |  'doc_id',  doc_id_nulls,  doc_id_ndv,  doc_id_min,  doc_id_max,  doc_id_w,
        |  'lang',    lang_nulls,    lang_ndv,    lang_min,    lang_max,    lang_w,
        |  'n_chars', n_chars_nulls, n_chars_ndv, n_chars_min, n_chars_max, n_chars_w,
        |  'source',  source_nulls,  source_ndv,  source_min,  source_max,  source_w,
        |  'text',    text_nulls,    text_ndv,    text_min,    text_max,    text_w
        |) AS (col_name, n_nulls, ndv, min_val, max_val, avg_width_x100)""".stripMargin,
      "n AS n_rows")
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("ndv"),
        col("min_val"), col("max_val"), col("avg_width_x100"))
      .orderBy(col("col_name"))
  }

  /** The (bands, rowsPerBand) operating points of the q131 sweep — every
    * config reslices the SAME 192-slot MinHash family (b·r = 192 for
    * all, seed-shared with q27/q29), so one signature pass feeds every
    * point. Shared with the oracle (generated-constant pattern). */
  private[graft] val SweepConfigs: Seq[(Int, Int)] = Seq((4, 48), (8, 24), (16, 12), (32, 6), (64, 3))

  /** Exact-Jaccard truth threshold for the q131 recall axis. */
  private[graft] val SweepJaccard = 0.9

  /** MinHash-LSH banding parameter sweep (q131) — the dedup-tuning curve
    * next to q125's ANN nprobe sweep: for each (b bands × r rows)
    * operating point, candidate-pair volume (cost) and recall against an
    * exact-Jaccard ≥ 0.9 truth set (the S-curve threshold (1/b)^(1/r)
    * moves from ~0.97 at 4×48 to ~0.25 at 64×3 — the knee, not the
    * maximum, is the production configuration). Candidates are SET-level
    * (the q27 canonicalization: identical token sets collapse first, so
    * a duplicate-heavy corpus can't quadratically collide in every
    * bucket).
    *
    * Scale shape: the corpus tokenizes and signs ONCE — a 192-slot
    * signature per distinct set, persisted via the session memo; every
    * operating point derives its band keys by SLICING that signature
    * (map-only transform over ≤64 slices), so adding a point costs one
    * more bucket join over compact (band_idx, key) rows, never another
    * corpus pass. Truth is verified ONCE over the union of all points'
    * candidates (q125's one-widest-search trick: the 64×3 point's
    * candidates contain every other point's), and per-point hits come
    * from a broadcast of the verified pair list. */
  def lshBandingSweep(spark: SparkSession, dir: String): DataFrame = {
    val p = Dedup.MinHashParams()
    require(SweepConfigs.forall { case (b, r) => b * r == p.k })
    val sets = graft.SessionMemo.frame(spark, s"q131sets|$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          sort_array(array_distinct(TextAnalysis.tokens(col("text")))).as("toks"))
        .groupBy(col("toks")).agg(min(col("doc_id")).as("sid"))
        .withColumn("sig",
          graft.functions.MinHashFunctions
            .minhash_signature(col("toks"), p.bands, p.rowsPerBand, p.seed))
    }
    def candsOf(b: Int, r: Int): DataFrame = {
      val banded = sets.select(col("sid"),
        explode(expr(
          s"""transform(sequence(0, ${b - 1}),
             |  i -> named_struct('band_idx', i,
             |    'band_key', xxhash64(cast(slice(sig, i * $r + 1, $r) AS STRING))))"""
            .stripMargin)).as("bk"))
        .select(col("sid"), col("bk.band_idx").as("band_idx"), col("bk.band_key").as("band_key"))
      val l = banded.select(col("band_idx"), col("band_key"), col("sid").as("id_a"))
      val rr = banded.select(col("band_idx"), col("band_key"), col("sid").as("id_b"))
      l.join(rr, Seq("band_idx", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
        .withColumn("bands", lit(b)).withColumn("rows_per_band", lit(r))
    }
    val cand = graft.SessionMemo.frame(spark, s"q131cand|$dir") {
      SweepConfigs.map { case (b, r) => candsOf(b, r) }.reduce(_ union _)
    }
    val verified = graft.SessionMemo.frame(spark, s"q131verified|$dir") {
      cand.select(col("id_a"), col("id_b")).distinct()
        .join(sets.select(col("sid").as("id_a"), col("toks").as("ta")), Seq("id_a"))
        .join(sets.select(col("sid").as("id_b"), col("toks").as("tb")), Seq("id_b"))
        .filter(Dedup.jaccardSorted(col("ta"), col("tb")) >= SweepJaccard)
        .select(col("id_a"), col("id_b"))
    }
    cand
      .join(broadcast(verified.withColumn("hit", lit(1L))), Seq("id_a", "id_b"), "left_outer")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(verified.agg(count(lit(1)).as("n_truth"))))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_truth"), col("n_hits"),
        expr("n_hits * 10000L div n_truth").as("recall_bp"))
      .orderBy(col("bands"))
  }

  /** Journey path mining (q132) — the sequential-pattern view one level
    * up from q119's transition matrix: the top-20 THREE-step event paths
    * (e₁→e₂→e₃ over consecutive events per user, ts order, event_id
    * tie-break). The funnel-discovery question ("which 3-step journeys
    * actually happen most") asked of the raw stream, where q89 checks
    * ONE predeclared funnel.
    *
    * Scale shape: the SAME single user_id shuffle as q119 — both lead()
    * offsets ride one window (per-user frames, streaming, no
    * buffering); the path stream aggregates map-side to the ≤|types|³
    * matrix and the top-20 is TakeOrdered over that metadata-sized
    * frame. Ordering pinned at microsecond resolution like q119. */
  def journeyPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUserTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(byUserTime))
      .withColumn("to_type", lead(col("event_type"), 2).over(byUserTime))
      .filter(col("mid_type").isNotNull && col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("mid_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("mid_type"), col("to_type"))
      .limit(20)
  }

  /** Distinct (user_id, day, event_type) incidence, one cache per
    * (session, dir) — shared by q133 and q137. */
  private def userDayTypes(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"q133incidence|$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), expr("CAST(ts AS DATE)").as("day"), col("event_type"))
        .distinct()
    }

  /** Event-type co-occurrence lift (q133) — association mining over
    * (user, day) baskets: for every unordered type pair, basket support
    * and lift (observed co-occurrence over the independence expectation),
    * both in integer basis points (lift_bp = n_ab·N·10⁴ div (n_a·n_b);
    * 10000 = independent, above = attraction). The classic
    * "which behaviors travel together" read of the reference's event
    * stream, complementing q119's DIRECTIONAL transitions with an
    * order-free view.
    *
    * Scale shape: events collapse to the distinct (user, day, type)
    * incidence frame ONCE (map-side partial distinct — the only
    * corpus-sized exchange). That frame feeds FOUR consumers (basket
    * total, type counts, both pair-join sides) — a diamond Catalyst
    * cannot dedupe (the q129 lesson), so it is persisted via the
    * session memo: ≤|types| rows per basket, orders below events. The
    * pair join is a self-join ON THE BASKET KEY of the cached frame
    * (blowup bounded by |types|² per basket, never corpus²); type
    * counts and the basket total are metadata-sized broadcasts. */
  def cooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val bt = userDayTypes(spark, dir)
    val nBaskets = bt.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val typeCounts = bt.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    bt.select(col("user_id"), col("day"), col("event_type").as("type_a"))
      .join(bt.select(col("user_id"), col("day"), col("event_type").as("type_b")),
        Seq("user_id", "day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
      .join(broadcast(typeCounts.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(typeCounts.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        expr("n_ab * 10000L div n_baskets").as("support_bp"),
        expr("n_ab * n_baskets * 10000L div (n_a * n_b)").as("lift_bp"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Truncation dimensions for the q134 sweep (the full dim last — its
    * row is the self-recall anchor). Shared with the oracle. */
  private[graft] val MrlDims = Seq(16, 32, 48, 64)

  /** Embedding dimension-truncation recall sweep (q134) — the
    * Matryoshka-representation question (Kusupati et al. 2022) asked of
    * the vector store: if search ran on only the first d dims (4×–1.3×
    * cheaper memory/compute), what fraction of the full-dimension top-10
    * survives? The third production tuning curve next to q125 (nprobe)
    * and q131 (banding): pick the d at the knee, serve truncated.
    *
    * Exactness: each point is the q33 brute-force machinery over SLICED
    * vectors — the cosine expression folds the same floats in the same
    * order as the oracle's left-fold replication, so every ranked pair
    * (and therefore every hit count) is bit-exact. Scale shape: queries
    * broadcast (q33's shape) per point; hits against the full-dim truth
    * via broadcast of the 10·n_q truth list; everything after ranking is
    * metadata-sized. */
  def mrlRecallSweep(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    def topAt(d: Int): DataFrame = Ann.bruteForceTopK(
      embs.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding")),
      embs.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding")),
      "vec_id", "embedding", k = 10)
    val truth = topAt(MrlDims.last).select(col("query_id"), col("neighbor_id"))
    MrlDims
      .map(d => topAt(d).select(lit(d).as("dim"), col("query_id"), col("neighbor_id")))
      .reduce(_ union _)
      .join(broadcast(truth.withColumn("hit", lit(1L))),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_ranked"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("dim"), expr("n_ranked div 10").as("n_queries"), col("n_hits"),
        expr("n_hits * 10000L div n_ranked").as("recall_bp"))
      .orderBy(col("dim"))
  }

  /** Incremental (mergeable) table statistics (q135) — q130's profile
    * restructured the way a 100 TB deployment actually maintains it: per
    * ingest batch, each column's MERGEABLE stats (count, nulls, min,
    * max, width sum — every one a semigroup) commit as a segment, and
    * the serving profile is the segment MERGE — never a full-table
    * rescan (the q124 segment model applied to statistics; exact NDV is
    * deliberately absent — it does not merge, its incremental form is
    * the HLL sketch q42 already covers). Here the corpus splits into
    * three deterministic batches (doc_id mod 3) and the query computes
    * the profile THROUGH the two-level path: per-batch aggregate →
    * merge. The oracle recomputes the profile DIRECTLY over the full
    * table — equality is the mergeability proof, hash-exact.
    *
    * Scale shape: one scan, two aggregates — the per-batch level is
    * map-side-combinable to 3·|cols| rows, the merge level runs over
    * that metadata. Text min/max go through min/max of md5 (mergeable),
    * not md5 of min/max (not incremental). */
  def incrementalStats(spark: SparkSession, dir: String): DataFrame = {
    val perBatch = Tables.documents(spark, dir)
      .groupBy((col("doc_id") % 3).as("batch_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_nulls"),
        min(col("lang")).as("lang_min"), max(col("lang")).as("lang_max"),
        sum(length(col("lang")).cast("long")).as("lang_wsum"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_chars_nulls"),
        // n_chars min/max stay NUMERIC through the merge — a string cast
        // before merging would compare "1005" < "998" lexicographically.
        min(col("n_chars")).as("n_chars_min"),
        max(col("n_chars")).as("n_chars_max"),
        sum(length(col("n_chars").cast("string")).cast("long")).as("n_chars_wsum"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("text_nulls"),
        min(md5(col("text").cast("binary"))).as("text_min"),
        max(md5(col("text").cast("binary"))).as("text_max"),
        sum(length(col("text")).cast("long")).as("text_wsum"))
    perBatch
      .agg(
        sum(col("n")).as("n_rows"),
        sum(col("lang_nulls")).as("lang_nulls"),
        min(col("lang_min")).as("lang_min"), max(col("lang_max")).as("lang_max"),
        sum(col("lang_wsum")).as("lang_wsum"),
        sum(col("n_chars_nulls")).as("n_chars_nulls"),
        min(col("n_chars_min")).as("n_chars_min"), max(col("n_chars_max")).as("n_chars_max"),
        sum(col("n_chars_wsum")).as("n_chars_wsum"),
        sum(col("text_nulls")).as("text_nulls"),
        min(col("text_min")).as("text_min"), max(col("text_max")).as("text_max"),
        sum(col("text_wsum")).as("text_wsum"))
      .selectExpr(
        """stack(3,
          |  'lang',    lang_nulls,    lang_min,                       lang_max,                       lang_wsum,
          |  'n_chars', n_chars_nulls, CAST(n_chars_min AS STRING),    CAST(n_chars_max AS STRING),    n_chars_wsum,
          |  'text',    text_nulls,    text_min,                       text_max,                       text_wsum
          |) AS (col_name, n_nulls, min_val, max_val, wsum)""".stripMargin,
        "n_rows")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("min_val"), col("max_val"),
        expr("wsum * 100L div (n_rows - n_nulls)").as("avg_width_x100"))
      .orderBy(col("col_name"))
  }

  /** Conversion window for [[conversionWindowFunnel]], shared with the
    * q136 oracle: 24 h in microseconds. */
  private[graft] val ConvWindowUs = 86400000000L

  /** Conversion-window funnel (q136) — the time-bound attribution q89's
    * predeclared funnel doesn't do: for every signup EVENT, did a
    * purchase by the same user land within 24 h, and how fast? Emits
    * one row: signups, conversions, conversion_bp, exact min/max
    * time-to-convert in microseconds, and the lower-median
    * time-to-convert in SECONDS. All integers.
    *
    * Scale shape: signups join purchases per USER (one user-key
    * shuffle, co-partitioned; per-user event lists are small), first
    * conversion per signup is a min-aggregate; min/max/count merge
    * map-side. The median deliberately buckets deltas to SECONDS and
    * ranks over the cumulative histogram (the q113 pattern) — a bounded
    * 86 400-value domain at any corpus size, where ranking raw
    * microsecond deltas would sort a conversions-sized list. */
  def conversionWindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("us").as("s_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"))
    val conv = signups.join(purchases, Seq("user_id"))
      .filter(col("p_us") > col("s_us") && col("p_us") <= col("s_us") + lit(ConvWindowUs))
      .groupBy(col("signup_id"))
      .agg(min(col("p_us") - col("s_us")).as("delta_us"))
    val deltaHist = conv
      .groupBy(expr("delta_us div 1000000L").as("delta_s"))
      .agg(count(lit(1)).as("c"))
    val medianS = deltaHist
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("delta_s"))))
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("n_conv"))))
      .filter(col("cum") >= expr("(n_conv + 1) div 2"))
      .agg(min(col("delta_s")).as("median_delta_s"))
    conv
      .agg(count(lit(1)).as("n_conversions"),
        min(col("delta_us")).as("min_delta_us"),
        max(col("delta_us")).as("max_delta_us"))
      .crossJoin(broadcast(signups.agg(count(lit(1)).as("n_signups"))))
      .crossJoin(broadcast(medianS))
      .select(col("n_signups"), col("n_conversions"),
        expr("n_conversions * 10000L div n_signups").as("conversion_bp"),
        col("min_delta_us"), col("max_delta_us"), col("median_delta_s"))
  }

  /** Rolling 7-day active users (q137) — DAU and exact WAU per observed
    * day, the standing engagement metric of every event deployment.
    * Exact distinct-users-in-window, not a sketch.
    *
    * Scale shape: events collapse to the distinct (user, day) incidence
    * frame (map-side partial distinct; REUSES q133's memoized cache
    * when both run in a session — same memo key family); each incidence
    * row then fans out map-only to the ≤7 window days it supports
    * (sequence + explode — no range join, no per-day rescan), and one
    * distinct + count per day finishes it. The fan-out factor is the
    * window length, constant in corpus size; days beyond the observed
    * maximum are cut by a broadcast scalar. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val incidence = userDayTypes(spark, dir).select(col("user_id"), col("day")).distinct()
    val maxDay = incidence.agg(max(col("day")).as("max_day"))
    val dau = incidence.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = incidence
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("wday"))
      .crossJoin(broadcast(maxDay))
      .filter(col("wday") <= col("max_day"))
      .select(col("user_id"), col("wday").as("day")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** Referential-integrity audit (q138) — the cross-table data-quality
    * gate next to q97's single-table invariants: for each foreign-key
    * edge of the warehouse (lineitem→orders, orders→customer), orphan
    * child rows (FK value with no parent) and unreferenced parent rows,
    * both as counts and basis points. The audit every lake deployment
    * runs after a backfill or a partial delete — on THIS data both
    * orphan counts are zero, which is the point: the gate proves
    * integrity holds (a spec plants a broken edge and watches the
    * numbers move).
    *
    * Scale shape: each direction is a key-only anti-join — 8-byte keys,
    * never payload — plus count aggregates; parent key sets distinct
    * before the unreferenced probe. AQE picks build sides per edge. */
  def fkIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val edges = Seq(
      ("lineitem.l_orderkey->orders.o_orderkey",
        Tables.lineitem(spark, dir).select(col("l_orderkey").as("ck")),
        Tables.orders(spark, dir).select(col("o_orderkey").as("pk"))),
      ("orders.o_custkey->customer.c_custkey",
        Tables.orders(spark, dir).select(col("o_custkey").as("ck")),
        Tables.customer(spark, dir).select(col("c_custkey").as("pk"))))
    edges.map { case (name, child, parent) => fkAuditOf(name, child, parent) }
      .reduce(_ union _)
      .orderBy(col("fk_name"))
  }

  /** One FK edge's audit row — split out so a spec can plant a broken
    * edge (the q128 pattern). `child` is the FK column as `ck`, `parent`
    * the PK column as `pk`. */
  private[graft] def fkAuditOf(name: String, child: DataFrame, parent: DataFrame): DataFrame = {
    val stats = child.agg(count(lit(1)).as("n_child"))
    val orphans = child.join(parent.distinct(), col("ck") === col("pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val parents = parent.distinct().agg(count(lit(1)).as("n_parents"))
    val unref = parent.distinct()
      .join(child.distinct(), col("pk") === col("ck"), "left_anti")
      .agg(count(lit(1)).as("n_unreferenced"))
    stats.crossJoin(orphans).crossJoin(parents).crossJoin(unref)
      .select(lit(name).as("fk_name"), col("n_child"), col("n_orphans"),
        expr("n_orphans * 10000L div n_child").as("orphan_bp"),
        col("n_parents"), col("n_unreferenced"),
        expr("n_unreferenced * 10000L div n_parents").as("unreferenced_bp"))
  }

  /** Blocked entity resolution + golden record (q140) — the record-linkage
    * pipeline every data lake runs over customer/account tables: block by
    * coarse attributes, fuzzy-match names within blocks, take the
    * transitive closure as the entity, emit one canonical (golden) record
    * per entity. Here: blocks = (nation, market segment), match =
    * levenshtein(name) ≤ 1, entity id = min member key, merged balance in
    * exact integer cents.
    *
    * Scale shape: the pairwise comparison is an equi-join on the BLOCK KEY
    * with the edit-distance predicate applied post-join, so the quadratic
    * is bounded per block (at corpus scale you grow the blocking-key
    * cardinality — add name prefixes — exactly as ER practice prescribes;
    * AQE's skew split covers whale blocks). Clustering reuses
    * [[graft.dedup.Dedup.connectedComponents]] (pointer-jumping at scale,
    * driver union-find below the gate); the golden-record pass is one
    * hash aggregate over entity id. */
  def entityResolution(spark: SparkSession, dir: String): DataFrame =
    entityResolutionOf(Tables.customer(spark, dir))

  /** q140 on an arbitrary customer-shaped frame — split out so specs can
    * plant known duplicate clusters and blocking-boundary cases. */
  private[graft] def entityResolutionOf(c: DataFrame): DataFrame = {
    // r13 optimization (guide §2.5/§6 — parallelism floor): the block
    // join broadcasts the build side, so the edit-distance work runs at
    // the PROBE side's scan parallelism — 2 parquet splits at sf0.1, one
    // 3.2 s 2-task stage in the r13 probe. An explicit hash repartition
    // on (block, key) spreads the per-pair levenshtein across the
    // session's shuffle width — the (block, salt)-shaped exchange ER
    // practice uses anyway; it costs one pass of the node-sized table.
    val shuffleN = graft.Tables.shuffleWidth(c.sparkSession)
    val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
      .repartition(shuffleN, col("nk"), col("seg"), col("id_a"))
    val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
    val pairs = a.join(b, Seq("nk", "seg"))
      .filter(col("id_a") < col("id_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(pairs)
    c.join(comps, col("c_custkey") === col("id"), "left")
      .select(col("c_name"), col("c_acctbal"),
        coalesce(col("comp"), col("c_custkey")).as("entity_id"))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        min(col("c_name")).as("canonical_name"),
        sum(expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)")).as("total_bal_cents"))
      .orderBy(col("entity_id"))
  }

  /** k-anonymity / l-diversity audit (q141) — the privacy gate a
    * training-data release runs before shipping user-derived tables:
    * group by the quasi-identifier, measure how many rows sit in groups
    * smaller than k (re-identifiable) and how diverse the sensitive
    * attribute is within each group. QI = (nation, $1000 balance band),
    * sensitive = market segment, k = [[KAnonymityK]].
    *
    * Scale shape: two chained hash aggregates (rows → QI groups → size
    * histogram), both map-side combinable; the output is
    * histogram-sized. The balance band is offset before integer division
    * so negative balances can't split floor/truncate semantics across
    * engines. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOf(Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nk"),
        expr("(CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 1000000L) div 100000").as("band"),
        col("c_mktsegment").as("sensitive")))

  /** q141 on an arbitrary (nk, band, sensitive) frame — for planted
    * small-group / low-diversity spec scenarios. */
  private[graft] def kAnonymityOf(qi: DataFrame): DataFrame = {
    val groups = qi
      .groupBy("nk", "band")
      .agg(count(lit(1)).as("group_size"), countDistinct(col("sensitive")).as("l_div"))
    groups.groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"),
        min(col("l_div")).as("min_l_diversity"),
        max(col("l_div")).as("max_l_diversity"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_rows"),
        (col("group_size") < KAnonymityK).as("at_risk"),
        col("min_l_diversity"), col("max_l_diversity"))
      .orderBy(col("group_size"))
  }

  /** q141's k threshold — referenced by engine and oracle alike. */
  val KAnonymityK = 5

  /** Cross-split semantic decontamination (q142) — the embedding-space
    * twin of q62/q73's textual decontamination: an eval-split document
    * whose nearest TRAIN-split neighbor by cosine exceeds
    * [[SemanticLeakThreshold]] is a semantic leak (near-paraphrases that
    * n-gram overlap misses). Output: each eval vector's rank-1 train
    * neighbor and its leak verdict.
    *
    * Scale shape: the eval split is benchmark-suite-sized by construction,
    * so it broadcasts and the train corpus is scanned ONCE with the
    * per-query top-1 held in the map-side [[graft.similarity.TopKAggregator]]
    * — no shuffle of scored pairs (the q33 shape). At 100 TB you route
    * both sides through the IVF index first (q88's machinery) and re-rank
    * exactly — the brute pass here is also the recall oracle for that. */
  def semanticDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    semanticDecontamOf(
      embs.filter(col("vec_id") % 20 === 0),
      embs.filter(col("vec_id") % 20 =!= 0))
  }

  /** q142 on arbitrary eval/train splits — for planted leak scenarios. */
  private[graft] def semanticDecontamOf(evalSplit: DataFrame, trainSplit: DataFrame): DataFrame =
    Ann.bruteForceTopK(evalSplit, trainSplit, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        (col("cosine") >= SemanticLeakThreshold).as("leaked"))
      .orderBy(col("query_id"))

  /** q142's cosine leak threshold — engine and oracle share it. */
  val SemanticLeakThreshold = 0.40

  /** Robust MAD outlier detection (q143) — median/MAD is the
    * heavy-tail-safe outlier test (a single whale can't drag the fence
    * the way q128's mean/σ can). Per return flag over lineitem prices
    * binned to whole dollars: lower median, MAD, and the > 3·MAD outlier
    * count — all exact integers on the binned domain.
    *
    * Scale shape: the corpus collapses ONCE to the (flag, dollar)
    * histogram — map-side combinable, output bounded by the price domain,
    * memoized for its two consumers (median pass and deviation pass).
    * Medians come from running sums OVER THE HISTOGRAM (the q136 cum
    * idiom) — windows only ever see histogram rows, never lineitem rows;
    * the 3-row median/MAD frames broadcast back. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.SessionMemo.frame(spark, s"q143hist|$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT) div 100").as("dollars"))
        .groupBy("flag", "dollars")
        .agg(count(lit(1)).as("c"))
    }
    madOutliersOfHist(hist)
  }

  /** q143 on an arbitrary (flag, dollars, c) histogram — for planted
    * known-median/MAD spec scenarios. */
  private[graft] def madOutliersOfHist(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r13 note: a sharded-PrefixSum reroute of these two cumulative
    // passes was measured and REVERTED (2.1 s -> 6.1 s min): the frame is
    // value-DOMAIN-bounded (dollars x flag), so the flag-partitioned
    // window is the cheaper shape and not a scale hazard.
    val totals = hist.groupBy("flag").agg(sum(col("c")).as("n"))
    val cumW = Window.partitionBy(col("flag")).orderBy(col("dollars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("c")).over(cumW))
      .join(broadcast(totals), "flag")
      .filter(col("cum") >= expr("(n + 1L) div 2"))
      .groupBy("flag").agg(min(col("dollars")).as("med_dollars"))
    val dev = hist.join(broadcast(med), "flag")
      .select(col("flag"), abs(col("dollars") - col("med_dollars")).as("adev"), col("c"))
      .groupBy("flag", "adev").agg(sum(col("c")).as("c"))
    val cumW2 = Window.partitionBy(col("flag")).orderBy(col("adev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev.withColumn("cum", sum(col("c")).over(cumW2))
      .join(broadcast(totals), "flag")
      .filter(col("cum") >= expr("(n + 1L) div 2"))
      .groupBy("flag").agg(min(col("adev")).as("mad_dollars"))
    hist.join(broadcast(med), "flag").join(broadcast(mad), "flag")
      .groupBy("flag")
      .agg(sum(col("c")).as("n_rows"),
        min(col("med_dollars")).as("med_dollars"),
        min(col("mad_dollars")).as("mad_dollars"),
        sum(when(abs(col("dollars") - col("med_dollars")) > col("mad_dollars") * 3L,
          col("c")).otherwise(0L)).as("n_outliers"))
      .select(col("flag"), col("n_rows"), col("med_dollars"), col("mad_dollars"),
        col("n_outliers"), expr("n_outliers * 10000L div n_rows").as("outlier_bp"))
      .orderBy(col("flag"))
  }

  /** Exact equal-frequency decile binning (q144) — the feature-engineering
    * bucketizer (and training-curriculum difficulty binning) done EXACTLY:
    * every order ranked by (price cents, key), bin = (rank−1)·10 div n.
    *
    * Scale shape: the global rank comes from [[graft.operators.PrefixSum]]
    * — per-bucket window shards keyed by a monotone price prefix plus a
    * histogram-sized offset frame — so there is NO single-partition
    * window anywhere in the plan (PlanSpec pins it); the per-bin
    * aggregate is one map-side-combinable shuffle of (bin, cents). */
  def equalFreqBins(spark: SparkSession, dir: String): DataFrame =
    equalFreqBinsOf(Tables.orders(spark, dir)
      .select(col("o_orderkey"), expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents")))

  /** q144 on an arbitrary (o_orderkey, cents) frame — for planted
    * known-rank spec scenarios. */
  private[graft] def equalFreqBinsOf(keyed: DataFrame): DataFrame = {
    val o = keyed.withColumn("one", lit(1L))
    val ranked = graft.operators.PrefixSum.runningSum(
      o, Seq.empty, Seq("cents", "o_orderkey"), "one", expr("cents div 500000"), "rnk")
    val n = o.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .select(col("cents"), expr("((rnk - 1L) * 10L) div n").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_orders"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("bin"))
  }

  /** q145 conversion rule: a user "converts" when they log at least this
    * many purchase events (≈ the 46th percentile of the harness generator
    * at every SF, so both experiment arms see a mixed outcome). Shared
    * with the oracle builder — generated-constant pattern. */
  private[graft] val AbConvPurchases = 14L

  /** Deterministic A/B experiment readout (q145) — the product-analytics
    * half of a training pipeline: every user is hash-assigned to an arm
    * (portable md5-derived h31 of the user id, mod 2 — the standard
    * stateless bucketing that needs no assignment table), the conversion
    * metric is exact, and the 2×2 Pearson chi-square significance test is
    * run in EXACT integer cross-multiplied form:
    *
    *   1000·N·(ad−bc)² ≥ 3841·r₁·r₂·c₁·c₂   (3.841 = χ²₀.₉₅, df=1)
    *
    * so the verdict is bit-portable (no float sqrt/ln anywhere). The
    * cross-multiply is DECIMAL(38,0) — exact past 10⁷ users; beyond that
    * a deployment divides all four cells by a common factor first (the
    * test statistic is scale-invariant to first order and the verdict at
    * that N is dominated by the lift sign — noted, not hidden).
    *
    * Scale shape: one user-keyed aggregate (map-side combinable), one
    * 2-row arm aggregate, one broadcast of the 1-row scalar frame back.
    * Nothing corpus-sized crosses the wire after the first shuffle. */
  def abExperiment(spark: SparkSession, dir: String): DataFrame =
    abExperimentOf(Tables.events(spark, dir))

  private[graft] def abExperimentOf(events: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val users = events
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"))
      .select(
        when(col("n_purch") >= AbConvPurchases, 1L).otherwise(0L).as("conv"),
        when(element_at(md5_token_hashes(array(col("user_id").cast("string")), 31), 1) % 2L === 0L,
          "control").otherwise("treatment").as("variant"))
    // ONE global reduction to the 2×2 table — everything downstream
    // (arm rows, lift, significance) derives from this single row, so
    // the corpus is scanned and user-aggregated exactly once.
    val scalar = users.agg(
      sum(when(col("variant") === "control", col("conv")).otherwise(0L)).as("a"),
      sum(when(col("variant") === "control", lit(1L) - col("conv")).otherwise(0L)).as("b"),
      sum(when(col("variant") === "treatment", col("conv")).otherwise(0L)).as("c"),
      sum(when(col("variant") === "treatment", lit(1L) - col("conv")).otherwise(0L)).as("d"))
    scalar
      .select(
        explode(array(
          struct(lit("control").as("variant"), expr("a + b").as("n_users"),
            col("a").as("n_converted")),
          struct(lit("treatment").as("variant"), expr("c + d").as("n_users"),
            col("c").as("n_converted")))).as("r"),
        expr("c * 10000L div (c + d) - a * 10000L div (a + b)").as("lift_bp"),
        (expr("CAST(1000 AS DECIMAL(38,0)) * CAST(a + b + c + d AS DECIMAL(38,0))" +
          " * CAST(a * d - b * c AS DECIMAL(38,0)) * CAST(a * d - b * c AS DECIMAL(38,0))") >=
          expr("CAST(3841 AS DECIMAL(38,0)) * CAST(a + b AS DECIMAL(38,0))" +
            " * CAST(c + d AS DECIMAL(38,0)) * CAST(a + c AS DECIMAL(38,0))" +
            " * CAST(b + d AS DECIMAL(38,0))")).as("significant_95"))
      .select(col("r.variant"), col("r.n_users"), col("r.n_converted"),
        expr("r.n_converted * 10000L div r.n_users").as("cvr_bp"),
        col("lift_bp"), col("significant_95"))
      .orderBy(col("variant"))
  }

  /** q146 IDF fixed point: one surprisal micro-unit = 1e-6 of an
    * inverse-document-frequency ratio. */
  private[graft] val IdfScale = 1000000L

  /** IDF-surprisal document quality (q146) — the integer-exact stand-in
    * for the CCNet/Gopher "LM perplexity" quality prior: a document full
    * of corpus-common tokens scores low, one full of rare tokens scores
    * high. Per distinct token, surprisal = ⌊1e6·N/df⌋ (df = number of
    * docs containing the token); per doc, the mean over its distinct
    * tokens; reported per language with min/max spread. All BIGINT — no
    * ln(), so the oracle replays it exactly.
    *
    * Scale shape: tokens shuffle as 8-byte md5-h60 keys (the q64
    * discipline — never raw strings); df is a vocab-sized aggregate with
    * map-side partial combine absorbing stopword skew; the df join back
    * to the (doc, token) frame is vocab-vs-corpus — AQE broadcasts the
    * df side at harness SF and shuffle-joins at corpus scale; everything
    * after is doc-keyed and map-side combinable. */
  def idfQuality(spark: SparkSession, dir: String): DataFrame =
    idfQualityOf(Tables.documents(spark, dir))

  private[graft] def idfQualityOf(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val docTok = docs.select(col("doc_id"), col("lang"),
      explode(md5_token_hashes(array_distinct(split(col("text"), " ")), 60)).as("tk"))
    val dfCounts = docTok.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_total"))
    docTok
      .join(dfCounts, "tk")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(expr(s"($IdfScale * n_total) div df")).as("s"), count(lit(1)).as("c"))
      .select(col("lang"), expr("s div c").as("surprisal_u"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(surprisal_u) div count(1)").as("mean_surprisal_u"),
        min(col("surprisal_u")).as("min_surprisal_u"),
        max(col("surprisal_u")).as("max_surprisal_u"))
      .orderBy(col("lang"))
  }

  /** q148 burst-bot rule constants, shared with the oracle: a "fast"
    * inter-event gap is ≤ 10 minutes (the harness median gap is ~7 h, so
    * fast gaps are the ~1.5% tail); a user is flagged when they have ≥ 20
    * events and ≥ 3% of their gaps are fast. */
  private[graft] val BotFastGapUs = 600000000L
  private[graft] val BotMinEvents = 20L
  private[graft] val BotFastBp = 300L

  /** Behavioral bot/burst detection (q148) — the abuse-filtering pass an
    * event pipeline runs before events feed training or analytics: per
    * user, exact inter-event gap statistics (ordered by microsecond
    * timestamp with event_id as the deterministic tie-break) and a flag
    * for burst-heavy actors. All integer microseconds.
    *
    * Scale shape: ONE corpus shuffle, keyed by user_id — the lag window
    * and the aggregate share the user partitioning (the window's sort is
    * per-user, never global; PlanSpec pins no single-partition window).
    * Whale users are a bounded per-key sort; AQE's skew handling and the
    * q107 salting audit cover the pathological case. */
  def botDetection(spark: SparkSession, dir: String): DataFrame =
    botDetectionOf(Tables.events(spark, dir))

  private[graft] def botDetectionOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        count(col("gap_us")).as("n_gaps"),
        sum(when(col("gap_us") <= BotFastGapUs, 1L).otherwise(0L)).as("n_fast"),
        sum(col("gap_us")).as("sum_gap"))
      .filter(col("n_gaps") > 0)
      .select(col("user_id"), col("n_events"), col("span_us"),
        expr("sum_gap div n_gaps").as("mean_gap_us"),
        expr("n_fast * 10000L div n_gaps").as("fast_bp"))
      .withColumn("is_bot",
        col("n_events") >= BotMinEvents && col("fast_bp") >= BotFastBp)
      .orderBy(col("user_id"))
  }

  /** q147 containment constants, shared with the oracle: word-3-gram
    * shingles, "discriminative" = gram appears in ≤ 50 docs (the
    * hot-shingle cut that bounds the self-join fan-out at corpus scale),
    * report pairs where ≥ 80% of the smaller doc's discriminative grams
    * appear in the larger doc. */
  private[graft] val ContainGramLen = 3
  private[graft] val ContainMaxDf = 50L
  private[graft] val ContainBp = 8000L

  /** Asymmetric document containment (q147) — the quote/subset detector
    * Jaccard dedup misses: a short doc pasted inside a longer one has low
    * Jaccard but near-total containment |A∩B|/|A|. Computed exactly over
    * each doc's DISTINCT word-3-gram shingles, restricted to
    * discriminative grams (df ≤ [[ContainMaxDf]]) — boilerplate shingles
    * shared by half the corpus carry no copy signal and would otherwise
    * make the gram self-join quadratic in the hottest key. The cut is
    * part of the operator's semantics and is mirrored verbatim in the
    * oracle.
    *
    * Scale shape: grams shuffle as 8-byte md5-h60 keys; the df cut bounds
    * every gram's join fan-out at ContainMaxDf², so candidate volume is
    * ≤ df-capped-gram-count · ContainMaxDf — linear in the corpus, never
    * all-pairs (the q27/q73 banding discipline, with df as the band). */
  def docContainment(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: the df-capped gram postings persist per (session,
    // dir) — un-persisted, the corpus tokenize + md5 + explode ran FOUR
    // times per call (df histogram, postings filter, size aggregate, both
    // self-join sides); one cached build serves them all and every bench
    // replay (the q235sets discipline).
    docContainmentOf(Tables.documents(spark, dir),
      memoRg = g => graft.SessionMemo.frame(spark, s"q147rg|$dir")(g))

  private[graft] def docContainmentOf(
      docs: DataFrame, maxDf: Long = ContainMaxDf,
      memoRg: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    // Tables.fan (r13): the gram explode + md5 is map-side on the scan.
    val toks = graft.Tables.fan(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= ContainGramLen)
    val grams = toks
      .select(col("doc_id"), explode(array_distinct(md5_token_hashes(
        expr(s"transform(sequence(1, size(t) - ${ContainGramLen - 1})," +
          s" i -> concat_ws(' ', slice(t, i, $ContainGramLen)))"), 60))).as("g"))
    val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") <= maxDf)
      .select(col("g"))
    val rg = memoRg(grams.join(rare, "g"))
    val sizes = rg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // Explicit width on the gram self-join (the q235 verify rule): the
    // postings are a few MB but the pair stage is CPU-shaped — AQE's
    // byte-based coalescing funneled it into ONE 2.4 s task at sf0.1.
    val shuffleN = graft.Tables.shuffleWidth(docs.sparkSession)
    val rgW = rg.repartition(shuffleN, col("g"))
    val pairs = rgW.alias("a")
      .join(rgW.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n_grams").as("n_grams_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_grams").as("n_grams_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_grams_a"), col("n_grams_b"), col("shared"),
        expr("shared * 10000L div n_grams_a").as("containment_bp"))
      .filter(col("containment_bp") >= ContainBp &&
        (col("n_grams_a") < col("n_grams_b") ||
          (col("n_grams_a") === col("n_grams_b") && col("id_a") < col("id_b"))))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Token-distribution concentration audit (q150) — the Zipf-shape
    * check run before vocabulary/tokenizer decisions: per language, how
    * much of the token mass the 10 most frequent types capture and how
    * much of the vocabulary is hapax legomena (singletons). Exact
    * integers; rank ties broken by token string so the top-10 cut is a
    * total order in both engines.
    *
    * Scale shape: one corpus-sized map-side-combinable (lang, token)
    * count; everything after (rank window, reductions) runs on the
    * VOCAB-sized frame, partitioned by language. */
  def tokenConcentration(spark: SparkSession, dir: String): DataFrame =
    tokenConcentrationOf(Tables.documents(spark, dir))

  private[graft] def tokenConcentrationOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("c").desc, col("tok"))
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(w))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("total_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(when(col("rnk") <= 10, col("c")).otherwise(0L)).as("top10_mass"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("singletons"))
      .select(col("lang"), col("total_tokens"), col("distinct_tokens"),
        expr("top10_mass * 10000L div total_tokens").as("top10_bp"),
        col("singletons"),
        expr("singletons * 10000L div distinct_tokens").as("singleton_bp"))
      .orderBy(col("lang"))
  }

  /** Same-order co-purchase recommendations (q154) — the market-basket
    * "customers who bought X also bought Y" primitive: distinct
    * (order, part) incidence, within-order part pairs, top-20 by
    * co-occurrence with exact integer lift vs independence (the q133
    * basket idiom applied to the ITEM key space). The top-20 cut runs
    * BEFORE the lift joins, so the per-part support lookups touch 20
    * rows, not the pair space.
    *
    * Scale shape: pair fan-out is Σ_order |basket|² with baskets a few
    * items each — linear in lineitem; the pair aggregate partial-combines
    * map-side; the cut is TakeOrdered; support joins broadcast onto 20
    * rows. A pathological whale basket is the q107 salting case. */
  def coPurchase(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: the incidence frame and the within-order pair
    // counts ride the cross-query memos ([[coPurchaseIncidence]] /
    // [[coPurchasePairCounts]]) — the quadratic pair join is shared with
    // the q177/q190/q195/q205/q314 edge memo instead of re-run here.
    coPurchaseOf(coPurchaseIncidence(spark, dir),
      Some(coPurchasePairCounts(spark, dir)), alreadyDistinct = true)

  private[graft] def coPurchaseOf(orderParts: DataFrame,
      memoPairCounts: Option[DataFrame] = None,
      alreadyDistinct: Boolean = false): DataFrame = {
    val li =
      if (alreadyDistinct) orderParts.select(col("ok"), col("pk"))
      else orderParts.select(col("ok"), col("pk")).distinct()
    val pairCounts = memoPairCounts.getOrElse(li.alias("a")
      .join(li.alias("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("n_co")))
    val top = pairCounts
      .select(col("u").as("part_a"), col("v").as("part_b"), col("n_co"))
      .orderBy(col("n_co").desc, col("part_a"), col("part_b"))
      .limit(20)
    val support = li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val total = li.agg(countDistinct(col("ok")).as("total"))
    top
      .join(broadcast(support.select(col("pk").as("part_a"), col("n").as("n_a"))), "part_a")
      .join(broadcast(support.select(col("pk").as("part_b"), col("n").as("n_b"))), "part_b")
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_co"), col("n_a"), col("n_b"),
        expr("n_co * total * 10000L div (n_a * n_b)").as("lift_bp"))
      .orderBy(col("n_co").desc, col("part_a"), col("part_b"))
  }

  /** q155 horizon: report the first 14 daily hazard rows. */
  private[graft] val SurvivalDays = 14

  /** Discrete survival / hazard curve (q155) — time-to-conversion the
    * way survival analysis frames it, with CENSORING done right: per
    * signup user, event time = days from first signup to first
    * subsequent purchase; users without one are censored at the end of
    * the observation window (global max event time). For each day d:
    * at_risk(d) = users still unconverted AND uncensored entering d,
    * events(d) = conversions on d, hazard_bp exact. The naive
    * "conversion rate by day" over-counts late cohorts; the risk-set
    * denominator is the correct estimator (discrete Kaplan–Meier).
    *
    * Scale shape: one user-keyed reduction to (offset, censor) — the
    * corpus-sized work; exit/event histograms are day-count-sized, and
    * the running risk-set sum is a window over that METADATA-sized frame
    * (single partition of ~tens of rows — the q143 histogram idiom). */
  def survivalHazard(spark: SparkSession, dir: String): DataFrame =
    survivalHazardOf(Tables.events(spark, dir))

  private[graft] def survivalHazardOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
    val tEnd = e.agg(max(col("us")).as("t_end"))
    val fs = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("fs"))
    val fp = e.filter(col("event_type") === "purchase")
      .join(fs, "user_id")
      .filter(col("us") >= col("fs"))
      .groupBy(col("user_id")).agg(min(col("us")).as("fp"))
    val users = fs.join(fp, Seq("user_id"), "left").crossJoin(broadcast(tEnd))
      .select(
        expr("(fp - fs) div 86400000000L").as("conv_off"), // null if unconverted
        expr("(t_end - fs) div 86400000000L").as("cens_off"))
      .select(col("conv_off"),
        when(col("conv_off").isNotNull, least(col("conv_off"), col("cens_off")))
          .otherwise(col("cens_off")).as("exit_off"))
    val exits = users.groupBy(col("exit_off")).agg(
      count(lit(1)).as("n_exit"),
      sum(when(col("conv_off") === col("exit_off"), 1L).otherwise(0L)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("exit_off"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // n_total rides a second window over the SAME day-sized frame — a
    // scalar-aggregate branch would re-derive the corpus pipeline twice.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    exits
      .withColumn("exited_before", coalesce(sum(col("n_exit")).over(w), lit(0L)))
      .withColumn("n_total", sum(col("n_exit")).over(wAll))
      .select(col("exit_off").as("day"), expr("n_total - exited_before").as("at_risk"),
        col("n_events"),
        expr("n_events * 10000L div (n_total - exited_before)").as("hazard_bp"))
      .filter(col("day") < SurvivalDays && col("day") >= 0)
      .orderBy(col("day"))
  }

  /** Three-step ordered funnel (q156) — strict event-order funnels
    * (signup → first view AFTER it → first purchase AFTER that view),
    * where q89/q136 check one window-bound step and q132 discovers
    * unordered paths. Each step's anchor is the MIN qualifying time
    * after the previous step's anchor, per user.
    *
    * Scale shape: three user-keyed aggregates and two user-keyed joins —
    * one natural partitioning end to end (the exchanges reuse it); the
    * final 3-row readout derives from three scalar counts. */
  def funnelThreeStep(spark: SparkSession, dir: String): DataFrame =
    funnelThreeStepOf(Tables.events(spark, dir))

  private[graft] def funnelThreeStepOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
    val fs = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("fs"))
    val fv = e.filter(col("event_type") === "view").join(fs, "user_id")
      .filter(col("us") > col("fs"))
      .groupBy(col("user_id")).agg(min(col("us")).as("fv"))
    val fp = e.filter(col("event_type") === "purchase").join(fv, "user_id")
      .filter(col("us") > col("fv"))
      .groupBy(col("user_id")).agg(min(col("us")).as("fp"))
    // ONE per-user frame → one aggregate. The fs/fv subtrees recur in
    // later branches (each anchor re-derives its predecessor); every
    // branch is a type-filtered scan (predicate pushed to parquet) +
    // user-keyed aggregate, so the repeated work is the signup/view
    // slices, never the full corpus. A serving deployment memoizes the
    // per-user anchor frame instead.
    val scalar = fs
      .join(fv, Seq("user_id"), "left")
      .join(fp, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n0"), count(col("fv")).as("n1"), count(col("fp")).as("n2"))
    scalar
      .select(explode(array(
        struct(lit(1).as("step_no"), lit("signup").as("step"),
          col("n0").as("n_users"), lit(10000L).as("conv_bp")),
        struct(lit(2).as("step_no"), lit("view_after_signup").as("step"),
          col("n1").as("n_users"), expr("n1 * 10000L div n0").as("conv_bp")),
        struct(lit(3).as("step_no"), lit("purchase_after_view").as("step"),
          col("n2").as("n_users"), expr("n2 * 10000L div n1").as("conv_bp")))).as("r"))
      .select(col("r.step_no"), col("r.step"), col("r.n_users"), col("r.conv_bp"))
      .orderBy(col("step_no"))
  }

  /** Mutual nearest neighbors (q157) — the bitext-mining / dataset-pairing
    * primitive (cf. margin-based mining for parallel corpora): pairs
    * where each side is the OTHER's top-1 neighbor. Mutuality is the
    * standard high-precision filter on top of raw top-1 retrieval; the
    * globally closest pair is always mutual, so the result is never
    * empty for n ≥ 2. Runs on the vec_id % 10 probe subset (the q33
    * probe discipline); the rank-1 lists are row-per-point, so the
    * mutuality self-join is metadata-sized.
    *
    * Scale shape: the scoring pass is the q33 broadcast shape (queries
    * broadcast over one corpus scan, map-side TopKAggregator); at corpus
    * scale the IVF route (q49/q80) generates the candidates and this
    * brute pass is its recall oracle. */
  def mutualNn(spark: SparkSession, dir: String): DataFrame =
    mutualNnOf(Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0 && col("embedding").isNotNull))

  private[graft] def mutualNnOf(s: DataFrame): DataFrame = {
    val t1 = Ann.bruteForceTopK(s, s, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    t1.alias("x").join(t1.alias("y"),
        col("x.query_id") === col("y.neighbor_id") &&
        col("x.neighbor_id") === col("y.query_id") &&
        col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine").as("cosine"))
      .orderBy(col("id_a"))
  }

  /** Daily OHLC bars (q158) — the time-series downsampling every metrics
    * store runs (open/high/low/close per key per bucket): exact
    * floor-cents, open/close picked by min_by/max_by over the
    * deterministic (µs, event_id) total order — never a "first row in
    * file order" nondeterminism. One map-side-combinable aggregate
    * (min_by/max_by are semigroups), one shuffle on (type, day). */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    ohlcBarsOf(Tables.events(spark, dir))

  private[graft] def ohlcBarsOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("unix_micros(ts)").as("us"), col("event_id"),
        expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull)
      .groupBy(col("event_type"), expr("us div 86400000000L").as("day"))
      .agg(count(lit(1)).as("n_events"),
        expr("min_by(cents, struct(us, event_id))").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        expr("max_by(cents, struct(us, event_id))").as("close_cents"))
      .orderBy(col("event_type"), col("day"))

  /** Source-diversity audit (q159) — corpus-mix monitoring without
    * logarithms: per language, the Simpson concentration Σpᵢ² in exact
    * basis points (= collision probability of two random docs sharing a
    * source) and the effective source count N²/Σnᵢ² ×100 — the
    * integer-exact stand-ins for entropy/perplexity of the source mix.
    * Two chained map-side-combinable aggregates; arithmetic is BIGINT
    * (exact to ~4·10⁸ docs per language; past that, lift the squares to
    * DECIMAL(38,0) — same bound note as q145). */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame =
    sourceDiversityOf(Tables.documents(spark, dir))

  private[graft] def sourceDiversityOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_sources"),
        sum(expr("n * n")).as("ss"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("ss * 10000L div (n_docs * n_docs)").as("simpson_bp"),
        expr("n_docs * n_docs * 100L div ss").as("eff_sources_x100"))
      .orderBy(col("lang"))

  /** q162 constants: per-item partner-list truncation (the production
    * item-kNN index is a top-N similar-items table, not the full pair
    * matrix) and the evaluated cutoff grid. */
  private[graft] val RecsPartnerTopN = 10
  private[graft] val RecsKs = Seq(1, 3, 5)

  /** Offline recommendation backtest (q162) — the eval harness every
    * recommender ships with: hold out each customer's LATEST order,
    * train the q154-style co-occurrence model on the REMAINING orders
    * only (no leakage), recommend by item-kNN (score(candidate) =
    * Σ over history items of their train co-count, over each item's
    * top-[[RecsPartnerTopN]] partner list), and report exact
    * hit-rate@k for k ∈ {1,3,5}. All ranking orders are total
    * ((score desc, part), (count desc, partner)) so the oracle replays
    * them exactly.
    *
    * Scale shape: train pairs aggregate map-side; the partner-list
    * truncation is a window over the PAIR frame (partitioned by item) —
    * the same cut that bounds the history⋈partners fan-out at
    * |history|·N per customer instead of |history|·deg(item); candidate
    * scoring and the per-customer top-k are customer-keyed. */
  def recsBacktest(spark: SparkSession, dir: String): DataFrame =
    recsBacktestOf(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")))

  private[graft] def recsBacktestOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ow = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val ord = orders
      .withColumn("rn", row_number().over(ow))
      .withColumn("n_orders", count(lit(1)).over(Window.partitionBy("o_custkey")))
      .filter(col("n_orders") >= 2)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"),
        (col("rn") === 1).as("holdout"))
    val baskets = ord.join(lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), "ok")
      .select(col("cust"), col("ok"), col("pk"), col("holdout")).distinct()
    val train = baskets.filter(!col("holdout"))
    val test = baskets.filter(col("holdout")).select(col("cust"), col("pk")).distinct()
    // symmetric train co-occurrence, truncated to each item's top-N.
    val pairs = train.alias("a")
      .join(train.alias("b"), col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("item"), col("b.pk").as("partner"))
      .agg(count(lit(1)).as("co"))
    val pw = Window.partitionBy("item").orderBy(col("co").desc, col("partner"))
    val topPartners = pairs.withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= RecsPartnerTopN)
      .select(col("item"), col("partner"), col("co"))
    // history items per customer → candidate scores.
    val history = train.select(col("cust"), col("pk")).distinct()
    val cands = history
      .join(topPartners, col("pk") === col("item"))
      .groupBy(col("cust"), col("partner"))
      .agg(sum(col("co")).as("score"))
      // never recommend something already in the history.
      .join(history.select(col("cust"), col("pk").as("partner")), Seq("cust", "partner"), "left_anti")
    val cw = Window.partitionBy("cust").orderBy(col("score").desc, col("partner"))
    val ranked = cands.withColumn("crn", row_number().over(cw))
      .filter(col("crn") <= RecsKs.max)
    // hit@k: any rec with rank <= k inside the holdout basket. ONE
    // aggregate produces every cutoff's count; the k-rows explode from
    // the scalar (the q145 readout pattern — no per-k driver actions).
    val hits = ranked.join(test.withColumnRenamed("pk", "partner"), Seq("cust", "partner"))
      .groupBy(col("cust")).agg(min(col("crn")).as("best_rank"))
    val scalar = test.select(col("cust")).distinct()
      .join(hits, Seq("cust"), "left")
      .agg(count(lit(1)).as("n_customers"),
        RecsKs.map(k =>
          sum(when(col("best_rank") <= k, 1L).otherwise(0L)).as(s"h$k")): _*)
    scalar
      .select(explode(array(RecsKs.map(k =>
        struct(lit(k.toLong).as("k"), col("n_customers"),
          col(s"h$k").as("n_hits"),
          expr(s"h$k * 10000L div n_customers").as("hitrate_bp"))): _*)).as("r"))
      .select(col("r.k"), col("r.n_customers"), col("r.n_hits"), col("r.hitrate_bp"))
      .orderBy(col("k"))
  }

  /** Daily co-movement audit (q163) — does one event type's daily volume
    * move with another's (error spikes tracking traffic, purchases
    * tracking views)? Pearson correlation WITHOUT float division or
    * sqrt: with per-day counts x, y over the n jointly-observed days,
    *   cov_n  = n·Σxy − Σx·Σy,  varx_n = n·Σx² − (Σx)²  (exact BIGINT),
    * sign(cov_n) = sign(r), and |r| ≥ ½  ⇔  4·cov_n² ≥ varx_n·vary_n —
    * the q145 cross-multiply trick, so the strong-co-movement verdict is
    * bit-portable.
    *
    * Scale shape: the corpus collapses to the (day, type) count frame —
    * days×types rows, METADATA-sized — and everything after (the pair
    * self-join on day, the pair reduction) runs on that frame. */
  def dailyCorrelation(spark: SparkSession, dir: String): DataFrame =
    dailyCorrelationOf(Tables.events(spark, dir))

  private[graft] def dailyCorrelationOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("unix_micros(ts) div 86400000000L").as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    daily.alias("a")
      .join(daily.alias("b"),
        col("a.day") === col("b.day") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a.c")).as("sx"), sum(col("b.c")).as("sy"),
        sum(expr("a.c * a.c")).as("sxx"), sum(expr("b.c * b.c")).as("syy"),
        sum(expr("a.c * b.c")).as("sxy"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        expr("n_days * sxy - sx * sy").as("cov_n"),
        expr("n_days * sxx - sx * sx").as("varx_n"),
        expr("n_days * syy - sy * sy").as("vary_n"))
      .select(col("type_a"), col("type_b"), col("n_days"), col("cov_n"),
        (col("cov_n") > 0).as("positive"),
        expr("4 * cov_n * cov_n >= varx_n * vary_n AND varx_n > 0 AND vary_n > 0")
          .as("strong"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q164 constants: $10 value bins, week-1 vs rest split, drift flag at
    * TVD ≥ 5%. */
  private[graft] val DriftBinCents = 1000L
  private[graft] val DriftSplitDay = 7L
  private[graft] val DriftTvdBp = 500L

  /** Purchase-value distribution drift (q164) — the data-drift monitor a
    * serving pipeline runs between a reference window and fresh data:
    * total-variation distance between the week-1 and rest-of-month
    * purchase-value histograms ($10 bins), computed EXACTLY in integers
    * with the common-denominator form
    *   tvd_bp = 10⁴ · Σᵢ |aᵢ·N₂ − bᵢ·N₁| / (2·N₁·N₂)
    * (no per-bin float division — the PSI/KL alternatives need ln and
    * are not bit-portable).
    *
    * Scale shape: one pushed-filter scan → (bin, window) count →
    * bin-count-sized reduction. */
  def valueDrift(spark: SparkSession, dir: String): DataFrame =
    valueDriftOf(Tables.events(spark, dir))

  private[graft] def valueDriftOf(events: DataFrame): DataFrame = {
    val p = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(expr(s"CAST(FLOOR(value * 100) AS BIGINT) div $DriftBinCents").as("bin"),
        expr("unix_micros(ts) div 86400000000L").as("day"))
    // reference-window anchor as a broadcast scalar — an OVER () window
    // here would be a corpus-sized single-partition sort.
    val d0 = p.agg(min(col("day")).as("d0"))
    val binned = p.crossJoin(broadcast(d0))
      .select(col("bin"), (col("day") - col("d0") < DriftSplitDay).as("week1"))
    val h = binned.groupBy(col("bin"))
      .agg(sum(when(col("week1"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("week1"), 1L).otherwise(0L)).as("b"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    h
      .withColumn("n1", sum(col("a")).over(wAll))
      .withColumn("n2", sum(col("b")).over(wAll))
      .agg(count(lit(1)).as("n_bins"),
        min(col("n1")).as("n_week1"), min(col("n2")).as("n_rest"),
        sum(expr("abs(a * n2 - b * n1)")).as("num"))
      .select(col("n_bins"), col("n_week1"), col("n_rest"),
        expr("num * 10000L div (2 * n_week1 * n_rest)").as("tvd_bp"))
      .withColumn("drifted", col("tvd_bp") >= DriftTvdBp)
  }

  /** Weekly seasonality profile (q165) — the (day-of-week × hour) load
    * matrix capacity planning and anomaly baselines read: exact counts,
    * share of total in bp, and a peak flag at ≥ 2× the uniform share.
    * Day-of-week is pure epoch arithmetic ((day+3) mod 7, Monday = 0 —
    * 1970-01-01 was a Thursday) so both engines agree without calendar
    * functions. One map-side-combinable aggregate to 168 rows. */
  def seasonalityProfile(spark: SparkSession, dir: String): DataFrame =
    seasonalityProfileOf(Tables.events(spark, dir))

  private[graft] def seasonalityProfileOf(events: DataFrame): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    events
      .select(expr("unix_micros(ts) div 86400000000L").as("day_id"),
        expr("(unix_micros(ts) div 3600000000L) % 24").as("hour"))
      .groupBy(expr("(day_id + 3) % 7").as("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("total", sum(col("n_events")).over(wAll))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("n_events * 10000L div total").as("share_bp"),
        expr("n_events * 168L >= 2L * total").as("peak"))
      .orderBy(col("dow"), col("hour"))
  }

  /** Session trajectory export (q166) — the "agent trajectory" /
    * clickstream serialization step of a behavioral training pipeline:
    * each multi-event session (q23's 30-minute gap rule) becomes ONE
    * ordered record — `type@offset_s` tokens joined in the deterministic
    * (µs, event_id) order — ready to tokenize. Offsets are
    * session-relative seconds, so the string is stable across time
    * shifts of the whole session.
    *
    * Scale shape: one user-keyed shuffle shared by the gap window and
    * the session aggregate; per-session state is the session's own
    * events (array_sort over a collected struct list — bounded by
    * session length, the same bound any sessionizer carries). */
  def sessionExport(spark: SparkSession, dir: String): DataFrame =
    sessionExportOf(Tables.events(spark, dir))

  private[graft] def sessionExportOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) >= 1800000000L ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("start_us"), count(lit(1)).as("n_events"),
        expr("(max(us) - min(us)) div 1000000L").as("duration_s"),
        collect_list(struct(col("us"), col("event_id"), col("event_type"))).as("evs"))
      .filter(col("n_events") >= 2)
      .select(col("user_id"), col("start_us"), col("n_events"), col("duration_s"),
        expr("array_join(transform(array_sort(evs)," +
          " x -> concat(x.event_type, '@', CAST((x.us - start_us) div 1000000L AS STRING))), ' ')")
          .as("trajectory"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** Right-to-be-forgotten purge (q167) — the GDPR deletion job every
    * event store runs, composed from in-repo parts: tombstone list =
    * q148's burst-bot flags (a deterministic stand-in for a deletion
    * queue), purge = key-only anti-join rewrite of the published table,
    * audit = counts + portable content hash computed FROM THE REWRITTEN
    * FILES (the oracle computes the same from the source table — hash
    * equality proves the rewrite removed exactly the flagged users'
    * events and nothing else).
    *
    * Scale shape: the tombstone frame is key-only (broadcast at any
    * realistic deletion-queue size); the rewrite is one anti-join scan;
    * the audit is one aggregate over the rewritten table. Memoized per
    * (session, dir) like the other maintenance rows (q99/q105). */
  def gdprPurge(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.memo(spark, s"q167|$dir") {
      gdprPurgeOf(Tables.events(spark, dir))
    }

  private[graft] def gdprPurgeOf(events: DataFrame): DataFrame = {
      val spark = events.sparkSession
      val work = graft.SessionMemo.workDir(spark, "graft_purge").toString
      val tombstones = botDetectionOf(events)
        .filter(col("is_bot")).select(col("user_id"))
      events
        .join(broadcast(tombstones), Seq("user_id"), "left_anti")
        .write.parquet(s"$work/events_purged")
      val after = spark.read.parquet(s"$work/events_purged")
      val idHash = graft.functions.PortableHashFunctions
        .md5_token_hashes(array(col("event_id").cast("string")), bits = 31)
        .getItem(0)
      val beforeCounts = events.agg(count(lit(1)).as("n_before"))
      val flagged = tombstones.agg(count(lit(1)).as("n_users_flagged"))
      after
        .agg(count(lit(1)).as("n_after"), sum(idHash).as("sum_id_hash_after"),
          sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("n_valued_after"))
        .crossJoin(broadcast(beforeCounts))
        .crossJoin(broadcast(flagged))
        .select(col("n_users_flagged"), col("n_before"),
          expr("n_before - n_after").as("n_removed"),
          col("n_after"), col("n_valued_after"), col("sum_id_hash_after"))
    }

  /** RFM scoring (q168) — the classic customer-feature block (recency /
    * frequency / monetary) with EXACT quintile scores: each dimension
    * ranks all users by (metric, user_id) and scores with the q144 rule
    * (rank−1)·5 div n (NTILE's remainder placement differs between
    * engines — this rule is total and portable). Output: per-user R/F/M
    * raw values + 1..5 scores + the combined segment code.
    *
    * Scale shape: one user-keyed reduction; the three exact quintile
    * ranks run through [[graft.operators.GlobalRank]] — range-partitioned
    * block-local rank + broadcast offsets (round-7 verdict #3: implement
    * the sharded path, don't document it) — so no single-partition window
    * ever touches the user-sized frame. n_users is a 1-row scalar
    * aggregate broadcast back (the tEnd idiom). */
  def rfmScores(spark: SparkSession, dir: String): DataFrame =
    rfmScoresOf(Tables.events(spark, dir))

  private[graft] def rfmScoresOf(events: DataFrame): DataFrame = {
    val per = events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        (col("event_type") === "purchase").as("isp"),
        expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"),
        sum(when(col("isp"), 1L).otherwise(0L)).as("frequency"),
        sum(when(col("isp"), col("cents")).otherwise(0L)).as("monetary_cents"))
    val tEnd = per.agg(max(col("last_us")).as("t_end"))
    val nUsers = per.agg(count(lit(1)).as("n_users"))
    val base = per.crossJoin(broadcast(tEnd))
      .select(col("user_id"),
        expr("(t_end - last_us) div 86400000000L").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    def quint(metric: String): org.apache.spark.sql.Column =
      expr(s"(rk_$metric - 1L) * 5L div n_users + 1L")
    val ranked = Seq[(String, Seq[org.apache.spark.sql.Column])](
      ("rk_recency_days", Seq(col("recency_days").asc, col("user_id").asc)),
      ("rk_frequency", Seq(col("frequency").desc, col("user_id").asc)),
      ("rk_monetary_cents", Seq(col("monetary_cents").desc, col("user_id").asc)))
      .foldLeft(base) { case (df, (out, ord)) =>
        graft.operators.GlobalRank.rowNumber(df, ord, out) }
      .crossJoin(broadcast(nUsers))
    ranked
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary_cents"),
        quint("recency_days").as("r_score"),
        quint("frequency").as("f_score"),
        quint("monetary_cents").as("m_score"))
      .withColumn("segment", expr("r_score * 100L + f_score * 10L + m_score"))
      .orderBy(col("user_id"))
  }

  /** Longest daily activity streak (q169) — the gaps-and-islands
    * classic, exactly: per user the maximal run of CONSECUTIVE active
    * days (island key = day − dense-rank, constant within a run), plus
    * active-day count. One user-keyed reduction to distinct days; the
    * windows run over the (user, day) incidence frame. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame =
    activityStreaksOf(Tables.events(spark, dir))

  private[graft] def activityStreaksOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("day"))
    events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000L").as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start_day"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"),
        max(col("len")).as("longest_streak"),
        expr("max_by(streak_start_day, struct(len, -streak_start_day))").as("best_streak_start"))
      .orderBy(col("user_id"))
  }

  /** kNN label probe (q170) — the standard representation-quality eval
    * (linear/kNN probing of embedding spaces): hold out every 20th
    * vector (the q142 split), predict its label from its top-1 train
    * neighbor (bit-portable cosine, (cosine desc, id) tie-break), and
    * report per-label accuracy in exact bp. The broadcast + map-side
    * TopKAggregator scoring shape; label joins are id-keyed. */
  def knnLabelEval(spark: SparkSession, dir: String): DataFrame =
    knnLabelEvalOf(Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && col("label").isNotNull))

  private[graft] def knnLabelEvalOf(embs: DataFrame): DataFrame = {
    val probes = embs.filter(col("vec_id") % 20 === 0)
    val train = embs.filter(col("vec_id") % 20 =!= 0)
    Ann.bruteForceTopK(probes, train, "vec_id", "embedding", k = 1)
      .join(probes.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .join(train.select(col("vec_id").as("neighbor_id"), col("label").as("pred_label")),
        "neighbor_id")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("true_label").as("label"), col("n_probes"), col("n_correct"),
        expr("n_correct * 10000L div n_probes").as("acc_bp"))
      .orderBy(col("label"))
  }

  /** Sliding sketch-merged WAU (q171) — the 100 TB form of q137's exact
    * rolling distinct: ONE DataSketches HLL sketch per day (lgK = 14,
    * mergeable), the 7-day window a SKETCH UNION over 7 day-rows — at
    * scale this replaces the 7× user fan-out with constant-size state
    * per day, the shape every metrics store actually ships. The sketch
    * estimate is merge-order-specific, so the oracle checks the q42
    * bounded-claim way: the engine emits the EXACT WAU next to a
    * within-5% boolean (lgK = 14 ⇒ rel. σ ≈ 0.8%), the oracle emits
    * exact + TRUE — sketch drift breaks the hash.
    *
    * Scale shape: per-day sketches are a map-side-combinable aggregate;
    * the union window runs over the day-count-sized sketch frame; the
    * exact twin (audit-only) is the q137 fan-out. */
  def slidingHllWau(spark: SparkSession, dir: String): DataFrame =
    slidingHllWauOf(Tables.events(spark, dir))

  private[graft] def slidingHllWauOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inc = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"), col("user_id"))
      .distinct()
    val daily = inc.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
    val est = daily
      .withColumn("wsk", expr("hll_union_agg(sk, false)").over(w))
      .select(col("day"), expr("hll_sketch_estimate(wsk)").as("wau_est"))
    val exact = inc
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .join(inc.select(col("day")).distinct(), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau_exact"))
    est.join(exact, "day")
      .select(col("day"), col("wau_exact"),
        (abs(col("wau_est") - col("wau_exact")).cast("double") / col("wau_exact") <= 0.05)
          .as("within_bound"))
      .orderBy(col("day"))
  }

  /** A/B funnel readout (q172) — q145's hash arms composed with q89's
    * signup→purchase-within-1h funnel: per arm, funnel conversion with
    * the same exact integer chi-square verdict. The experimentation
    * platform's bread-and-butter report, built from two already-proven
    * parts; one user-keyed funnel pass, one 2×2 scalar, arm rows
    * exploded (no join — the q145 shape). */
  def abFunnel(spark: SparkSession, dir: String): DataFrame =
    abFunnelOf(Tables.events(spark, dir))

  private[graft] def abFunnelOf(events: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val e = events.select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
    val fs = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("fs"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(fs, "user_id")
      .filter(col("us") > col("fs") && col("us") <= col("fs") + 3600000000L)
      .select(col("user_id")).distinct()
      .withColumn("conv", lit(1L))
    val users = fs
      .join(conv, Seq("user_id"), "left")
      .select(
        coalesce(col("conv"), lit(0L)).as("conv"),
        when(element_at(md5_token_hashes(array(col("user_id").cast("string")), 31), 1) % 2L === 0L,
          "control").otherwise("treatment").as("variant"))
    val scalar = users.agg(
      sum(when(col("variant") === "control", col("conv")).otherwise(0L)).as("a"),
      sum(when(col("variant") === "control", lit(1L) - col("conv")).otherwise(0L)).as("b"),
      sum(when(col("variant") === "treatment", col("conv")).otherwise(0L)).as("c"),
      sum(when(col("variant") === "treatment", lit(1L) - col("conv")).otherwise(0L)).as("d"))
    scalar
      .select(
        explode(array(
          struct(lit("control").as("variant"), expr("a + b").as("n_signup_users"),
            col("a").as("n_converted")),
          struct(lit("treatment").as("variant"), expr("c + d").as("n_signup_users"),
            col("c").as("n_converted")))).as("r"),
        expr("c * 10000L div (c + d) - a * 10000L div (a + b)").as("lift_bp"),
        (expr("CAST(1000 AS DECIMAL(38,0)) * CAST(a + b + c + d AS DECIMAL(38,0))" +
          " * CAST(a * d - b * c AS DECIMAL(38,0)) * CAST(a * d - b * c AS DECIMAL(38,0))") >=
          expr("CAST(3841 AS DECIMAL(38,0)) * CAST(a + b AS DECIMAL(38,0))" +
            " * CAST(c + d AS DECIMAL(38,0)) * CAST(a + c AS DECIMAL(38,0))" +
            " * CAST(b + d AS DECIMAL(38,0))")).as("significant_95"))
      .select(col("r.variant"), col("r.n_signup_users"), col("r.n_converted"),
        expr("r.n_converted * 10000L div r.n_signup_users").as("conv_bp"),
        col("lift_bp"), col("significant_95"))
      .orderBy(col("variant"))
  }

  /** Shipping-lag analysis (q173) — the order-fulfilment temporal audit:
    * per order priority, the distribution of (l_shipdate − o_orderdate)
    * in whole days — exact mean, min/max, and the lower median ranked
    * over the BOUNDED lag histogram (the q113/q136 discipline: windows
    * only ever see histogram rows, never lineitem rows). */
  def shipLag(spark: SparkSession, dir: String): DataFrame =
    shipLagOf(Tables.lineitem(spark, dir), Tables.orders(spark, dir))

  private[graft] def shipLagOf(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_shipdate"))
    val o = orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val lag = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000L").as("lag_days"))
    val hist = lag.groupBy(col("priority"), col("lag_days")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("priority").orderBy(col("lag_days"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("priority")
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("s", sum(expr("lag_days * c")).over(wAll))
      .withColumn("mn", min(col("lag_days")).over(wAll))
      .withColumn("mx", max(col("lag_days")).over(wAll))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("priority"))
      .agg(min(col("n")).as("n_lineitems"),
        min(col("lag_days")).as("median_lag_days"),
        min(expr("s div n")).as("mean_lag_days"),
        min(col("mn")).as("min_lag_days"), min(col("mx")).as("max_lag_days"))
      .orderBy(col("priority"))
  }

  /** Declarative expectation suite (q174) — the Great-Expectations /
    * dbt-test operator ([[graft.operators.Expectations]]): a configured
    * check list compiles to ONE aggregate pass per table (plus one
    * group-by for uniqueness), emitting a pass/fail report row per
    * expectation. Generalizes the hand-written q97/q138 audits into the
    * reusable API; the suite here covers events (nulls, vocabulary,
    * value range, event_id uniqueness, props JSON shape) and orders
    * (status vocabulary, key uniqueness). */
  def expectationSuite(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val ev = run(Tables.events(spark, dir), Seq(
      NotNull("user_id"), NotNull("ts"),
      InSet("event_type", Seq("click", "error", "purchase", "signup", "view")),
      InRange("user_id", 0L, 1000000000L),
      Matches("props", "^\\{.*\\}$"),
      Unique("event_id")))
      .withColumn("table_name", lit("events"))
    val ord = run(Tables.orders(spark, dir), Seq(
      InSet("o_orderstatus", Seq("F", "O", "P")),
      NotNull("o_custkey"),
      Unique("o_orderkey")))
      .withColumn("table_name", lit("orders"))
    ev.unionByName(ord)
      .select(col("table_name"), col("expectation"), col("n_rows"),
        col("n_violations"), col("violation_bp"), col("passed"))
      .orderBy(col("table_name"), col("expectation"))
  }

  /** Market-share analysis (q175, the TPC-H Q8 shape) — per order year,
    * the share of ASIA-region revenue contributed by suppliers of one
    * focus nation, as EXACT INTEGERS: revenue units are cent·pct
    * (price has 2 decimals → cents exact; 1−discount has 2 decimals →
    * pct exact; their product is a BIGINT of 10⁻⁴ dollars), so the
    * share needs no decimal division anywhere — the division-free twin
    * of q160's DECIMAL fold. Focus nation = the lexicographically first
    * ASIA nation (deterministic, schema-derived). */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val focus = asiaNations.orderBy(col("n_name")).limit(1)
      .select(col("n_nationkey").as("focus_key"), col("n_name").as("focus_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long").as("cents"),
        expr("CAST((1 - l_discount) * 100 AS DECIMAL(5,0))").cast("long").as("pct"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), expr("year(o_orderdate)").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .crossJoin(broadcast(focus))
      .groupBy(col("o_year"), col("focus_nation"))
      .agg(sum(expr("cents * pct")).as("asia_rev_u"),
        sum(when(col("s_nationkey") === col("focus_key"), expr("cents * pct"))
          .otherwise(0L)).as("focus_rev_u"))
      .select(col("o_year"), col("focus_nation"), col("asia_rev_u"), col("focus_rev_u"),
        expr("focus_rev_u * 10000L div asia_rev_u").as("share_bp"))
      .orderBy(col("o_year"))
  }

  /** Year-over-year nation revenue rank movement (q176) — the league
    * table every BI deployment ships: per (year, customer nation) exact
    * integer revenue units (the q175 cent·pct trick), rank within year,
    * and the rank delta vs the SAME nation's previous year (lag window
    * keyed by nation). Windows run on the (year × nation) frame —
    * metadata-sized. */
  def revenueRankMovement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long").as("cents"),
        expr("CAST((1 - l_discount) * 100 AS DECIMAL(5,0))").cast("long").as("pct"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), expr("year(o_orderdate)").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_year"), col("n_name"))
      .agg(sum(expr("cents * pct")).as("rev_u"))
    val wr = Window.partitionBy("o_year").orderBy(col("rev_u").desc, col("n_name"))
    val wl = Window.partitionBy("n_name").orderBy(col("o_year"))
    rev
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(wl))
      .select(col("o_year"), col("n_name"), col("rev_u"), col("rnk"),
        expr("prev_rnk - rnk").as("rank_delta"))
      .orderBy(col("o_year"), col("rnk"))
  }

  /** CUSUM change-point scan (q178) — the classic drift detector over the
    * daily purchase series: gap-filled day counts, integer fixed-point
    * mean (total·10⁶ div n_days), cumulative sum of (count·10⁶ − mean),
    * and the argmax |CUSUM| day flagged as the most likely level shift.
    * The corpus-sized stage is one pushed-filter scan + one day aggregate;
    * every window (running sum, global max) runs on the DAY-sized frame —
    * tens of rows at any corpus size (the q143 histogram idiom). All
    * arithmetic integer, so the oracle replays it exactly. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumChangepointOf(Tables.events(spark, dir))

  private[graft] def cusumChangepointOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = events.filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
    val counts = p.groupBy(col("day")).agg(count(lit(1)).as("cnt"))
    val bounds = p.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val filled = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val tot = filled.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nd"))
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled.crossJoin(broadcast(tot))
      .withColumn("cusum_fp",
        sum(expr("cnt * 1000000L - (total * 1000000L div nd)")).over(wRun))
      .withColumn("peak", max(abs(col("cusum_fp"))).over(wAll))
      .select(col("day"), col("cnt"), col("cusum_fp"),
        (abs(col("cusum_fp")) === col("peak")).as("is_peak"))
      .orderBy(col("day"))
  }

  /** q179 threshold: TPC-H Q18's large-order cut, scaled to the harness
    * quantity distribution (25/204/2285 qualifying orders at the three
    * SFs). */
  private[graft] val LargeOrderQty = 250L

  /** Large-volume orders (q179, TPC-H Q18 shape) — the group-by-HAVING
    *-then-join pattern: per-order quantity sums filtered to >
    * [[LargeOrderQty]], joined back to orders and customers, top-100 by
    * price. The HAVING prunes the fact side to a sliver BEFORE any
    * dimension join; the top-100 is TakeOrderedAndProject; no build side
    * is forced — AQE broadcasts the pruned qualifying set at harness SF
    * and shuffle-joins a corpus-sized one. Money in exact cents. */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), expr("CAST(l_quantity AS BIGINT)").as("q"))
      .groupBy(col("l_orderkey")).agg(sum(col("q")).as("sum_qty"))
      .filter(col("sum_qty") > LargeOrderQty)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_totalprice * 100 AS DECIMAL(14,0))").cast("long").as("price_cents"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"))
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_date"),
        col("price_cents"), col("sum_qty"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Per-column snapshot stats drift (q180) — the schema-stability
    * monitor every production lake runs between ingest snapshots:
    * row/null/exact-NDV (and numeric sum) per column for two snapshot
    * halves of the documents table (doc_id parity stands in for the
    * snapshot id), emitted long-format with an integer drift reading per
    * (column, metric). ONE corpus scan: all metrics for both snapshots
    * compute in a single conditional aggregate (the q130 multi-distinct
    * Expand); the stack/compare runs on the metadata-sized metric rows.
    * Complements q104 (row-level diff) at column granularity. */
  def statsDrift(spark: SparkSession, dir: String): DataFrame =
    statsDriftOf(Tables.documents(spark, dir))

  private[graft] def statsDriftOf(docs: DataFrame): DataFrame = {
    val wide = docs
      .select(expr("doc_id % 2").as("snap"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .groupBy(col("snap"))
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(col("text")).as("ndv_text"),
        countDistinct(col("lang")).as("ndv_lang"),
        countDistinct(col("source")).as("ndv_source"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("nulls_text"),
        sum(col("n_chars")).as("sum_n_chars"))
    val long = wide.select(col("snap"), explode(expr(
      """map('rows', rows, 'ndv_text', ndv_text, 'ndv_lang', ndv_lang,
        |'ndv_source', ndv_source, 'nulls_text', nulls_text,
        |'sum_n_chars', sum_n_chars)""".stripMargin)).as(Seq("metric", "val")))
    long.groupBy(col("metric"))
      .agg(max(when(col("snap") === 0L, col("val"))).as("snap_a"),
        max(when(col("snap") === 1L, col("val"))).as("snap_b"))
      .select(col("metric"), col("snap_a"), col("snap_b"),
        when(col("snap_a") =!= 0L,
          expr("(snap_b - snap_a) * 10000L div snap_a")).as("drift_bp"))
      .orderBy(col("metric"))
  }

  /** Distance-to-centroid embedding outliers (q181) — the vector-space
    * data-quality gate: assign every embedding to its nearest seeded
    * centroid (the q86 iter-0 quantizer — map-only
    * [[graft.functions.PqFunctions.pq_encode]], centroids in-expression,
    * zero Exchange) and flag rows whose squared-L2 distance exceeds 2×
    * their cell's mean — mislabeled/corrupted vectors in production
    * embedding pipelines sit exactly there. Distances are per-row
    * `floor(d²·10⁶)` fixed-point (the q86 exactness discipline: the
    * oracle replays the identical (x−y)² fold bit-for-bit), so every
    * output column is an integer. Cell stats are k rows — broadcast back
    * for the outlier pass; the corpus is scanned twice, both map-only. */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions.pq_encode
    import graft.similarity.Kmeans.DefaultK
    import graft.similarity.Pq.Dim
    val indexable = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) >= Dim)
    val seeds = indexable.orderBy(col("vec_id")).limit(DefaultK)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val a = indexable
      .select(col("vec_id"),
        element_at(pq_encode(col("embedding"), Array(seeds)), 1).as("enc"))
      .select(col("vec_id"), col("enc.code").as("cell"),
        floor(col("enc.dist") * 1e6).cast("long").as("dist_fp"))
    val stats = a.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dist_fp")).as("sum_dist_fp"))
    a.join(broadcast(stats), "cell")
      .select(col("cell"), col("n"), col("sum_dist_fp"),
        (col("dist_fp") > lit(2L) * expr("sum_dist_fp div n")).cast("long").as("is_out"))
      .groupBy(col("cell"), col("n"), col("sum_dist_fp"))
      .agg(sum(col("is_out")).as("n_outliers"))
      .select(col("cell"), col("n"), col("sum_dist_fp"),
        expr("sum_dist_fp div n").as("avg_dist_fp"),
        col("n_outliers"), expr("n_outliers * 10000L div n").as("outlier_bp"))
      .orderBy(col("cell"))
  }

  /** One BPE merge round applied corpus-free (q182) — the tokenizer-
    * training iteration factorized the way a 100 TB trainer must: the
    * corpus is scanned ONCE for the (token, count) vocabulary; the
    * symbol sequences, the round-1 pair count, the top-1 merge, the
    * merge application, and the round-2 pair count all run on VOCAB
    * rows. A naive trainer re-tokenizes the corpus per merge —
    * thousands of corpus passes; this shape pays one. Merge semantics
    * are left-to-right non-overlapping (both engines' `replace`), on
    * space-separated symbol strings so a merged symbol is one unit in
    * round 2. Output: round-2 top-10 pairs + the applied merge. */
  def bpeMergeRound(spark: SparkSession, dir: String): DataFrame =
    bpeMergeRoundOf(Tables.documents(spark, dir),
      v => graft.SessionMemo.frame(spark, s"q182vocab|$dir")(v))

  /** `memoVocab` pins the vocab frame (vocab-sized, ~|distinct tokens|
    * rows) so the three consumers (round-1 pairs, merge application, and
    * the top-1's second reference) read ONE corpus tokenization — the
    * naive form re-derived the scan+aggregate three times (the q109/q129
    * diamond trap, observed on the executed plan before this memo). */
  private[graft] def bpeMergeRoundOf(docs: DataFrame,
      memoVocab: DataFrame => DataFrame = identity): DataFrame = {
    val vocab = memoVocab(docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("token")) >= 2)
      .select(expr(
        "array_join(transform(sequence(1, length(token)), i -> substring(token, i, 1)), ' ')")
        .as("sym"), col("cnt")))
    def pairsOf(v: DataFrame): DataFrame = v
      .select(split(col("sym"), " ").as("t"), col("cnt"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS p1, t[i] AS p2))")).as("p"),
        col("cnt"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("cnt")).as("pair_count"))
    val top1 = pairsOf(vocab)
      .orderBy(col("pair_count").desc, col("p1"), col("p2")).limit(1)
      .select(col("p1").as("m1"), col("p2").as("m2"))
    // Space-doubling trick (round-6 advice): a plain `replace(' m1 m2 ',…)`
    // under-merges boundary-sharing occurrences because the match consumes
    // the separating space ('a b a b' → [ab, a, b]). Doubling every space
    // first gives each adjacent pair exclusive boundary spaces, so ONE
    // left-to-right replace pass realizes exact greedy BPE semantics
    // ('a b a b' → [ab, ab]; 'a a a' → [aa, a]); collapse + trim restores
    // the single-space symbol encoding.
    val merged = vocab.crossJoin(broadcast(top1))
      .select(expr(
        """trim(replace(replace(replace(concat(' ', sym, ' '), ' ', '  '),
          |  concat(' ', m1, '  ', m2, ' '), concat(' ', m1, m2, ' ')), '  ', ' '))""".stripMargin)
        .as("sym"), col("cnt"), concat(col("m1"), col("m2")).as("merged_symbol"))
    pairsOf(merged)
      .crossJoin(broadcast(top1.select(concat(col("m1"), col("m2")).as("merged_symbol"))))
      .orderBy(col("pair_count").desc, col("p1"), col("p2"))
      .limit(10)
      .select(col("p1"), col("p2"), col("pair_count"), col("merged_symbol"))
  }

  /** Order-total reconciliation audit (q183) — the finance-grade exact
    * check a billing lake runs daily: per order, the header total vs the
    * line-derived total, both in EXACT integer micro-dollar units
    * (cents · discount-pct · tax-pct — the q175 trick extended to the
    * tax leg; header cents × 10⁴ puts both sides in the same unit).
    * Orders bucket by absolute discrepancy magnitude; the report is the
    * bucket histogram. One fact-fact shuffle (per-order line aggregate
    * ⋈ orders on the order key) and a histogram-sized reduction —
    * nothing else. Headerless/lineless orders surface in their own
    * bucket rather than vanishing (left join, Σ=0). */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame =
    orderReconciliationOf(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  private[graft] def orderReconciliationOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem
      .select(col("l_orderkey"),
        (expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long") *
          expr("CAST((1 - l_discount) * 100 AS DECIMAL(5,0))").cast("long") *
          expr("CAST((1 + l_tax) * 100 AS DECIMAL(5,0))").cast("long")).as("line_u"))
      .groupBy(col("l_orderkey")).agg(sum(col("line_u")).as("lines_u"))
    orders
      .select(col("o_orderkey"),
        (expr("CAST(o_totalprice * 100 AS DECIMAL(14,0))").cast("long") * 10000L).as("hdr_u"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(abs(col("hdr_u") - coalesce(col("lines_u"), lit(0L))).as("diff_u"),
        col("lines_u").isNull.as("lineless"))
      .select(when(col("lineless"), "no_lines")
        .when(col("diff_u") === 0L, "exact")
        .when(col("diff_u") < 1000000L, "lt_1_dollar")
        .when(col("diff_u") < 10000000L, "lt_10_dollars")
        .otherwise("gte_10_dollars").as("bucket"), col("diff_u"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("diff_u")).as("sum_diff_u"))
      .orderBy(col("bucket"))
  }

  /** q184 layout constants: candidate file counts for the clustered
    * layout and the probed user band (4/10 → 5/10 of the id space). */
  private[graft] val ZoneMapBuckets = 32L

  /** Zone-map file-skipping audit (q184) — the data-layout decision
    * readout behind every min/max-pruning lake format (Parquet row
    * groups, Iceberg/Delta file stats): simulate two physical layouts of
    * the events table — time-partitioned (hour files) vs user-range-
    * clustered ([[ZoneMapBuckets]] equal-width id buckets) — compute
    * each file's (min, max) user_id zone map, and measure how many files
    * a user-band predicate can skip under each. One corpus scan (the
    * layout column pair explodes map-only ×2); per-(layout, file) zone
    * maps partial-combine; the skip verdict runs on file-count-sized
    * rows. The time layout skips ~nothing (every hour contains every
    * user); the clustered layout skips ~27/32 — THE argument for
    * clustering by the predicate column at 100 TB. */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame =
    zoneMapAuditOf(Tables.events(spark, dir))

  private[graft] def zoneMapAuditOf(events: DataFrame): DataFrame = {
    val mx = events.agg(max(col("user_id")).as("maxu"))
    val files = events
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000L").as("hour"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"), col("maxu"), explode(expr(
        s"map('time', hour, 'user_clustered', user_id * $ZoneMapBuckets div (maxu + 1))"))
        .as(Seq("layout", "file")))
      .groupBy(col("layout"), col("file"))
      // maxu is constant per row — MAX() re-emits it per file, so the
      // verdict below needs no second bounds pass over the corpus.
      .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx_u"),
        count(lit(1)).as("rows"), max(col("maxu")).as("maxu"))
    files
      .select(col("layout"), col("rows"),
        (col("mx_u") < expr("maxu * 4 div 10") || col("mn") > expr("maxu * 5 div 10"))
          .cast("long").as("skip"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"), sum(col("skip")).as("n_skippable"),
        sum(col("rows")).as("rows_total"),
        sum(when(col("skip") === 0L, col("rows")).otherwise(0L)).as("rows_scanned"))
      .select(col("layout"), col("n_files"), col("n_skippable"),
        expr("n_skippable * 10000L div n_files").as("skip_bp"),
        col("rows_total"), col("rows_scanned"))
      .orderBy(col("layout"))
  }

  /** Revenue concentration / Pareto audit (q185) — the whale-user readout
    * behind every monetization review: per-user purchase value in exact
    * cents, users ranked by value, decile revenue shares, cumulative
    * share, and an exact integer Gini coefficient (the ascending-rank
    * formula `G = 2·Σ(i·vᵢ)/(n·Σv) − (n+1)/n`, emitted in basis points
    * with both divisions replayed identically by the oracle). The
    * corpus-sized stage is one per-user aggregate; ranking and every
    * share run on the USER-sized frame (q168's size class — the q144
    * sharded PrefixSum is the documented path if user cardinality ever
    * outgrows it); the Gini/total scalars broadcast back as a 1-row
    * frame. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame =
    revenueConcentrationOf(Tables.events(spark, dir))

  private[graft] def revenueConcentrationOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(value * 100 AS DECIMAL(14,0))").cast("long").as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("v"))
    // Ascending rank i = 1..n (value asc, id tiebreak) — the Gini basis —
    // through the sharded GlobalRank (round-7 verdict #3: no
    // single-partition window over the user-sized frame). n / tot / Σ(i·v)
    // become a 1-row scalar aggregate broadcast back (the q168 tEnd
    // idiom); the corpus-sized stage is still the one user reduction.
    val rankedOnly = graft.operators.GlobalRank
      .rowNumber(users, Seq(col("v").asc, col("user_id").asc), "i")
    val scal = rankedOnly.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"),
      sum(expr("i * v")).as("iv"))
    val ranked = rankedOnly.crossJoin(broadcast(scal))
    // 2·iv·10⁴ rides DECIMAL(38,0) (round-6 advice): iv = Σ(i·v) can reach
    // n·tot ≈ 10¹⁷ at production cardinalities, so the BIGINT product wraps
    // silently past ~9.2·10¹⁸ — the q192 power-sum discipline applies. The
    // oracle mirrors via HUGEINT; both floor-divide back to BIGINT.
    val deciles = ranked
      .select(expr("(i - 1) * 10 div n").as("decile"), col("v"), col("tot"),
        (expr("CAST(2 AS DECIMAL(38,0)) * iv * 10000 div (CAST(n AS DECIMAL(38,0)) * tot)") -
          expr("(n + 1) * 10000L div n"))
          .as("gini_bp"))
      .groupBy(col("decile"), col("tot"), col("gini_bp"))
      .agg(count(lit(1)).as("n_users"), sum(col("v")).as("revenue_cents"))
    // tot rides the decile keys, so the cumulative share needs no second
    // derivation of the user aggregate (which would re-scan the corpus).
    deciles
      .withColumn("cum_cents",
        sum(col("revenue_cents")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_users"), col("revenue_cents"),
        expr("revenue_cents * 10000L div tot").as("share_bp"),
        expr("cum_cents * 10000L div tot").as("cum_share_bp"), col("gini_bp"))
      .orderBy(col("decile"))
  }

  /** q186 smoothing + threshold constants, shared with the oracle. */
  private[graft] val FluencyFloorDiv = 2L

  /** Bigram-LM fluency scoring (q186) — the CCNet-style language-model
    * quality filter in exact integers: a bigram model trained on the
    * corpus itself (conditional probability c(w₁w₂)/c(w₁·) in parts per
    * million, integer), each document scored by its mean bigram
    * probability, languages report mean fluency and how many documents
    * fall below half the GLOBAL mean ([[FluencyFloorDiv]]). Keys hash to
    * 8-byte longs BEFORE the exchanges (the q146/q147 discipline — no
    * string shuffles); the model frames are vocab-sized; the scoring
    * join is the one corpus-sized equi-join; AQE picks its build side by
    * size. Perplexity's log is deliberately avoided: libm log bits
    * differ across engines, integer ppm probabilities do not. */
  def bigramFluency(spark: SparkSession, dir: String): DataFrame =
    bigramFluencyOf(Tables.documents(spark, dir),
      b => graft.SessionMemo.frame(spark, s"q186bigrams|$dir")(b))

  /** `memoBigrams` pins the hashed bigram stream: its three consumers
    * (bigram counts, prefix counts, the scoring join) would otherwise
    * re-tokenize and re-hash the corpus three times — the q129 matrix
    * memo applied to the bigram key space. */
  private[graft] def bigramFluencyOf(docs: DataFrame,
      memoBigrams: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    val bg = memoBigrams(docs
      .select(col("doc_id"), col("lang"),
        md5_token_hashes(split(col("text"), " "), 60).as("h"))
      .filter(size(col("h")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(h) - 1), i -> struct(h[i-1] AS h1, h[i] AS h2))"))
        .as("p"))
      .select(col("doc_id"), col("lang"), col("p.h1").as("h1"), col("p.h2").as("h2")))
    val bgCounts = bg.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c12"))
    val prefCounts = bg.groupBy(col("h1").as("ph1")).agg(count(lit(1)).as("c1"))
    val scored = bg
      .join(bgCounts, Seq("h1", "h2"))
      .join(prefCounts, col("h1") === col("ph1"))
      .select(col("doc_id"), col("lang"), expr("c12 * 1000000L div c1").as("p_ppm"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(p_ppm) div count(1)").as("score_ppm"))
    val gmean = scored.agg(expr("sum(score_ppm) div count(1)").as("gm"))
    scored.crossJoin(broadcast(gmean))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(score_ppm) div count(1)").as("avg_score_ppm"),
        sum(when(col("score_ppm") < expr(s"gm div $FluencyFloorDiv"), 1L).otherwise(0L))
          .as("n_low_fluency"))
      .orderBy(col("lang"))
  }

  /** Promotional revenue share by ship month (q187, TPC-H Q14 shape) —
    * the conditional-share-over-a-join pattern: lineitem ⋈ part (no
    * forced build side — part is dimension-sized at harness SF and AQE
    * broadcasts it; at 100 TB both sides shuffle on the part key),
    * revenue in exact cent·pct units, promo share per month in basis
    * points. One fact shuffle, month-sized output. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), expr("date_trunc('month', l_shipdate)").cast("date").as("month"),
        (expr("CAST(l_extendedprice * 100 AS DECIMAL(14,0))").cast("long") *
          expr("CAST((1 - l_discount) * 100 AS DECIMAL(5,0))").cast("long")).as("rev_u"))
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("month"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_u")).otherwise(0L)).as("promo_u"),
        sum(col("rev_u")).as("total_u"))
      .select(col("month"), col("promo_u"), col("total_u"),
        expr("promo_u * 10000L div total_u").as("promo_bp"))
      .orderBy(col("month"))
  }

}
