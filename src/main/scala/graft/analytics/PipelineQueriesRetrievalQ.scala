package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Ann

/** Retrieval/IR-domain pipeline queries — the SECOND per-domain
  * regrouping of the chronological slabs (round-12 verdict #3, one
  * domain per round, following the GraphQ recipe): every member is a
  * verbatim move out of PipelineQueriesP1/P2/P3/Registry, same text,
  * same relative order within each source file, no logic change. The
  * domain: lexical and late-interaction retrieval over the documents
  * corpus and its evaluation — posting lists (q109), TF-IDF top-k
  * (q110), BM25 top-k (q126), RRF rank fusion (q127), positional phrase
  * search (q153), ColBERT-style MaxSim (q231), the multi-query
  * retrieval-eval harness (q234), trigram-index substring search
  * (q243), integer NDCG@k (q313), and the shared [[docTokenSets]]
  * postings memo (also consumed by q235's prefix-filter join, which
  * stays in its dedup-domain slab — cross-slab access is the self-type,
  * exactly as before the move).
  *
  * Move-safety notes (the PLANS_r11/r12 audit, repeated for this move):
  * trait→trait moves are closure-capture NEUTRAL — members stay on the
  * same object and trait code references them through the same
  * self-type `this`; every moved member is a def (no val init-order
  * exposure), and no moved code runs inside an executor-side typed
  * lambda that could capture `this`. */
trait PipelineQueriesRetrieval { this: PipelineQueries.type =>

  /** TF-IDF top-k retrieval (q110) — keyword search over the corpus, the
    * lexical half of hybrid retrieval (the dense half is q80/q98). The
    * query is derived deterministically (the distinct tokens of the
    * lowest-id document) so both engines agree without a parameter
    * channel. Scoring is integer-exact: idf = N·10⁶ div df (no libm
    * drift), score = Σ tf·idf summed as longs.
    *
    * Scale shape: the corpus is scanned+exploded once, and the tiny
    * query-term list broadcasts and PRUNES the token stream MAP-SIDE,
    * BEFORE the tf aggregation — so every Exchange in the plan carries
    * query-term postings only, never the corpus tokenization. df comes
    * from a window over the pruned entries (token-partitioned, no
    * self-join; df of a query term is unchanged by the pruning), the
    * per-doc score is one aggregate over query-term postings only, and
    * the top-10 is TakeOrdered — no global sort, no corpus shuffle. */
  def tfidfTopk(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: the top-10 frame is memoized per (session, dir) —
    // it has THREE registered consumers (this card, q127's fusion, q203's
    // assembly via q127), each of which re-ran the corpus scan + pruned
    // postings plan (the hyperBallMemo discipline applied to the lexical
    // rankers: one expensive build, cheap folds).
    graft.SessionMemo.frame(spark, s"q110top|$dir")(tfidfTopkBuild(spark, dir))
      .orderBy(col("score").desc, col("doc_id"))

  private[graft] def tfidfTopkBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Tables.fan (r13): the explode + broadcast-prune + partial agg is
    // map-side work on a one-row-group scan.
    val docs = Tables.fan(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val qterms = docs.orderBy(col("doc_id")).limit(1)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * expr("n_docs * 1000000L div df")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Inverted-index / posting-list build (q109) — the serving structure
    * behind exact-gram decontamination lookups and corpus search: per
    * token its document frequency, total term frequency, and a BOUNDED
    * sample of the posting list (the 5 smallest doc_ids). Two scale
    * decisions:
    *   - a naive `collect_list(doc_id)` would materialize a stopword's
    *     corpus-sized posting list in one aggregation buffer; here the
    *     list collects `when(rn <= 5, doc_id)` (collect_list skips
    *     nulls), so aggregate state is O(5) per token at any corpus size
    *     (full posting lists would be written cell-partitioned like the
    *     q98 index, never aggregated into a row);
    *   - stats and sample share ONE tokenization pass. The obvious
    *     two-branch formulation (groupBy stats JOIN window-capped
    *     sample) scans and explodes the corpus twice — column pruning
    *     drops `tf` from the sample branch, the branches canonicalize
    *     differently, and ReuseExchange never fires (observed on the
    *     executed AQE plan). Fused: explode → (token, doc_id) partial
    *     agg → window rn over token → one final aggregate. One scan,
    *     two exchanges (posting-entry-sized, which exact df/tf_total
    *     require anyway), no join. */
  def postingLists(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r13 note: a Tables.fan here was measured and REVERTED (0.28 s ->
    // 0.6-0.7 s in both final runs): the (token, doc) aggregate has
    // near-distinct keys, so the fan exchange added bytes without
    // shrinking the grouping shuffle, and the tokenize itself is cheap.
    val tokDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tokDoc
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("token")).orderBy(col("doc_id"))))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        expr("array_join(transform(sort_array(collect_list(CASE WHEN rn <= 5 THEN doc_id END)), x -> cast(x as string)), ',')")
          .as("sample_docs"))
      .orderBy(col("token"))
  }

  /** Late-interaction MaxSim retrieval (q231) — the ColBERT scoring shape
    * for multi-vector documents: each document is a BAG of token vectors
    * (here: [[MaxSimSlots]] consecutive embedding rows per doc — the
    * harness has no native multi-vector table, so the grouping is the
    * deterministic stand-in; the operator is the point), and
    * score(q, d) = Σ_{i∈q} max_{j∈d} cos(qᵢ, dⱼ). Query token vectors
    * broadcast; one scan of corpus token vectors scores all (query token
    * × doc token) cosines, a first aggregate takes the per-slot max, and
    * the per-pair score folds the slot maxes IN SLOT ORDER (sorted
    * collect + left fold — float addition order pinned, so the oracle
    * replays it bit-for-bit); ranking is the map-side top-k aggregator.
    * At 100 TB the candidate set comes from a token-level ANN route
    * (q98's committed index per token vector) with MaxSim only on
    * candidates — the exact-scoring stage here is that reranker. */
  def maxsimRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val e = Tables.fan( // r13: the |q-slots|·|doc-slots| cosines are map-side
        Tables.embeddings(spark, dir)
          .filter(col("embedding").isNotNull && size(col("embedding")) >= 64),
        col("vec_id"))
      .select(expr(s"vec_id div $MaxSimSlots").as("doc"),
        expr(s"vec_id % $MaxSimSlots").as("slot"), col("embedding"))
    val q = e.filter(col("doc") % MaxSimQueryMod === 0)
      .select(col("doc").as("query_id"), col("slot").as("qslot"),
        col("embedding").as("qv"))
    val slotMax = e.join(broadcast(q), col("doc") =!= col("query_id"))
      .select(col("query_id"), col("doc").as("neighbor_id"), col("qslot"),
        cosine_sim(col("qv"), col("embedding")).as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("query_id"), col("neighbor_id"), col("qslot"))
      .agg(max(col("c")).as("m"))
    val scored = slotMax.groupBy(col("query_id"), col("neighbor_id"))
      .agg(expr(
        "aggregate(transform(array_sort(collect_list(struct(qslot, m))), x -> x.m), 0D, (a, x) -> a + x)")
        .as("cosine"))
    Ann.topKRanked(scored, MaxSimK)
      .withColumnRenamed("cosine", "maxsim")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Okapi BM25 top-k retrieval (q126) — the production-default lexical
    * ranker (k1 = 1.2, b = 0.75) next to q110's raw TF-IDF: BM25's tf
    * saturation and length normalization are what make keyword retrieval
    * robust to stuffed/long documents, and it is the lexical half every
    * hybrid-search deployment actually ships. Query terms derive
    * deterministically as in q110 (distinct tokens of the lowest-id doc)
    * so both engines agree without a parameter channel.
    *
    * Portability: idf stays the integer `n_docs·10⁶ div df` (no log —
    * rank-equivalent within this corpus-constant family and libm-free);
    * the per-term saturation factor is a FIXED parse tree of IEEE double
    * ops — `dl·n_docs` multiplies exactly as BIGINT, ONE division by
    * total_tokens, one multiply by b·k1, two adds, one divide — each
    * correctly rounded, so both engines produce bit-identical doubles;
    * per-term scores floor to BIGINT and SUM order-free. Scale shape is
    * q110's: the broadcast query-term list prunes the exploded token
    * stream MAP-SIDE before any exchange, df comes from a window over the
    * pruned postings (no self-join), corpus-wide (n_docs, total_tokens)
    * is a 1-row broadcast, and the top-10 is TakeOrdered. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: memoized like [[tfidfTopk]] — the same three
    // registered consumers (this card, q127, q203 via q127).
    graft.SessionMemo.frame(spark, s"q126top|$dir")(bm25TopkBuild(spark, dir))
      .orderBy(col("score").desc, col("doc_id"))

  private[graft] def bm25TopkBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fan( // r13: see tfidfTopkBuild
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val qterms = docs.orderBy(col("doc_id")).limit(1)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("token"))
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col("token"), col("doc_id"), col("dl")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(expr(BmTermSpark)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Hybrid-retrieval rank fusion (q127) — RRF over the two lexical
    * rankers (q110 TF-IDF, q126 BM25): fused score
    * Σ ⌊10⁶/(k + rank)⌋ with k = 60, ranks from each ranker's top-10.
    * RRF is the standard score-free fusion for hybrid search (lexical +
    * dense) precisely because it only consumes RANKS — incomparable score
    * scales (here: raw tf·idf sums vs saturated BM25) fuse without
    * calibration. Unranked sides contribute 0.
    *
    * Scale shape: both rankers run their corpus-scale plans (map-side
    * broadcast pruning, TakeOrdered top-10 — see q110/q126); everything
    * after is DRIVER-SIZED — two 10-row lists get rank columns via a
    * window over 10 rows, full-outer join on doc_id, integer RRF
    * arithmetic. At 100 TB the fusion cost is unchanged: it never touches
    * the corpus. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame =
    // r13 optimization: the fused 10–20-row frame is memoized — q203's
    // assembly re-ran the whole fusion (and through it both rankers) per
    // call; the rankers themselves already ride their own memos, so this
    // memo only collapses the 10-row window/join arithmetic, but it keeps
    // q203's replays corpus-free end to end.
    graft.SessionMemo.frame(spark, s"q127fused|$dir")(rrfFusionBuild(spark, dir))
      .orderBy(col("rrf_score").desc, col("doc_id"))

  private[graft] def rrfFusionBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(df: DataFrame, rankCol: String): DataFrame =
      df.withColumn(rankCol,
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col(rankCol))
    ranked(tfidfTopk(spark, dir), "tfidf_rank")
      .join(ranked(bm25Topk(spark, dir), "bm25_rank"), Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        coalesce(col("tfidf_rank"), lit(0L)).as("tfidf_rank"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        (coalesce(expr(s"1000000L div ($RrfK + tfidf_rank)"), lit(0L))
          + coalesce(expr(s"1000000L div ($RrfK + bm25_rank)"), lit(0L))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** Positional phrase search (q153) — the inverted-index operation q109's
    * posting lists exist FOR: find every occurrence of a phrase by
    * intersecting the two terms' positional postings (term₁ at pos p,
    * term₂ at p+1) instead of rescanning text. The query phrase is the
    * corpus's most frequent word bigram ((count desc, w1, w2) total
    * order — deterministic, so the oracle recomputes it identically).
    *
    * Scale shape: postings carry (doc_id, pos, 8-byte h60 key); the
    * 1-row phrase frame broadcasts into the posting scan (map-only
    * candidate filter — only the two terms' postings survive), and the
    * positional intersection is an equi-join on (doc, adjacent pos) over
    * those two tiny lists. The corpus is scanned twice (pair counts +
    * postings) — both map-side-combinable; at serving scale the postings
    * side is the committed q109 layout and only the intersection runs. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearchOf(Tables.documents(spark, dir))

  private[graft] def phraseSearchOf(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHashFunctions.md5_token_hashes
    // r13 note: a Tables.fan was measured neutral-to-negative here
    // (bigram counts have near-distinct keys) and reverted.
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val top1 = toks
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2")).limit(1)
      .select(col("w1"), col("w2"),
        element_at(md5_token_hashes(array(col("w1")), 60), 1).as("h1"),
        element_at(md5_token_hashes(array(col("w2")), 60), 1).as("h2"))
    val postings = docs
      .select(col("doc_id"),
        posexplode(md5_token_hashes(split(col("text"), " "), 60)).as(Seq("pos", "h")))
    val cand = postings
      .join(broadcast(top1), col("h") === col("h1") || col("h") === col("h2"))
    val a = cand.filter(col("h") === col("h1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
    val b = cand.filter(col("h") === col("h2"))
      .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    a.join(b, col("doc_id") === col("doc_b") && col("pos_b") === col("pos") + 1)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_matches"))
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        col("n_matches"))
      .orderBy(col("doc_id"))
  }

  /** Retrieval-quality evaluation harness (q234): a multi-query BM25 run
    * (the exact q126 scorer via [[BmTermSpark]], one query per
    * doc_id ≡ 1 mod [[IrQMod]]) graded against an exact token-set-Jaccard
    * relevance truth (rel(q,d) ⇔ J(q,d) ≥ [[IrRelBp]], d ≠ q). Emits
    * per-query precision@k, recall@k and reciprocal-rank in integer basis
    * points — the eval loop every retrieval stack ships with, here as a
    * single declarative plan instead of a driver-side harness.
    *
    * Scale shape: the corpus-sized work is one postings aggregation
    * sharded on token and one (qid, doc) score aggregation — never a
    * corpus×corpus product. Truth pairs exist only for documents sharing
    * ≥1 token with a query (the same postings join). The broadcast sides
    * (query postings `qt`/`qdt`, their per-token document frequencies,
    * and the QUERY-doc sizes only — round-7 advice: never the full
    * corpus-cardinality size table) are all bounded by the query
    * fraction: |queries| = |corpus| / [[IrQMod]], so the hints stay
    * driver-safe exactly as long as the query set is capped — at
    * production scale that cap is the eval-set size itself (thousands of
    * queries), not a corpus percentage. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame =
    retrievalEvalOf(Tables.documents(spark, dir),
      _ => docTokenSets(spark, dir))

  /** The q234 BM25 run (top-[[IrK]] per query) and exact Jaccard
    * relevance truth, factored so q313's NDCG grades the SAME run and
    * truth (one scorer, several metrics — the eval-harness shape).
    * Returns (run, rel, query-id frame). */
  private[analytics] def irRunRelOf(documents: DataFrame,
      memoDt: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // Tables.fan (r13): the postings tokenize feeds every branch map-side.
    val docs = Tables.fan(
      documents.select(col("doc_id"), col("text")), col("doc_id"))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"),
      explode(split(col("text"), " ")).as("token"))
    val td = toks.groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val qt = toks.filter(col("doc_id") % IrQMod === 1L)
      .select(col("doc_id").as("qid"), col("token")).distinct()
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
    val tdq = td.join(broadcast(qt.select(col("token")).distinct()), Seq("token"))
    val dfTok = tdq.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val run = broadcast(qt).join(tdq, Seq("token"))
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(dfTok), Seq("token"))
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(expr(BmTermSpark)).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= IrK)
    // Exact relevance truth: token-set Jaccard ≥ IrRelBp against each query
    // doc, computed only for docs sharing ≥ 1 token (postings join).
    val dt = memoDt(toks.select(col("doc_id"), col("token")).distinct())
    val sz = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val qdt = dt.filter(col("doc_id") % IrQMod === 1L)
      .select(col("doc_id").as("qid"), col("token"))
    // Query-doc sizes only ride the broadcast (round-7 advice: the
    // unfiltered `sz` is corpus-cardinality — a driver hazard at scale).
    val qsz = sz.filter(col("doc_id") % IrQMod === 1L)
      .select(col("doc_id").as("qid"), col("sz").as("qsz"))
    val rel = dt.join(broadcast(qdt), Seq("token"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("inter"))
      .join(broadcast(qsz), Seq("qid"))
      .join(sz, Seq("doc_id"))
      .filter(col("inter") * 10000L >= lit(IrRelBp) * (col("qsz") + col("sz") - col("inter")))
      .select(col("qid"), col("doc_id"))
    (run, rel, docs.filter(col("doc_id") % IrQMod === 1L).select(col("doc_id").as("qid")))
  }

  private[graft] def retrievalEvalOf(documents: DataFrame,
      memoDt: DataFrame => DataFrame = identity): DataFrame = {
    val (run, rel, qids) = irRunRelOf(documents, memoDt)
    val nrel = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val hits = run.join(rel, Seq("qid", "doc_id"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("first_rank"))
    qids
      .join(nrel, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("hits_at_k", coalesce(col("hits"), lit(0L)))
      .select(col("qid"), col("n_rel"), col("hits_at_k"),
        expr(s"hits_at_k * 10000L div $IrK").as("p_at_k_bp"),
        expr("CASE WHEN n_rel = 0 THEN 0L ELSE hits_at_k * 10000L div n_rel END")
          .as("recall_at_k_bp"),
        expr("CASE WHEN first_rank IS NULL THEN 0L ELSE 10000L div first_rank END")
          .as("mrr_bp"))
      .orderBy(col("qid"))
  }

  /** Distinct (doc_id, token) postings under the whitespace tokenization,
    * memoized + persisted per (session, dir) — the frame q234's relevance
    * truth and q235's prefix-filter join both consume repeatedly. Round-7
    * verdict #1: q235 alone re-derived this by lineage FOUR times (for
    * token counts, set sizes, prefixes, and sorted sets) — four full
    * corpus explode+distinct passes; one persisted scan serves them all,
    * and q234 shares it instead of rebuilding its own copy. */
  private[graft] def docTokenSets(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frame(spark, s"docTokens|$dir") {
      // Tables.fan (r13): the tokenize + explode + partial-distinct runs
      // map-side on a one-row-group scan — single-threaded unwidened.
      Tables.fan(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
    }

  /** Trigram-index substring search (q243) — how a code-search engine
    * greps 100 TB (Google Code Search / Zoekt / Sourcegraph): build
    * character-trigram postings ONCE, answer a substring query by
    * intersecting the postings of the pattern's trigrams (conjunctive —
    * necessary but not sufficient, since grams can match out of order),
    * and verify only the candidates with a real `contains`. Per pattern
    * the audit reports candidates, verified matches, the index's
    * precision (what fraction of candidate I/O was real — the number
    * that justifies the index), and corpus selectivity, all in bp.
    * Distinct from q153's token-level positional phrase search: this is
    * SUBSTRING semantics over raw characters, and the candidate set
    * comes from an index intersection, not position arithmetic.
    *
    * Scale shape: the postings build is one map-side explode + distinct
    * (exactly the layout a search cluster materializes once and
    * bucket-joins forever); per query the work is |patterns| broadcast
    * joins over gram-keyed postings and a verify touch of candidates
    * only. Nothing corpus × corpus. */
  def trigramSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val grams = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))"))
      .as("gram")).distinct()
    val pats = TrigramPatterns.toDF("pattern")
      .select(col("pattern"), explode(expr(
        "transform(sequence(1, length(pattern) - 2), i -> substring(pattern, i, 3))"))
        .as("gram")).distinct()
    val patSizes = pats.groupBy(col("pattern")).agg(count(lit(1)).as("n_grams"))
    val cands = grams.join(broadcast(pats), Seq("gram"))
      .groupBy(col("pattern"), col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .join(broadcast(patSizes), Seq("pattern"))
      .filter(col("n_hit") === col("n_grams"))
      .select(col("pattern"), col("doc_id"))
    val verified = cands.join(docs, Seq("doc_id"))
      .filter(expr("instr(text, pattern) > 0"))
      .select(col("pattern"), col("doc_id"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    broadcast(patSizes)
      .join(cands.groupBy(col("pattern")).agg(count(lit(1)).as("n_candidates")), Seq("pattern"), "left")
      .join(verified.groupBy(col("pattern")).agg(count(lit(1)).as("n_matches")), Seq("pattern"), "left")
      .crossJoin(broadcast(nDocs))
      .select(col("pattern"), col("n_grams"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        expr("CASE WHEN coalesce(n_candidates, 0) = 0 THEN 10000L ELSE coalesce(n_matches, 0) * 10000L div n_candidates END")
          .as("precision_bp"),
        expr("coalesce(n_matches, 0) * 10000L div n_docs").as("selectivity_bp"))
      .orderBy(col("pattern"))
  }

  /** Integer NDCG@k retrieval eval (q313) — the top-weighted metric
    * q234's P@k/recall/MRR card lacks, graded on the SAME BM25 run and
    * exact Jaccard truth (one scorer, several metrics — the shared
    * [[irRunRelOf]] core, so q234 and q313 can never disagree about
    * what was retrieved). The log₂ discount is q304's Q8.8 integer
    * log (term(r) = 2 560 000 div L(r+1) — 10000 at rank 1), and the
    * ideal DCG unrolls the same formula over a k-row literal sequence,
    * so NDCG is hash-exact, not a float claim.
    *
    * Scale shape: q234's postings plans plus a per-query ≤k-row explode
    * for the ideal — result-sized throughout. */
  def irNdcg(spark: SparkSession, dir: String): DataFrame =
    irNdcgOf(Tables.documents(spark, dir), _ => docTokenSets(spark, dir))

  private[graft] def irNdcgOf(documents: DataFrame,
      memoDt: DataFrame => DataFrame = identity): DataFrame = {
    val (run, rel, qids) = irRunRelOf(documents, memoDt)
    val term = (x: String) => s"2560000L div ${log2q8Spark(s"($x) + 1")}"
    val dcg = run.join(rel, Seq("qid", "doc_id"))
      .groupBy(col("qid")).agg(sum(expr(term("rank"))).as("dcg_x"))
    val nrel = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val idcg = nrel
      .select(col("qid"), col("n_rel"), explode(expr(s"sequence(1, $IrK)")).as("i"))
      .filter(col("i") <= col("n_rel"))
      .groupBy(col("qid")).agg(sum(expr(term("i"))).as("idcg_x"))
    qids
      .join(nrel, Seq("qid"), "left")
      .join(dcg, Seq("qid"), "left")
      .join(idcg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("dcg_x"), lit(0L)).as("dcg_x"),
        coalesce(col("idcg_x"), lit(0L)).as("idcg_x"),
        expr("CASE WHEN coalesce(idcg_x, 0L) = 0 THEN 0L"
          + " ELSE coalesce(dcg_x, 0L) * 10000L div idcg_x END").as("ndcg_bp"))
      .orderBy(col("qid"))
  }
}
