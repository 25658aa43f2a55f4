package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosine_sim, simhash64}
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every pipeline is
  *   per-row signature (map-only, codegen'd) →
  *   candidate generation (ONE shuffle on a compact key) →
  *   exact verification (joins only candidate pairs, never all pairs).
  * Nothing materializes the O(n²) pair space; the only quadratic work is
  * within LSH buckets, which banding keeps small.
  */
object Dedup {

  // ---------------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------------

  /** Exact dedup by content hash: one hash-aggregate, keeps the smallest id
    * per group. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------------

  /** MinHash parameters. k = bands*rowsPerBand universal hashes
    * h_i(x) = (a_i·x + b_i) mod p over 31-bit token hashes. With the
    * default 16 bands × 12 rows, a pair at Jaccard 0.95 is missed with
    * probability (1-0.95^12)^16 ≈ 4·10⁻⁶ — effectively exact at the 0.95
    * threshold — while passing only ~20% of pairs at Jaccard 0.7 (vs ~50%
    * for 8-row bands): longer bands halve the candidate volume on
    * high-similarity corpora for the same recall. */
  final case class MinHashParams(bands: Int = 16, rowsPerBand: Int = 12, seed: Long = 42L) {
    val k: Int = bands * rowsPerBand
    val prime: Long = 2147483647L // 2^31-1; a·x+b ≤ 2^62, ANSI-overflow-safe
    private val rnd = new scala.util.Random(seed)
    val as: Array[Long] = Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val bs: Array[Long] = Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
  }

  import graft.functions.MinHashFunctions.{minhash_band_keys, minhash_signature}

  /** k-wide MinHash signature as array<bigint> — single-pass custom
    * expression (see MinHashExpressions for why not transform/array_min). */
  def minhashSignature(text: Column, p: MinHashParams = MinHashParams()): Column =
    minhash_signature(
      array_distinct(TextAnalysis.tokens(text)), p.bands, p.rowsPerBand, p.seed)

  /** Banded LSH keys straight from a (distinct) shingle array. */
  def bandKeysOf(shingles: Column, p: MinHashParams = MinHashParams()): Column =
    minhash_band_keys(shingles, p.bands, p.rowsPerBand, p.seed)

  /** Exact token-set Jaccard between two DISTINCT-array columns, via
    * |a∩b| / (|a| + |b| - |a∩b|) — one intersection, no union
    * materialization. int/int division → bit-deterministic double. */
  def jaccard(a: Column, b: Column): Column = {
    val ni = size(array_intersect(a, b))
    ni.cast("double") / (size(a) + size(b) - ni)
  }

  /** Jaccard over SORTED distinct arrays: merge-scan intersection (custom
    * expression) — the hot-path variant for millions of candidate pairs. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val ni = graft.functions.VectorFunctions.sorted_intersect_size(a, b)
    ni.cast("double") / (size(a) + size(b) - ni)
  }

  /** Near-duplicate pairs: LSH candidates verified with exact Jaccard ≥
    * threshold. Output (id_a, id_b, jaccard).
    *
    * Two-tier structure (the shape that survives duplicate-heavy corpora):
    * documents are first canonicalized by exact token-set key. Tier A emits
    * all intra-group pairs (Jaccard 1.0 by construction) straight from a
    * group join — no LSH involved. Tier B runs MinHash+LSH over the
    * DISTINCT sets only, then expands verified set-pairs back to document
    * pairs. Without this, a group of n identical sets collides in every
    * band and the bucket join degenerates to bands·n² rows (observed 6× on
    * the harness corpus: one 248-doc group → 740k pre-distinct rows). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.95, p: MinHashParams = MinHashParams(),
      maxGroupPairs: Long = Long.MaxValue): DataFrame = {
    val (members, setPairs) = tieredSetPairs(docs, idCol, textCol, threshold, p)
    pairsOfTiered(members, setPairs, maxGroupPairs)
  }

  /** Expand tier outputs to the full doc-pair view: tier A (identical
    * token sets → all pairs at jaccard exactly 1.0) ∪ tier B (verified set
    * pairs → member cross products). Quadratic in duplicate-group size BY
    * DESIGN — this is the reporting surface; clustering goes through
    * [[clustersOfTiered]] and never materializes it.
    *
    * `maxGroupPairs` (default off) bounds the tier-A expansion for
    * corpora where one duplicate group holds millions of docs (at 100 TB
    * a 10⁶-doc group would otherwise emit 5·10¹¹ pairs): each identical-
    * set group reports only its first `maxGroupPairs` pairs in (id_a,
    * id_b) order — deterministic, always a prefix-subset of the uncapped
    * output, groups at or under the cap are reported in full. */
  def pairsOfTiered(members: DataFrame, setPairs: DataFrame,
      maxGroupPairs: Long = Long.MaxValue): DataFrame = {
    val tierAFull = members
      .select(col("set_key"), col("id").as("id_a"))
      .join(members.select(col("set_key"), col("id").as("id_b")), Seq("set_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val tierA =
      if (maxGroupPairs == Long.MaxValue) tierAFull
      else {
        // Rank members within their group (per-group window — linear) and
        // keep pairs whose lexicographic (rank_a, rank_b) index is within
        // the cap: idx = (ra-1)·n - ra·(ra-1)/2 + (rb-ra), 1-based.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("set_key")).orderBy(col("id"))
        val ranked = members
          .select(col("set_key"), col("id"),
            row_number().over(w).cast("long").as("r"),
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("set_key"))).as("n"))
        // Anchor a's pairs start at idx (ra-1)·n - ra·(ra-1)/2 + 1, so
        // anchors whose start exceeds the cap are dropped BEFORE the join
        // (≈ cap/n + 1 anchors survive per group) — the join itself is
        // bounded at ~cap + n rows per group, not n²; r·(r-1) is even so
        // the double division is exact below 2^52.
        def startIdx(r: Column, n: Column): Column =
          (r - 1) * n - (r * (r - 1) / 2).cast("long")
        ranked.as("a")
          .filter(startIdx(col("r"), col("n")) < maxGroupPairs)
          .join(ranked.as("b"), Seq("set_key"))
          .filter(col("a.r") < col("b.r"))
          .withColumn("pair_idx",
            startIdx(col("a.r"), col("a.n")) + (col("b.r") - col("a.r")))
          .filter(col("pair_idx") <= maxGroupPairs)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(1.0).as("jaccard"))
      }
    val tierB = setPairs
      .join(members.select(col("set_key").as("key_a"), col("id").as("ma")), Seq("key_a"))
      .join(members.select(col("set_key").as("key_b"), col("id").as("mb")), Seq("key_b"))
      .select(
        least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("jaccard"))
    tierA.union(tierB)
  }

  /** The tiered core both near-dup surfaces build on: documents
    * canonicalized by exact token-set key, then MinHash+LSH over the
    * DISTINCT sets only. Returns
    *   members  (set_key, id)           — linear, one row per doc
    *   setPairs (key_a, key_b, jaccard) — verified ≥ threshold, SET level.
    * Without the canonicalization a group of n identical sets collides in
    * every band and the bucket join degenerates to bands·n² rows (observed
    * 6× on the harness corpus: one 248-doc group → 740k pre-distinct
    * rows). */
  private[graft] def tieredSetPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, p: MinHashParams = MinHashParams()): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    // Persisted intermediates are the COMPACTED representations (one row per
    // distinct set / per doc key): tiny relative to the corpus, reused by
    // both tiers — without them each reuse re-runs tokenize+minhash.
    val base = docs
      .select(
        col(idCol).as("id"),
        sort_array(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"),
        TextAnalysis.tokenSetKey(col(textCol)).as("set_key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = base.select(col("set_key"), col("id"))

    // LSH over one representative per distinct set. Candidate pairs from a
    // self-join on compact (band_idx, band_key, set_key) rows — token
    // arrays join in only AFTER distinct, once per unique pair. (A
    // collect_list+double-explode variant avoids the join but copies the
    // whole bucket per generated row — measured 2× slower.)
    // The candidate stream is the volume hot spot (a self-similar corpus
    // can emit ~1000× more candidates than survivors), so it carries the
    // set key as BINARY(16) (`unhex` of the md5 hex) — half the bytes of
    // the hex string through the bucket join and the distinct, exact by
    // construction. Hex keys reappear only on the tiny verified output.
    val reps = base
      .groupBy(col("set_key"))
      .agg(first(col("toks")).as("toks"))
      .withColumn("skey", unhex(col("set_key")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = reps
      .select(col("skey"),
        posexplode(bandKeysOf(col("toks"), p)).as(Seq("band_idx", "band_key")))
    val setPairs = banded
      .select(col("band_idx"), col("band_key"), col("skey").as("skey_a"))
      .join(banded.select(col("band_idx"), col("band_key"), col("skey").as("skey_b")),
        Seq("band_idx", "band_key"))
      .filter(col("skey_a") < col("skey_b"))
      .select(col("skey_a"), col("skey_b"))
      .distinct()
      .join(reps.select(col("skey").as("skey_a"), col("set_key").as("key_a"),
        col("toks").as("toks_a")), Seq("skey_a"))
      .join(reps.select(col("skey").as("skey_b"), col("set_key").as("key_b"),
        col("toks").as("toks_b")), Seq("skey_b"))
      .withColumn("jaccard", jaccardSorted(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("key_a"), col("key_b"), col("jaccard"))
    (members, setPairs)
  }

  /** Cross-corpus near-duplicates: corpus docs whose token set is within
    * `threshold` Jaccard of any BENCHMARK doc — the decontamination pass a
    * training pipeline runs before the data ships (training docs that
    * near-duplicate an eval/benchmark item must be dropped). Same banded
    * LSH shape as [[minhashNearDups]], but candidates pair only ACROSS the
    * two inputs, so the work is bounded by corpus×benchmark bucket
    * overlap, never corpus². Band params must be chosen for the TARGET
    * threshold (the 0.95-tuned default misses ~1/3 of 0.8-pairs), and for
    * decontamination specifically they must be RECALL-HEAVY: a missed
    * pair here is benchmark contamination shipping to training. At the
    * same k=192 hash budget, 48×4 misses a j=0.8 pair with p ≈ 1·10⁻¹¹
    * (vs 6·10⁻⁵ for 32×6 — which really did drop 3 of ~50k pairs at the
    * 10× harness SF). The price is looser buckets (a j=0.5 pair collides
    * with p ≈ 0.95), i.e. more candidates through the exact-verify join —
    * the right side of the tradeoff when the benchmark set is the small
    * side and false candidates only cost verification, not correctness.
    * Output (corpus_id, benchmark_id, jaccard); identical ids excluded
    * (benchmark ⊆ corpus is common). */
  def crossNearDups(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8,
      p: MinHashParams = MinHashParams(bands = 48, rowsPerBand = 4)): DataFrame = {
    def prep(df: DataFrame, side: String): DataFrame =
      df.select(
        col(idCol).as(s"id_$side"),
        sort_array(array_distinct(TextAnalysis.tokens(col(textCol)))).as(s"toks_$side"))
    val ca = prep(corpus, "a")
    val cb = prep(benchmark, "b").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ba = ca.select(col("id_a"),
      posexplode(bandKeysOf(col("toks_a"), p)).as(Seq("band_idx", "band_key")))
    val bb = cb.select(col("id_b"),
      posexplode(bandKeysOf(col("toks_b"), p)).as(Seq("band_idx", "band_key")))
    ba.join(bb, Seq("band_idx", "band_key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(ca, Seq("id_a"))
      .join(cb, Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Character n-gram (shingle) Jaccard variant: same LSH machinery over
    * word 3-gram shingles instead of single tokens — discriminative for
    * running text where unigram sets saturate. */
  def wordNgrams(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    // Single-pass custom expression — the transform/element_at HOF form is
    // interpreted per gram (see WordNgrams scaladoc; 10× on q64 at n=10).
    when(size(toks) >= n, graft.functions.NgramFunctions.word_ngrams(toks, n))
      .otherwise(array(text))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val grams = docs.select(
      col(idCol).as("tid"),
      sort_array(array_distinct(wordNgrams(col(textCol), n))).as("grams"))
    // Reuse minhash LSH over the shingle strings directly.
    val p = MinHashParams()
    val banded = grams
      .select(col("tid"), posexplode(bandKeysOf(col("grams"), p)).as(Seq("band_idx", "band_key")))
    val l = banded.select(col("band_idx"), col("band_key"), col("tid").as("id_a"))
    val r = banded.select(col("band_idx"), col("band_key"), col("tid").as("id_b"))
    l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(grams.select(col("tid").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(grams.select(col("tid").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("grams_a"), col("grams_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Keeper assignments: for every duplicate-content group, map each
    * non-keeper to the group's min id. Output is LINEAR in the number of
    * duplicates (one row per dropped doc) — the form a 100 TB dedup
    * actually materializes, vs the O(n²) all-pairs view. */
  def dedupAssignments(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_key")).orderBy(col(idCol))
    df.select(md5(col(contentCol).cast("binary")).as("content_key"), col(idCol))
      .withColumn("keep_id", first(col(idCol)).over(w))
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("dup_id"), col("keep_id"))
  }

  /** Connected components over an undirected pair list (id_a, id_b):
    * iterative min-label propagation to a fixpoint. Each iteration is one
    * shuffle (join + min-aggregate); converges in O(diameter) rounds —
    * near-dup graphs are dense blobs with tiny diameters. Output:
    * (id, component) where component = min id in the component.
    *
    * The convergence check rides the propagate job: each round's frame
    * carries (prev, comp) and is eagerly checkpointed, so "anything
    * changed?" is a limit-1 scan over the already-cached blocks — not the
    * extra join + full count per round it used to be. If maxIter rounds
    * pass without a fixpoint (possible only on a chain of diameter >
    * maxIter, not a near-dup blob) the result would silently under-merge,
    * so that case warns loudly instead.
    *
    * Small-graph fast path: the edge list is materialized (the persist
    * the loop needs anyway) and counted; at or under `driverMaxEdges`
    * (default 10⁵ ≈ 1.6 MB of longs) the components come from a
    * driver-side union-find instead of 4–6 distributed rounds — each
    * round is ~0.5 s of pure job-launch overhead on a graph this size.
    * This is the COMMON case here by construction: set-level collapsing
    * (clustersOfTiered) turns every duplicate group into one node, so
    * even a 100 TB corpus yields a pair graph of just its cross-set
    * near-dup links; a corpus that still exceeds the gate runs the
    * distributed loop unchanged. DedupSpec asserts both paths produce
    * identical labels on the same graphs. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Long = 100000L): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Shuffle width inside the loop is left to session conf + AQE
    // coalescing (which shrinks the tiny bounded shuffles at runtime):
    // mutating session-global conf here would silently degrade any query
    // running CONCURRENTLY on a shared session — a ~5% local win measured
    // against a correctness hazard.
    try {
      val nEdges = edges.count() // materializes the persist either way
      if (nEdges <= driverMaxEdges) driverComponents(edges)
      else connectedComponentsLoop(edges, maxIter)
    } finally {
      edges.unpersist()
      ()
    }
  }

  /** Driver union-find (path compression + min-id roots) over a small
    * collected edge list — bit-identical output contract to the
    * distributed loop: (id, comp = min id of the component) for every id
    * appearing in the edge list. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    val pairs = edges.as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // Min-id root so the final label IS the component minimum.
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      ()
    }
    val ids = pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    ids.toSeq.sorted.map(id => (id, find(id))).toDF("id", "comp")
  }

  /** Rounds taken + converged flag of the MOST RECENT distributed CC loop
    * (driver fast path does not touch it). Observability for tests and
    * operators: the round count is the O(log diameter) claim made above,
    * and harness-sized data never exercises it — DedupSpec builds
    * adversarial chain-of-blobs graphs to pin it. */
  @volatile private[graft] var lastLoopStats: (Int, Boolean) = (0, true)

  private def connectedComponentsLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // localCheckpoint per iteration truncates the lineage — without it the
    // logical plan nests one join level per round and planning itself OOMs.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val propagated = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_comp")).as("min_nbr_comp"))
      val stepped = labels
        .join(propagated, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("min_nbr_comp"), col("comp"))).as("comp"))
      // Pointer jumping: comp ← label(comp). Labels are always node ids, so
      // each round also halves the label-forest depth — edge propagation
      // alone needs O(diameter) rounds (observed 10 on a chain-shaped
      // near-dup blob), propagate+jump needs O(log diameter).
      //
      // Convergence rides ON the checkpoint-materialization job via an
      // accumulator (one driver sync per round, not a second isEmpty scan):
      // the typed map counts label changes while the rows stream into the
      // checkpoint blocks, and drops `prev` so the cached frame is the
      // narrow (id, comp). Task retries can only over-count — harmless,
      // the test is `== 0`, and a genuinely changed round stays > 0.
      val changed = spark.sparkContext.longAccumulator(s"graft_cc_changed_$iter")
      val next = stepped
        .join(
          stepped.select(col("id").as("comp"), col("comp").as("jump")),
          Seq("comp"), "left")
        .select(col("id"), col("prev"),
          least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"))
        .as[(Long, Long, Long)]
        .map { case (id, prev, comp) =>
          if (prev != comp) changed.add(1L)
          (id, comp)
        }
        .toDF("id", "comp")
        .localCheckpoint(true)
      converged = changed.value == 0L
      labels = next
      iter += 1
    }
    lastLoopStats = (iter, converged)
    if (!converged) {
      System.err.println(
        s"[graft] connectedComponents did NOT converge in $maxIter iterations — " +
          "components may be under-merged; raise maxIter for chain-shaped graphs")
    }
    labels
  }

  /** Near-duplicate clusters: components of the near-dup pair graph.
    * (doc_id, component); component = smallest doc id in the cluster.
    *
    * Clusters at the SET level, not the doc level: a group of n identical
    * documents is one CC node reached through its set_key, not an n²-edge
    * clique — the doc-level pair list (what [[minhashNearDups]] surfaces)
    * is quadratic in duplicate-group size and would feed a 100 TB CC a
    * graph quadratically larger than necessary. Semantics are identical:
    * docs are connected iff they share a set_key (tier A) or their sets
    * are linked through verified tier-B pairs; the component label is the
    * smallest member doc id, and docs with no duplicate (singleton set,
    * no set pair) don't appear — exactly the doc-level CC contract. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.95): DataFrame = {
    val (members, setPairs) = tieredSetPairs(docs, idCol, textCol, threshold)
    clustersOfTiered(members, setPairs)
  }

  /** Set-level clustering core (see [[nearDupClusters]]); exposed so a
    * caller holding memoized tier outputs can reuse them.
    *
    * Each set node is relabeled to its MIN MEMBER doc id before CC: the
    * iterations then shuffle compact longs instead of 32-char md5 keys
    * (measured ~2× per round), and the converged label is already the
    * final component id (min doc id of the component) — no relabel join
    * afterwards. */
  def clustersOfTiered(members: DataFrame, setPairs: DataFrame): DataFrame = {
    // set_key → node id (min member doc id); one row per distinct set.
    // NOT persisted: the result is lazy, so a persist here could never be
    // safely unpersisted and would pin blocks for the session lifetime;
    // the ≤3 recomputations run over the caller's (usually persisted)
    // members frame.
    val nodes = members
      .groupBy(col("set_key"))
      .agg(min(col("id")).as("nid"), count(lit(1)).as("n_members"))
    val edges = setPairs
      .join(nodes.select(col("set_key").as("key_a"), col("nid").as("id_a")), Seq("key_a"))
      .join(nodes.select(col("set_key").as("key_b"), col("nid").as("id_b")), Seq("key_b"))
      .select(col("id_a"), col("id_b"))
    val setCC = connectedComponents(edges)
    val withComp = nodes
      .join(setCC.select(col("id").as("nid"), col("comp")), Seq("nid"), "left")
      .select(col("set_key"), col("n_members"),
        coalesce(col("comp"), col("nid")).as("set_comp"))
    // Docs with no duplicate — singleton set, no set pair — don't appear:
    // keep a set iff its component spans ≥ 2 docs.
    val keep = withComp
      .groupBy(col("set_comp"))
      .agg(sum(col("n_members")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("set_comp"))
    members
      .join(withComp.join(keep, Seq("set_comp")).select(col("set_key"), col("set_comp")),
        Seq("set_key"))
      .select(col("id"), col("set_comp").as("comp"))
  }

  // ---------------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------------

  /** SimHash per document (custom Catalyst expression — one pass). Token
    * hashes are the portable md5-derived h60, so the fingerprint is
    * oracle-checkable in DuckDB; bits 60–63 are deterministically 0 on both
    * engines (every token votes −1 there). */
  def simhash(text: Column): Column =
    simhash64(graft.functions.PortableHashFunctions
      .md5_token_hashes(TextAnalysis.tokens(text), bits = 60))

  /** Hamming distance between two simhashes: bit_count(xor). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Manku-style banding constants for [[simhashClosePairs]]: the 60 useful
    * simhash bits split into 6 ten-bit blocks; one candidate table per
    * 3-of-6 block subset (C(6,3) = 20 tables, 30-bit keys). Any pair with
    * hamming ≤ 3 differs in at most 3 blocks, so it agrees exactly on some
    * 3-subset → recall is exact at radius 3 — same guarantee as a 16-bit
    * pigeonhole, but with 2^30 buckets per table instead of 2^16: expected
    * bucket occupancy stays O(1) per table until the corpus approaches
    * ~2^30 docs, so the within-bucket self-join never degenerates at 100×
    * data (the 2^16 scheme saturates and grows quadratically there).
    * Shared with the q31 DuckDB oracle, which is generated from these same
    * values (PipelineQueries.duckSimhashBandCond). */
  private[graft] val SimhashBlockBits = 10
  private[graft] val SimhashBlocks = 6
  private[graft] val SimhashBandSubsets: Seq[Seq[Int]] =
    (0 until SimhashBlocks).combinations(3).map(_.toSeq).toSeq

  /** One 30-bit candidate key per band subset: the three 10-bit blocks of
    * `sig` selected by that subset, concatenated. Array position == band
    * index (pairs are candidates iff keys match at the same position). */
  private[graft] def simhashBandKeys(sig: Column): Column =
    array(SimhashBandSubsets.map { subset =>
      subset.foldLeft(lit(0L): Column) { (acc, b) =>
        acc * lit(1L << SimhashBlockBits) +
          shiftrightunsigned(sig, b * SimhashBlockBits)
            .bitwiseAND(lit((1L << SimhashBlockBits) - 1))
      }
    }: _*)

  /** Close pairs by SimHash via Manku 6-choose-3 banding (constants above):
    * candidate recall is exact for hamming ≤ 3, bucket space 2^30 per
    * table so occupancy survives a 100× corpus; ranked output shows the
    * nearest pairs found. */
  def simhashClosePairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, topK: Int = 100): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(simhashBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val l = banded.select(col("band_idx"), col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band_idx"), col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(topK)
  }

  // ---------------------------------------------------------------------------
  // Embedding near-dup
  // ---------------------------------------------------------------------------

  /** Embedding-cosine near-duplicates above `threshold`, via hyperplane-LSH
    * candidate buckets + exact cosine verify (custom expression). For small
    * thresholds LSH recall drops; the Ann module's multi-table variant is
    * the tunable version — this one targets true near-dups (θ small). */
  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4): DataFrame = {
    val candidates = graft.similarity.Ann
      .bucketed(embs, idCol, vecCol, tables = 8, bits = 6, seed = 7L)
    // Dedup candidates on compact (id_a, id_b) ONLY — multi-table collisions
    // would otherwise push both ~512 B vectors through the distinct exchange
    // per collision; vectors re-join once per unique pair (the
    // payload-after-distinct shape of tieredSetPairs above).
    val l = candidates.select(col("table_idx"), col("bucket"), col("id").as("id_a"))
    val r = candidates.select(col("table_idx"), col("bucket"), col("id").as("id_b"))
    val pairs = l.join(r, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val va = embs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vb = embs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    pairs
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cosine", cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
