package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (north-star
  * extension; no reference counterpart).
  *
  * Design for 100 TB:
  *  - exact dedup is a hash-groupBy on a 32-byte fingerprint — ONE shuffle
  *    of (fingerprint, id) pairs, never of document bodies;
  *  - near-dup is banded MinHash-LSH: candidate pairs come from equi-joins
  *    on band keys (shuffle keyed by tiny band hashes), NEVER an all-pairs
  *    cross join. Only candidates in the same bucket get the exact Jaccard
  *    verification.
  *  - all hashes are md5-based and fully deterministic, so results are
  *    reproducible across runs/engines (the DuckDB oracle mirrors them
  *    bit-for-bit).
  */
object Dedup {

  /** Exact dedup: keep one arbitrary row per distinct value of `cols`.
    * Plain `dropDuplicates` — Spark plans it as a hash aggregate.
    */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Exact dedup, canonical + deterministic: group by content fingerprint,
    * keep the row with the smallest id. Two-phase: the groupBy shuffles only
    * (fingerprint, id); the winning rows come back via a semi-join, so
    * document bodies move at most once.
    */
  def exactCanonical(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val winners = keyed.groupBy("__fp").agg(min(col(idCol)).as(idCol))
    keyed.join(winners, Seq("__fp", idCol), "left_semi").drop("__fp")
  }

  /** Keep-first dedup (pandas `drop_duplicates(subset, keep='first')`,
    * made deterministic): one row per `keys` group — the first under
    * `order` (pandas' implicit positional order has no distributed
    * analogue, so the caller names the tie-break explicitly). Delegates
    * to [[graft.ops.Joins.topKPerGroup]] with k=1: a partitioned window
    * row_number + filter — one shuffle on the keys, no global sort.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    graft.ops.Joins.topKPerGroup(df, keys, order, k = 1, rankCol = "__rn")
      .drop("__rn")

  /** Word k-shingles of a text column, as a distinct set. */
  def shingles(text: Column, k: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), k)

  /** Shingles from an already-projected token column. Referencing a token
    * COLUMN (not the tokenize expression) matters for the plan: `toks` is
    * used three times below, so CollapseProject keeps the tokenization in
    * its own projection instead of inlining (= re-evaluating) it per use.
    */
  def shinglesFromTokens(toks: Column, k: Int): Column = {
    val n = size(toks)
    array_distinct(
      when(n < k, array()).otherwise(
        transform(sequence(lit(1), n - lit(k) + 1),
          i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** MinHash universe: arithmetic stays below 2^60 (a,h < 2^30) so the
    * affine permutations never overflow a signed 64-bit int — in Spark OR
    * in the DuckDB oracle that mirrors them. Shared with the native
    * expression tier (graft.functions.MinhashParams).
    */
  val MinhashP: Long = graft.functions.MinhashParams.P

  /** Deterministic affine-permutation parameters (a_i, b_i), a_i != 0. */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    graft.functions.MinhashParams.hashParams(numHashes)

  /** Base hash per shingle: first 60 bits of md5 reduced mod P. Each
    * shingle is md5'd exactly ONCE; the `numHashes` MinHash functions are
    * cheap integer permutations of this value (the classic a*h+b mod p
    * construction) — not `numHashes` separate crypto hashes.
    */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP)

  /** MinHash signature (array<long>) from the base-hash column, through
    * the codegen'd `graft_minhash` Catalyst expression (requires
    * GraftExtensions registered — all of this repo's sessions do).
    */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int): Column =
    call_function("graft_minhash", hs, lit(numHashes))

  /** Skew guard for banded candidate joins: when `cap > 0`, band buckets
    * with more than `cap` members are EXCLUDED from candidate generation —
    * at crawl scale one boilerplate template can put 10⁷ docs in a single
    * band bucket, turning the self-join into one 10¹⁴-pair task. Dropped
    * buckets are counted (one 2-value aggregate, never an unbounded
    * collect) and logged — no silent caps. The size aggregate runs
    * EAGERLY, at plan-build: the no-silent-caps guarantee is that the
    * exclusion warning fires whenever a capped plan is handed out, not
    * only if the caller happens to materialize it. The input is persisted
    * (and registered with the caller's [[graft.Caches.scoped]] block) so
    * the size pass and the candidate join share one materialization.
    * The exclusion itself is a distributed anti-join on the oversized
    * keys. `cap <= 0` disables the guard and returns the input untouched
    * (the plan is byte-identical to the uncapped one).
    */
  private def capBuckets(banded: DataFrame, cap: Int, what: String): DataFrame = {
    if (cap <= 0) banded
    else {
      val b = graft.Caches.register(
        banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val over = b.groupBy("band_idx", "band_key").count()
        .where(col("count") > cap)
      val stats = over.agg(count(lit(1)).as("n"), sum(col("count")).as("rows")).first()
      if (stats.getLong(0) > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$what skew cap: excluding ${stats.getLong(0)} band bucket(s) with " +
            s"> $cap members (${stats.getLong(1)} banded rows) from candidate " +
            "generation — near-dups inside those buckets are NOT detected")
      b.join(over.select("band_idx", "band_key"),
        Seq("band_idx", "band_key"), "left_anti")
    }
  }

  /** Banded LSH near-dup candidate pairs with exact Jaccard verification.
    *
    * @param numHashes total minhash functions (bands * rowsPerBand)
    * @param bands     number of LSH bands; a pair collides if ANY band's
    *                  slice of the signature matches exactly
    * @param threshold exact word-`k`-shingle Jaccard cutoff applied to the
    *                  candidates
    * @param maxBucketSize when > 0, the hot-bucket skew guard: band buckets
    *                  with more members are excluded from candidate
    *                  generation (each would contribute O(size²) pairs —
    *                  in practice one boilerplate template), with an eager
    *                  warning of how many buckets/rows were dropped.
    *                  0 (default) = no cap, exhaustive candidates.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, one row per verified
    * near-dup pair.
    *
    * Scale shape: docs → (band_idx, band_key, id, shingles) exploded rows;
    * self-equi-join on (band_idx, band_key) generates candidates *within
    * buckets only*; `array_intersect`/`array_union` on the (small) shingle
    * sets verifies. Production callers at crawl scale should set
    * `maxBucketSize` (e.g. 10 000) — see [[capBuckets]].
    */
  def nearDupMinhash(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // staged projections: tokens, then shingles, then signature — each a
    // separate Project so nothing is inlined and re-evaluated per use.
    // Empty-shingle docs are dropped via the cheap token-count predicate
    // (equivalent to size(sh)==0, without re-deriving the shingle array).
    val tk = df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(graft.ops.Plans.noPushdown(size(col("tk")) >= k))
    val shPlain = tk.select(col("id"), shinglesFromTokens(col("tk"), k).as("sh"))
    // (id, shingles) feeds THREE branches (band generation + both
    // verification fetch joins); without a materialization boundary each
    // branch re-tokenizes and re-shingles the corpus. Persisted
    // MEMORY_AND_DISK: spills instead of failing when the shingle table
    // outgrows executor memory at corpus scale. The handle goes into
    // graft.Caches so callers can unpersist once the result materializes
    // (a long-lived session would otherwise accumulate cached blocks).
    val sh = graft.Caches.register(
      shPlain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    nearDupFromShingles(sh, numHashes, bands, threshold, maxBucketSize)
  }

  /** [[nearDupMinhash]] from a prebuilt (id, sh) shingle table — the entry
    * point for callers that already hold one (incrementalDedup's batch
    * side re-deduplicates a REMNANT of a table it shingled and persisted
    * two steps earlier; re-tokenizing it would add a full projection pass
    * plus a second persist materialization for identical arrays). The
    * caller owns the table's persistence.
    */
  private[ext] def nearDupFromShingles(sh: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val hs = sh.select(col("id"), shingleHashes(col("sh")).as("hs"))
    val sig = hs.select(col("id"), minhashSignatureFromHashes(col("hs"), numHashes).as("sig"))
    // banded rows carry ONLY (band_idx, band_key, id): the candidate
    // self-join shuffles narrow rows — shingle arrays never enter this
    // shuffle, which is what keeps the join viable at corpus scale.
    val bandedRaw = sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_idx"),
          md5(concat_ws("|", slice(col("sig"), b * rows + lit(1), lit(rows))
            .cast("array<string>"))).as("band_key"))))
        .as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_key"))
    val banded = capBuckets(bandedRaw, maxBucketSize, "nearDupMinhash")
    // observed candidate count (no extra pass — CollectMetrics rides the
    // verification action): a corpus shift that inflates the LSH buckets
    // shows up as this logged number next to the slow run, per the
    // no-silent-caps rule.
    graft.Metrics.ensureListener(sh.sparkSession)
    val cand = banded.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
      .join(banded.select(col("band_idx"), col("band_key"), col("id").as("id_b")),
        Seq("band_idx", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .observe(graft.Metrics.name("minhash_candidates"),
        count(lit(1)).as("candidate_pairs"))
    // exact Jaccard verification: fetch each side's shingle set by id —
    // candidates are few, so these joins move only the surviving arrays.
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** (id, sh) shingle-set table: the staged tokenize → shingle projection
    * shared by the batch and corpus sides of [[incrementalDedup]].
    * Sub-`k`-token docs are dropped (no shingles → can never match).
    */
  private[graft] def shingleTable(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(graft.ops.Plans.noPushdown(size(col("tk")) >= k))
      .select(col("id"), shinglesFromTokens(col("tk"), k).as("sh"))

  /** (id, band_idx, band_key) LSH band table from a shingle table — the
    * narrow probe rows for banded candidate joins (shingle arrays never
    * enter the shuffle).
    */
  private[graft] def bandTable(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sig = sh.select(col("id"), shingleHashes(col("sh")).as("hs"))
      .select(col("id"), minhashSignatureFromHashes(col("hs"), numHashes).as("sig"))
    sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_idx"),
          md5(concat_ws("|", slice(col("sig"), b * rows + lit(1), lit(rows))
            .cast("array<string>"))).as("band_key"))))
        .as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_key"))
  }

  /** Incremental curation — dedupe an incoming batch against an existing
    * (already-deduplicated) corpus, the production shape where re-running
    * [[applyNearDupDedup]] over corpus+batch would redo corpus×corpus work
    * that can never produce new pairs:
    *
    *  1. exact-vs-corpus: anti-join on the content fingerprint;
    *  2. within-batch exact: canonical min-id representative per fingerprint;
    *  3. near-dup-vs-corpus: the batch's LSH band rows probe the CORPUS band
    *     table (equi-join on (band_idx, band_key)) — the corpus is never
    *     self-joined, so this step costs |batch| × collision-rate, not
    *     |corpus|²; candidates are verified with exact shingle Jaccard and
    *     matching batch docs dropped;
    *  4. within-batch near-dup: [[applyNearDupDedup]] on the remnant.
    *
    * At 100 TB the corpus fingerprint set and band table are precomputed
    * artifacts maintained alongside the corpus (append-only — this method
    * recomputes them from `corpus` only because it takes raw text).
    * Returns the surviving batch rows (original schema).
    */
  /** @param corpusPinKey when set, the three CORPUS-side derivations —
    *   fingerprint set, shingle table, capped band table — materialize
    *   through [[graft.Caches.pinned]] under this key (convention
    *   "what|dataDir"; the dedup parameters that shape them are suffixed
    *   internally, the [[Similarity]] edgePinKey rule) and are shared
    *   across queries and reps. This IS the production shape the method
    *   doc above describes: at 100 TB those artifacts are precomputed and
    *   maintained alongside the append-only corpus, never re-derived per
    *   incoming batch. When None (library default) they are per-query
    *   intermediates as before.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 0,
      corpusPinKey: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val pinSuffix = s"k$k|nh$numHashes|b$bands|cap$maxBucketSize"
    def pinOr(what: String, fallback: => DataFrame)(
        build: => DataFrame): DataFrame = corpusPinKey match {
      case Some(key) => graft.Caches.pinned(s"$key|$what|$pinSuffix")(build)
      case None => fallback
    }
    // 1. exact vs corpus — no .distinct() on the fingerprint set: the
    //    anti-join's hash build dedupes for free, and dropping it removes
    //    a whole aggregate exchange (fps are near-unique anyway)
    def corpusFpsPlain = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
    val corpusFps = pinOr("fps", corpusFpsPlain)(corpusFpsPlain)
    val b1 = batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(corpusFps, Seq("__fp"), "left_anti").drop("__fp")
    // 2. within-batch exact. Persisted (batch-sized, like the shingle
    //    tables): b2's subtree (corpus anti-join + canonicalization
    //    window) feeds the shingle build, the matched anti-join, and the
    //    final output — the cache keeps it to ONE execution and, unlike
    //    the r9/r10 eager localCheckpoint, defers materialization into
    //    the first consumer's job instead of a driver-blocking sync.
    //    (The r9 9-of-14-s analysis-replay problem is gone since the
    //    within-batch pass reuses shB below instead of re-shingling.)
    val b2 = graft.Caches.register(exactCanonical(b1, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // 3+4 fused (r12): the batch is banded ONCE and probes a side-tagged
    //    (batch ∪ corpus) band table in a SINGLE equi-join, and one shared
    //    Jaccard verification pass serves BOTH the corpus-match drop and
    //    the within-batch pair graph. Equivalence argument: a doc's
    //    minhash signature (hence its band rows) is intrinsic — the
    //    remnant's band rows inside the full-batch band table are
    //    identical to re-banding the remnant — so restricting the
    //    batch×batch pairs to remnant endpoints afterwards yields exactly
    //    the pairs the old second banding+verification pass produced,
    //    for half the stages. CAVEAT (exact only while the skew cap does
    //    not trip): `capBuckets` below prunes buckets by their FULL-BATCH
    //    size, whereas the unfused two-pass recounted bucket sizes on the
    //    post-corpus-drop remnant — a bucket that shrinks below
    //    `maxBucketSize` only because its hot members matched the corpus
    //    keeps its pairs under two-pass but loses them here. The fused cap
    //    is therefore (conservatively) a superset of the two-pass
    //    exclusions; every cap event is observe-logged (no silent caps),
    //    and a caller needing exact remnant-cap semantics can re-run
    //    [[nearDupMinhash]] on the survivor set. Both shingle tables still
    //    feed band generation AND the verification fetch joins — persist
    //    so neither side re-shingles.
    val shB = graft.Caches.register(shingleTable(b2, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val shC = pinOr("sh",
      graft.Caches.register(shingleTable(corpus, textCol, idCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))(
      shingleTable(corpus, textCol, idCol, k))
    // skew guard both probe sides: a boilerplate bucket on EITHER side of
    // the batch×corpus join multiplies the pair count
    val bandB = capBuckets(bandTable(shB, numHashes, bands), maxBucketSize,
      "incrementalDedup(batch)")
    val bandC = pinOr("band",
      capBuckets(bandTable(shC, numHashes, bands), maxBucketSize,
        "incrementalDedup(corpus)"))(
      capBuckets(bandTable(shC, numHashes, bands), maxBucketSize,
        "incrementalDedup(corpus)"))
    // __corpus tags the build side; batch-batch candidates are ordered
    // (id_a < id_b) to dedupe the self-join. Candidate counts are logged
    // (no-silent-caps) via the same observe channel as nearDupMinhash.
    graft.Metrics.ensureListener(batch.sparkSession)
    val cand = bandB
      .select(col("band_idx"), col("band_key"), col("id").as("__a"))
      .join(bandB.select(col("band_idx"), col("band_key"),
          col("id").as("__b"), lit(false).as("__corpus"))
        .union(bandC.select(col("band_idx"), col("band_key"),
          col("id").as("__b"), lit(true).as("__corpus"))),
        Seq("band_idx", "band_key"))
      .where(col("__corpus") || col("__a") < col("__b"))
      .select("__a", "__b", "__corpus").distinct()
      .observe(graft.Metrics.name("incremental_candidates"),
        count(lit(1)).as("candidate_pairs"))
    // one verification pass: fetch the probe side from the batch shingles
    // and the build side from the tag-keyed union (joining on the tag too
    // keeps a batch id and an equal corpus id from cross-matching).
    // Verified output is a pair-id table, at most candidate-sized:
    // checkpoint eagerly so the three consumers below (matched ids, pair
    // graph, cluster labels) plan against a materialized scan instead of
    // re-deriving the banded join.
    val verified = cand
      .join(shB.select(col("id").as("__a"), col("sh").as("__sh_a")), Seq("__a"))
      .join(shB.select(col("id").as("__b"), lit(false).as("__corpus"),
          col("sh").as("__sh_b"))
        .union(shC.select(col("id").as("__b"), lit(true).as("__corpus"),
          col("sh").as("__sh_b"))),
        Seq("__b", "__corpus"))
      .where(size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double")
        / size(array_union(col("__sh_a"), col("__sh_b"))) >= threshold)
      .select("__a", "__b", "__corpus")
      .localCheckpoint(true)
    // matched scales with the incoming batch (worst case: every batch doc
    // near-dups the corpus) — no broadcast hint, AQE decides.
    val matched = verified.where(col("__corpus"))
      .select(col("__a").as(idCol)).distinct()
    val b3 = b2.join(matched, Seq(idCol), "left_anti")
    // within-batch pair graph = batch-batch verified pairs with BOTH
    // endpoints surviving the corpus drop (see fusion note above)
    val mA = matched.select(col(idCol).as("__m"))
    val pairs = verified.where(!col("__corpus"))
      .join(mA, col("__a") === col("__m"), "left_anti")
      .join(mA, col("__b") === col("__m"), "left_anti")
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
    val labels = clusterNearDups(pairs, b3, idCol)
    val dropped = labels.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    b3.join(dropped, Seq(idCol), "left_anti")
  }

  /** Near-dup CLUSTER assignment: connected components over a verified
    * near-dup pair graph, labels = the smallest member id of each
    * component. This is the step that turns pairwise near-dups into "keep
    * one doc per cluster" — pairs alone over-delete when A~B and B~C but
    * A!~C.
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping.
    * Each round every node takes min(own label, neighbors' labels) — one
    * shuffle join + one aggregate — and then shortcuts its label through
    * the label map itself (`l[id] = l[l[id]]`, one more self-join): the
    * doubling step makes rounds-to-converge O(log diameter) instead of
    * O(diameter), so even pathological chains finish far inside `maxIter`
    * (a 1000-hop path converges in ~10 rounds). Each round materializes
    * via localCheckpoint so the plan does not grow with iterations.
    *
    * Job-count shape (the latency floor when the touched subgraph is
    * small): TWO driver-blocking jobs per round — the propagation
    * materialization and the jump materialization — with NO separate
    * convergence job. The previous label rides through the propagation
    * aggregate as a carried column and a LongAccumulator counts changed
    * labels DURING the materialization action itself; when propagation
    * already reached a fixed point the jump join is skipped entirely, so
    * the terminal confirmation round costs one job, not three. (Task
    * retries can only over-count the accumulator — an over-count forces
    * one extra harmless round, never a premature exit.) This is the
    * standard large-graph CC shape (label propagation, not a driver-side
    * union-find, which would pull the whole edge list into one process).
    * If `maxIter` is still hit before convergence the method emits an
    * explicit warning: labels are then approximate (split clusters), never
    * silently wrong.
    *
    * Small-graph fast path: the edge list here is the VERIFIED near-dup
    * pair graph — orders of magnitude smaller than the corpus (only docs
    * with a confirmed near-duplicate appear). When it fits comfortably on
    * the driver (`driverEdgeLimit`, default 1M pairs ≈ tens of MB of ids)
    * the label-prop loop's 2-jobs-per-round latency floor is replaced by
    * ONE bounded collect + an in-memory union-find that attaches the
    * larger root under the smaller, so every root is its component's
    * minimum — identical labels to the distributed fixed point. The
    * decision count is free: the edge frame is already eagerly
    * checkpointed. Above the limit (plausible at 100 TB before
    * deduplication) the distributed label-prop + pointer-jump loop below
    * runs unchanged. This is the same bounded-decision-point discipline
    * as the quantile grids: collect only what is PROVEN small first.
    *
    * @param pairs  (id_a, id_b) verified near-dup pairs (e.g.
    *               [[nearDupMinhash]] output)
    * @param allIds one row per document id — singletons keep their own id
    * @param driverEdgeLimit max pair-edge count for the driver union-find
    *                        fast path; 0 disables it (always distributed)
    * @return (id, cluster_id)
    */
  def clusterNearDups(pairs: DataFrame, allIds: DataFrame, idCol: String,
      maxIter: Int = 20, driverEdgeLimit: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    if (driverEdgeLimit > 0 && edges.count() <= 2L * driverEdgeLimit)
      return driverUnionFind(edges, allIds, idCol)
    // Iterate over the TOUCHED node set only (nodes with ≥1 near-dup edge)
    // — at corpus scale that's the tiny near-dup subgraph, not the corpus.
    // Untouched docs are singletons and join their own id back at the end.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    val spark = pairs.sparkSession
    val labelType = labels.schema("cluster_id").dataType
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor labels flow along edges; min over (own, incoming). The
      // node's PREVIOUS label rides along as __own (each id has exactly
      // one labels row, so max-ignoring-nulls recovers it without a join)
      val incoming = labels.join(edges, labels("id") === edges("src"))
        .select(col("dst").as("id"), col("cluster_id"),
          lit(null).cast(labelType).as("__own"))
      val propDf = labels
        .select(col("id"), col("cluster_id"), col("cluster_id").as("__own"))
        .union(incoming)
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"),
          max(col("__own")).as("__own"))
      // materialize through a Row map that counts changed labels into an
      // accumulator DURING the same job (no separate convergence count),
      // dropping __own on the way. createDataFrame severs the Union
      // lineage (whose constraint propagation chokes on the aliased
      // self-join below); the label table is the tiny touched subgraph,
      // so the Row round-trip is negligible.
      val acc = spark.sparkContext.longAccumulator
      val outSchema = org.apache.spark.sql.types.StructType(propDf.schema.take(2))
      val prop = spark.createDataFrame(
        propDf.rdd.mapPartitions(_.map { r =>
          if (r.isNullAt(2) || r.get(1) != r.get(2)) acc.add(1)
          org.apache.spark.sql.Row(r.get(0), r.get(1))
        }), outSchema).localCheckpoint(true)
      if (acc.value == 0L) {
        // propagation is a fixed point -> the jump is the identity
        // (labels are constant per component and l[c] = c); skip it
        labels = prop
        converged = true
      } else {
        // pointer jump: l[id] = l[l[id]]. Every label IS a touched-node id
        // (labels start as identity and min only ever picks existing ids),
        // so the self-join always matches; the invariant l[id] <= id makes
        // the jumped label <= the propagated one. This halves the remaining
        // chain depth each round -> O(log diameter) total rounds.
        val jumped = prop.as("p")
          .join(prop.select(col("id").as("jid"), col("cluster_id").as("jcid")),
            col("p.cluster_id") === col("jid"), "left")
          .select(col("p.id").as("id"),
            coalesce(col("jcid"), col("p.cluster_id")).as("cluster_id"))
          .localCheckpoint(true)
        // rebuild from the checkpointed RDD: localCheckpoint keeps the
        // origin plan's constraints, and the alias constraint from the jump
        // join references join-side attributes — next round's self-union
        // chokes on rewriting it (AttributeMap key-not-found).
        labels = graft.ops.Plans.pin(jumped)
      }
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterNearDups hit maxIter=$maxIter before converging: " +
          "cluster labels are approximate (long chains may be split)")
    allIds.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Driver-side union-find over a PROVEN-small edge list (guarded by
    * `driverEdgeLimit` in [[clusterNearDups]]). Union always re-roots the
    * larger root under the smaller, so by induction every root is the
    * minimum id of its component — bit-identical labels to the distributed
    * min-label fixed point. Ids are handled generically (Long / Int /
    * String all order consistently with SQL `min` via their natural
    * `Comparable`). The touched-label table is then joined back exactly as
    * the distributed path does; singletons keep their own id.
    */
  private def driverUnionFind(edges: DataFrame, allIds: DataFrame,
      idCol: String): DataFrame = {
    val spark = edges.sparkSession
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression: point every node on the walk at the root
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    @inline def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    edges.collect().foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val idType = edges.schema("src").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size)
    parent.keySet().forEach(k => rows += org.apache.spark.sql.Row(k, find(k)))
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        math.max(1, rows.size / 500000)), outSchema)
    allIds.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** End-to-end near-dup dedup: keep exactly one representative (the
    * smallest id) per connected near-dup cluster — the "apply" step after
    * [[nearDupMinhash]] + [[clusterNearDups]]. A kept row is one whose id
    * IS its cluster label. The KEPT set is corpus-sized (every
    * non-duplicate singleton is its own representative), so the corpus
    * filter is an anti-join on the DROPPED ids — the genuinely small side
    * (only near-dup losers) — with no broadcast hint: AQE broadcasts it
    * when it fits and shuffles when it doesn't. Document bodies still
    * move at most once.
    */
  def applyNearDupDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    val pairs = nearDupMinhash(df, textCol, idCol, k, numHashes, bands, threshold,
      maxBucketSize = maxBucketSize)
    val labels = clusterNearDups(pairs, df, idCol)
    val dropped = labels.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Near-dup dedup keeping the HIGHEST-SCORED member per cluster (e.g.
    * PageRank over the similarity graph via [[Graph.pageRank]], or a
    * quality score from TextAnalysis.qualityMetrics) instead of
    * [[applyNearDupDedup]]'s min-id representative — at corpus scale the
    * kept document should be the best one, not an id accident. Ties break
    * to the smaller id so the choice is deterministic. Scale shape:
    * clusters come from label propagation; scoring and winner selection
    * run over the TOUCHED subgraph only (docs with ≥1 near-dup edge —
    * untouched singletons are trivially their own winners), so the winner
    * aggregate and the loser set never grow with the corpus; the corpus
    * filter is an anti-join on the (small) loser set with no broadcast
    * hint — AQE broadcasts it when it fits.
    *
    * @param scores (idCol, scoreCol) one score per document
    */
  def applyNearDupDedupByScore(df: DataFrame, textCol: String, idCol: String,
      scores: DataFrame, scoreCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    // The winner-per-cluster trick below negates the id inside a struct-max,
    // which is only meaningful for integral ids (sibling dedup ops accept any
    // orderable id). Fail loudly rather than silently mangling string ids.
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType
        | org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"applyNearDupDedupByScore requires an integral idCol, got $idCol: $other")
    }
    val pairs = nearDupMinhash(df, textCol, idCol, k, numHashes, bands, threshold,
      maxBucketSize = maxBucketSize)
    val labels = clusterNearDups(pairs, df, idCol)
    // Every member of a size-≥2 cluster has at least one edge, so the
    // touched node set (pair endpoints) is exactly the set of docs that can
    // LOSE — restrict scoring to it and the whole winner computation stays
    // proportional to the near-dup subgraph, not the corpus.
    val touched = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val members = labels.join(touched, Seq("id"), "left_semi")
    // NaN sorts greater than every double in Spark's ordering, so a NaN
    // score would always win the cluster; demote it (and null) to -inf.
    val rawScore = col(scoreCol).cast("double")
    val scored = members.join(
      scores.select(col(idCol).as("id"),
        when(isnan(rawScore), lit(Double.MinValue)).otherwise(rawScore).as("__score")),
      Seq("id"), "left")
      .withColumn("__score", coalesce(col("__score"), lit(Double.MinValue)))
    // winner per cluster = max (score, -id): encode as a struct max so the
    // selection is ONE aggregate, no window sort
    val winners = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("__score"), (-col("id")).as("__negid"))).as("w"))
      .select(col("cluster_id"), (-col("w.__negid")).cast("long").as("__winner"))
    // losers = touched members that are not their cluster's winner — the
    // genuinely small side; anti-join with no hint, AQE picks the strategy.
    val dropped = scored.join(winners, Seq("cluster_id"))
      .where(col("id") =!= col("__winner"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity for ALL pairs above a threshold —
    * the brute-force O(n²) baseline used to validate LSH recall on samples.
    * NEVER run this at corpus scale; it exists as the correctness yardstick.
    */
  def jaccardAllPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .where(size(col("sh")) > 0)
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT shingle-set Jaccard self-join via PREFIX FILTERING (the
    * PPJoin-family prefix filter; Chaudhuri/Ganti/Kaushik SSJoin and
    * Xiao et al. PPJoin are the public references) — every pair with
    * Jaccard(shingle-set A, shingle-set B) >= threshold, with NO
    * sampling and NO probabilistic recall loss: the exact complement to
    * [[nearDupMinhash]] over the same word-k-shingle sets.
    *
    * Prefix principle: fix ONE total order over the shingle vocabulary
    * — ascending document frequency, ties by shingle string — and order
    * every doc's shingles by it. If Jaccard >= t, then
    * |A∩B| >= t·max(|A|,|B|), and the first
    * p(S) = |S| − ceil(t·|S|) + 1 elements of each ordering (its
    * "prefix") must intersect — so candidates come from an equi-join on
    * prefix shingles ONLY. Because the order is rarest-first, prefixes
    * are made of the LONG TAIL of the shingle space: bucket sizes stay
    * tiny exactly where a naive element join would explode (boilerplate
    * shingles live in every doc's suffix). A length filter
    * (min(n) >= t·max(n)) prunes candidates further before
    * verification computes exact Jaccard on the full shingle arrays.
    *
    * Scale shape: one (id, shingle) shuffle to attach frequencies (same
    * class as termStats), per-doc re-assembly via a sorted-struct
    * collect (docs are bounded, never corpus-sized buffers), prefix
    * explode of ~(1−t)·|S| rows per doc, candidate equi-join on rare
    * shingles, verification fetch joins by id. No all-pairs product
    * anywhere.
    */
  def jaccardJoinPrefix(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    graft.Metrics.ensureListener(df.sparkSession)
    // tokens staged as their OWN projection first: shinglesFromTokens
    // references its token input several times, and inlining the tokenize
    // expression would re-run the regex split per reference (measured 10 s
    // vs 1 s on 5k docs at sf0.1). The shingle table then feeds FOUR
    // branches (frequency count, ordering, both verification fetches) —
    // persisted so the corpus is shingled once, same as nearDupMinhash's
    // shingle stage.
    val tk0 = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__tk0"))
      .where(graft.ops.Plans.noPushdown(size(col("__tk0")) >= k))
    val docs = graft.Caches.register(tk0
      .select(col("id"), shinglesFromTokens(col("__tk0"), k).as("tk"))
      .where(graft.ops.Plans.noPushdown(size(col("tk")) > 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = docs.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("__df"))
    // Every pre-verification bound gets EPS slack: the double literal for
    // a threshold like 0.8 sits a hair ABOVE the exact rational, so
    // ceil(t*n) / t*max(n) computed without slack can mis-prune a pair
    // whose true Jaccard equals the threshold exactly (4/5 = 0.8 is
    // representable; 0.8*5 rounds to 4.0000000000000002). Slack only
    // admits a few extra candidates — the exact verification is the gate.
    val eps = 1e-9
    val pLen = (col("n") - ceil(lit(threshold) * col("n") - eps) + 1).cast("int")
    // rarest-first PREFIX per doc, directly as rows: a keyed row_number
    // window over (document frequency, shingle) keeps the p(S) smallest
    // elements — no full sorted-array reassembly (the collect_list +
    // array_sort + slice + re-explode spelling rebuilt every doc's whole
    // ordering only to throw away the suffix)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df"), col("t"))
    val pre = docs.select(col("id"), size(col("tk")).as("n"),
        explode(col("tk")).as("t"))
      .join(dfreq, "t")
      .withColumn("pos", row_number().over(wDoc) - 1)
      .where(col("pos") < pLen)
      .select(col("id"), col("n"), col("pos"), col("t").as("pt"))
    // PPJoin positional filter: a shared prefix element at 0-based
    // positions (pa, pb) bounds the overlap by min(na-pa, nb-pb); the
    // required overlap for Jaccard >= t is ceil(t/(1+t)·(na+nb)). Pairs
    // whose every shared prefix element sits too deep in both orderings
    // can never reach the threshold and are dropped BEFORE the distinct —
    // on vocabulary-sharing corpora this prunes most false candidates.
    val cand = pre.select(col("pt"), col("id").as("id_a"),
        col("n").as("na"), col("pos").as("pa"))
      .join(pre.select(col("pt"), col("id").as("id_b"),
        col("n").as("nb"), col("pos").as("pb")), Seq("pt"))
      .where(col("id_a") < col("id_b") &&
        least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")) - eps &&
        least(col("na") - col("pa"), col("nb") - col("pb")).cast("double") >=
          ceil(lit(threshold) / (1 + threshold) * (col("na") + col("nb")) - eps))
      .select("id_a", "id_b").distinct()
      // observed survivor count (no extra pass): prefix filtering is only
      // selective when some shingles are rare — on a low-entropy corpus the
      // candidate set approaches all-pairs (measured 12 784 candidates for
      // 256 true pairs at k=3 on the 30-word-vocabulary corpus, vs 255 at
      // k=5). Logging it makes the degeneration visible in the bench log.
      .observe(graft.Metrics.name("jaccard_prefix_candidates"),
        count(lit(1)).as("candidate_pairs"))
    cand
      .join(docs.select(col("id").as("id_a"), col("tk").as("tk_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("tk").as("tk_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("tk_a"), col("tk_b"))).cast("double")
          / size(array_union(col("tk_a"), col("tk_b")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** 32-bit SimHash of the token stream, as a non-negative long.
    *
    * Per token: md5's first 8 hex digits = 32 bits; each bit votes ±1;
    * the signature bit is 1 iff the summed vote is positive. Everything is
    * integer arithmetic on hex digits (`instr` lookup), so the DuckDB oracle
    * reproduces it exactly. Near-dup = small Hamming distance; bucket by
    * signature prefix for LSH-style blocking at scale.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // one conv() turns the first 8 md5 hex chars into the 32-bit token hash
    // directly — same big-endian value as parsing the 8 hex digits one by
    // one (bit j of the signature = bit (31-j) of hv), so signatures (and
    // oracle hashes) are unchanged, but the per-token expression tree is
    // ~10× smaller and the 32 vote aggregates reduce to shift-and-mask.
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("hv", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    // vote = 2*bit - 1 where bit j = (hv >> (31-j)) & 1
    val voteAggs = (0 until 32).map { j =>
      val bit = (shiftright(col("hv"), 31 - j) % 2).cast("int")
      sum(bit * 2 - 1).as(s"v$j")
    }
    val votes = tok.groupBy(col("id")).agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until 32).map { j =>
      when(col(s"v$j") > 0, lit(1L) * (1L << j)).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two simhash longs (for blocking-verified
    * near-dup joins): popcount of xor via bit_count.
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via banded blocking: split the 32-bit
    * signature into `bands` equal bit-slices; candidate pairs share at
    * least one identical slice; verification is exact Hamming distance.
    * Delegates to [[bandedHammingPairs]] — see there for the pigeonhole
    * recall guarantee.
    */
  def nearDupSimhash(df: DataFrame, textCol: String, idCol: String,
      bands: Int = 4, maxDist: Int = 3): DataFrame =
    bandedHammingPairs(
      simhash(df, textCol, idCol).select(col("id"), col("simhash").as("sig")),
      bits = 32, bands = bands, maxDist = maxDist)

  /** Shared banded-Hamming candidate join over `bits`-bit long signatures
    * (32-bit [[simhash]], 64-bit image dHash): split each signature into
    * `bands` equal bit-slices; candidate pairs share at least one
    * identical slice; verification is exact Hamming distance.
    *
    * Recall is GUARANTEED (not probabilistic) when `maxDist < bands`: by
    * pigeonhole, two signatures within Hamming distance d differ in at
    * most d of the bands, so with bands > d at least one band matches
    * exactly. The result is therefore identical to the all-pairs O(n²)
    * scan — which is exactly how the oracles check it — while the join
    * shuffles only (band_idx, band_val, id, sig) rows keyed by tiny band
    * values, the same narrow-candidate-join shape as [[nearDupMinhash]].
    * Band extraction uses an UNSIGNED shift + mask so a set sign bit
    * (possible for 64-bit signatures) never smears the top band.
    *
    * @param sig (id, sig: long) — one signature per id
    * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist
    */
  private[ext] def bandedHammingPairs(sig: DataFrame, bits: Int, bands: Int,
      maxDist: Int): DataFrame = {
    require(maxDist < bands,
      s"guaranteed recall needs bands > maxDist (got bands=$bands, maxDist=$maxDist)")
    require(bits % bands == 0, s"bands must divide the $bits-bit signature")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask)).as("band_val"))
    }
    val banded = sig.select(col("id"), col("sig"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("id"), col("sig"), col("band.band_idx"), col("band.band_val"))
    banded.select(col("band_idx"), col("band_val"),
        col("id").as("id_a"), col("sig").as("sig_a"))
      .join(banded.select(col("band_idx"), col("band_val"),
        col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("band_idx", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).cast("int").as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Exact CONTAINMENT-similarity pairs — C(A,B) = |A∩B| / |A| over
    * shingle sets, the asymmetric measure Jaccard blinds on: a short doc
    * fully quoted inside a long one has tiny Jaccard but containment 1.
    * The sub/superset detector for quote mining and nested-document
    * dedup (Broder 1997's "containment" alongside "resemblance").
    *
    * Scale shape: pair generation is the inverted token join — shingles
    * EQUI-join against themselves, intersections arrive as map-side-
    * combining per-pair counts — never an all-pairs product. The skew
    * device: a shingle occurring in more than `maxDf` docs would emit
    * O(df²) candidate rows, so such stop-shingles are dropped from PAIR
    * GENERATION only (set sizes keep them; intersections are therefore
    * a documented lower bound on pairs glued solely by boilerplate
    * grams). The drop is observe-logged (no silent caps) and the oracle
    * applies the identical exclusion.
    *
    * @return (id_a, id_b, contain_a, contain_b) with id_a < id_b, kept
    *         when either ROUND-6 direction reaches `thresh`
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, thresh: Double = 0.8, maxDf: Int = 100): DataFrame = {
    require(thresh > 0 && maxDf > 0, s"bad params: $thresh, $maxDf")
    graft.Metrics.ensureListener(df.sparkSession)
    // the shingle stage feeds FOUR branches (both size fetches, the
    // document-frequency count, pair generation) and the filtered gram
    // table feeds BOTH sides of the pair self-join — persist each once
    // (r20), the same contract as jaccardJoinPrefix's shingle pin;
    // without it the tokenize+shingle subtree re-evaluated per consumer
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = graft.Caches.register(
      shingleTable(df, textCol, idCol, k).persist(mad))
    val sizes = sh.select(col("id"), size(col("sh")).cast("long").as("n"))
    val tok = sh.select(col("id"), explode(col("sh")).as("g"))
    val dfreq = tok.groupBy("g").agg(count(lit(1)).as("__df"))
    val kept = graft.Caches.register(
      tok.join(dfreq.where(col("__df") <= maxDf), Seq("g"))
      .persist(mad))
    // observe ABOVE the persist, at exactly one consumer branch (r21
    // ADVICE): a CollectMetrics inside a cached subtree only fires when
    // the cache materializes, so warm re-executions would report no
    // kept_gram_rows. Every row of the cached table flows through the
    // id_a branch before the join, so the count is the kept-row count
    // on every execution.
    val inter = kept
      .observe(graft.Metrics.name("containment_kept"),
        count(lit(1)).as("kept_gram_rows"))
      .select(col("g"), col("id").as("id_a"))
      .join(kept.select(col("g").as("__g2"), col("id").as("id_b")),
        col("g") === col("__g2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") / col("__na").cast("double"), 6)
          .as("contain_a"),
        round(col("__inter").cast("double") / col("__nb").cast("double"), 6)
          .as("contain_b"))
      .where(col("contain_a") >= thresh || col("contain_b") >= thresh)
  }
}
