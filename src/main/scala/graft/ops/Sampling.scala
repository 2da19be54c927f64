package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation. Spark's built-in
  * `sample`/`sampleBy` are seeded-RNG based — reproducible within Spark
  * but not across engines, partitionings, or re-reads, so they can never
  * be oracle-checked and a re-run on re-partitioned data picks different
  * rows. Both operators here key the decision on md5 of a STABLE id, so
  * the same row is always in or out, everywhere.
  */
object Sampling {

  /** md5-based per-mille of a stable id: uniform in [0, 1000). Null ids
    * hash as a reserved sentinel (NUL-prefixed, which no cast("string")
    * of real data produces) — they land in ONE deterministic bucket (all
    * in or all out together) instead of being silently dropped by null
    * propagation, and they do NOT share a bucket with empty-string ids.
    */
  private def hashMill(id: Column): Column =
    conv(substring(md5(coalesce(id.cast("string"), lit("\u0000graft_null"))), 1, 15), 16, 10)
      .cast("long") % 1000L

  /** Stateless hash sample: keep a row iff hash(id) mod 1000 < rate‰.
    * ZERO shuffle, zero pre-pass — a codegen'd filter that composes with
    * scan pruning; the fraction is approximate per partition but
    * deterministic row-by-row. This is the 100 TB default: sampling
    * decisions must not cost a sort.
    */
  def hashSample(df: DataFrame, idCol: String, ratePerMille: Int): DataFrame =
    df.where(hashMill(col(idCol)) < ratePerMille)

  /** Exact stratified sample: precisely floor(frac · n_k) rows for every
    * `keyCols` stratum, rows chosen by stable md5 order (so the selection
    * is a deterministic function of the data). Costs one shuffle + sort
    * per stratum (two window functions sharing the sort); use
    * [[hashSample]] when approximate per-stratum counts are acceptable.
    */
  def stratifiedExact(df: DataFrame, keyCols: Seq[String], idCol: String,
      frac: Double): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__rn") <= floor(col("__n") * lit(frac)))
      .drop("__rn", "__n")
  }

  /** Corpus mixture rebalancing: EXACTLY `targets(k)` rows per stratum
    * (fewer when the stratum is smaller), rows chosen by stable md5 order
    * — the "resample the corpus to a target language/source mix" step of
    * a training-data pipeline, deterministic across runs and engines.
    * Strata absent from `targets` are dropped (target 0). One shuffle on
    * the stratum key; the per-stratum cap is a codegen'd CASE.
    */
  def stratifiedTargets(df: DataFrame, keyCol: String, idCol: String,
      targets: Map[String, Long]): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val cap = targets.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (els, (k, n)) => when(col(keyCol) === k, lit(n)).otherwise(els)
    }
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Deterministic train/test split by stable hash — the scale-safe
    * `randomSplit` replacement for ML pipelines: `randomSplit` assigns
    * rows by seeded RNG over the CURRENT partitioning, so a re-read or
    * repartition silently reassigns rows across the split (train/test
    * leakage on re-runs). Here membership is a pure function of the row
    * id: hash(id) mod 1000 < rate‰ → train. Both sides are zero-shuffle
    * codegen'd filters over the same scan; train ∪ test = df exactly,
    * train ∩ test = ∅, on every engine and every re-run.
    */
  def splitByHash(df: DataFrame, idCol: String,
      trainPerMille: Int = 800): (DataFrame, DataFrame) = {
    val m = hashMill(col(idCol))
    (df.where(m < trainPerMille), df.where(m >= trainPerMille))
  }

  /** Train/test split-LEAKAGE audit: near-duplicate pairs whose endpoints
    * land on OPPOSITE sides of the [[splitByHash]] assignment — the
    * contamination check before any eval run (a test doc near-duplicating
    * a train doc inflates every metric). Takes pre-computed near-dup
    * pairs (e.g. `Dedup.nearDupMinhash`) so it composes with any
    * similarity tier; the split membership re-derives from the same pure
    * hash, so no split materialization is needed. One row:
    * (n_pairs, leaking_pairs, leak_rate).
    */
  def splitLeakage(pairs: DataFrame, idACol: String, idBCol: String,
      trainPerMille: Int = 800): DataFrame = {
    val cross = hashMill(col(idACol)) < trainPerMille =!=
      (hashMill(col(idBCol)) < trainPerMille)
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(cross, 1L).otherwise(0L)).as("leaking_pairs"))
      .select(col("n_pairs"), col("leaking_pairs"),
        when(col("n_pairs") === 0, lit(null).cast("double"))
          .otherwise(round(col("leaking_pairs").cast("double") / col("n_pairs"), 6))
          .as("leak_rate"))
  }

  /** Leakage-FREE train/eval split — the constructive fix for what
    * [[splitLeakage]] audits: membership is a pure hash of the near-dup
    * CLUSTER label (e.g. [[graft.ext.Dedup.clusterNearDups]] output), so
    * a near-dup pair — both endpoints sharing a label by construction —
    * can NEVER straddle the boundary. This is the published train/eval
    * hygiene practice (assign duplicate groups, not documents, to
    * splits); singletons hash by their own id, which IS their label.
    * Same ‰-hash device as [[splitByHash]]: zero shuffle beyond what the
    * labels already cost, membership survives re-reads and engines.
    *
    * @param labels (idCol, clusterCol) one row per document
    * @return (idCol, clusterCol, in_train 0/1)
    */
  def splitByCluster(labels: DataFrame, idCol: String, clusterCol: String,
      trainPerMille: Int = 800): DataFrame = {
    require(trainPerMille >= 0 && trainPerMille <= 1000,
      s"trainPerMille in [0, 1000], got $trainPerMille")
    labels.select(col(idCol), col(clusterCol),
      (hashMill(col(clusterCol)) < trainPerMille).cast("int").as("in_train"))
  }

  /** EXACT deterministic train/test split: train gets exactly
    * floor(n · perMille / 1000) rows, test the remainder — the row-count
    * contract of sklearn's `train_test_split(test_size=0.2)` that
    * neither Bernoulli `randomSplit` nor the per-mille hash filter
    * ([[splitByHash]]) gives. Rows are laid out in the stable
    * pseudo-random order (md5(id), id) — a pure function of the data, so
    * membership survives re-reads, repartitions and engine changes — and
    * prefix-counted with the distributed exclusive prefix sum
    * ([[graft.ext.Pack.prefixSum]]: range-partitioned local sums plus
    * boundary offsets, no single-task window); a row is train iff its
    * exclusive running count is below the cutoff. The total-count cutoff
    * rides in as a one-row broadcast (exact integer DIV, no doubles), so
    * nothing collects to the driver.
    */
  def splitExact(df: DataFrame, idCol: String,
      trainPerMille: Int = 800): (DataFrame, DataFrame) = {
    require(trainPerMille >= 0 && trainPerMille <= 1000,
      s"trainPerMille in [0, 1000], got $trainPerMille")
    val numbered = graft.ext.Pack.prefixSum(
      df.withColumn("__graft_w", lit(1L)), "__graft_w",
      Seq(md5(col(idCol).cast("string")), col(idCol)), Nil,
      outCol = "__graft_cb")
    val total = df.agg(count(lit(1)).as("__graft_n"))
    val withCut = numbered.crossJoin(broadcast(total))
      .withColumn("__graft_cut",
        expr(s"__graft_n * ${trainPerMille}L DIV 1000L"))
    val housekeeping = Seq("__graft_w", "__graft_cb", "__graft_n", "__graft_cut")
    (withCut.where(col("__graft_cb") < col("__graft_cut")).drop(housekeeping: _*),
      withCut.where(col("__graft_cb") >= col("__graft_cut")).drop(housekeeping: _*))
  }

  /** Deterministic k-per-group head sample: the `k` rows of each
    * `keyCols` group with the smallest md5(id) — the stable "give me k
    * examples per stratum" primitive (debug slices, per-source eval
    * sets, human-review queues). Selection is a pure function of the
    * data, so the same rows come back on every engine, partitioning and
    * re-run — unlike seeded-RNG sampling. One keyed window (a single
    * shuffle+sort on the group key); each group sorts in parallel.
    */
  def sampleKPerGroup(df: DataFrame, keyCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Systematic probability-proportional-to-size sampling: rows laid out
    * in `orderCols` order (a total order — include a unique key) are kept
    * when their weight interval [cum_before, cum_before + w) crosses a
    * multiple of step = max(⌊W / n⌋, 1), W the group's total weight. The
    * classic ≤n-row PPS draw (heavier rows proportionally likelier, rows
    * with w ≥ step certain — absorbing every boundary they span into ONE
    * selection — zero-weight rows never) with ZERO randomness:
    * the selection is a pure function of the data, stable across
    * partitioning/engines — the corpus-mixing cousin of [[hashSample]]
    * for weight-aware draws (e.g. sample documents ∝ token count so the
    * sample represents tokens, not documents).
    *
    * Scale shape: the running sum is `Pack.prefixSum`'s range-partitioned
    * boundary-carry pass (no single-task window, even ungrouped); the
    * per-group total joins back as a broadcast. `weightCol` must be
    * integral and non-negative.
    */
  /** Language-temperature resampling (the mT5/mC4 "alpha sampling"
    * corpus-balancing step): the per-stratum keep-count is proportional
    * to n_k^alpha, so alpha = 1 preserves the natural mix and alpha → 0
    * approaches uniform-per-stratum — low-resource strata are boosted,
    * head strata down-sampled. Keep-counts are floor(round(target ·
    * n_k^alpha / Σ n_j^alpha, 6)) (the 6-decimal round pins the
    * double-precision pow across engines); rows within a stratum are
    * chosen by stable md5 order, so the draw is a deterministic function
    * of the data.
    *
    * Scale shape: one partial-aggregated count per stratum (tiny result,
    * broadcast back), then the same one-shuffle keyed window as
    * [[stratifiedExact]]. The corpus is scanned once; nothing collects.
    */
  def temperatureResample(df: DataFrame, keyCol: String, idCol: String,
      alpha: Double, targetTotal: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    require(targetTotal > 0, s"target size must be positive, got $targetTotal")
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("__graft_n"))
    val total = counts.agg(
      sum(pow(col("__graft_n").cast("double"), lit(alpha))).as("__graft_tw"))
    val caps = counts.crossJoin(broadcast(total))
      .withColumn("__graft_cap",
        floor(round(lit(targetTotal.toDouble) *
          pow(col("__graft_n").cast("double"), lit(alpha)) / col("__graft_tw"),
          6)).cast("long"))
      .select(col(keyCol), col("__graft_cap"))
    val w = Window.partitionBy(keyCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(caps), Seq(keyCol))
      .withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") <= col("__graft_cap"))
      .drop("__graft_rn", "__graft_cap")
  }

  /** Nucleus (top-p) selection per group: rows ordered by score
    * descending (id tiebreak) are kept while the score mass BEFORE the
    * row is under `p` of the group total — the smallest high-score
    * prefix reaching share p, the set-selection analogue of nucleus
    * sampling. Always keeps at least the top row of a group with
    * positive total mass (its preceding mass is 0); an all-zero group
    * keeps nothing. `scoreCol` must be integral and
    * non-negative so the running mass is exact (no float drift at
    * 10⁹-row prefixes); the p·total comparison is the only double.
    *
    * Scale shape: one shuffle on the group key; the ordered cumulative
    * sum and the group total share that single sort/exchange.
    */
  def nucleusPerGroup(df: DataFrame, keyCols: Seq[String], idCol: String,
      scoreCol: String, p: Double): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p must be in (0, 1], got $p")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__graft_cb",
        sum(col(scoreCol).cast("long")).over(w) - col(scoreCol).cast("long"))
      .withColumn("__graft_tot", sum(col(scoreCol).cast("long")).over(wAll))
      .where(col("__graft_cb").cast("double") <
        lit(p) * col("__graft_tot").cast("double"))
      .drop("__graft_cb", "__graft_tot")
  }

  def systematicByWeight(df: DataFrame, weightCol: String,
      orderCols: Seq[Column], n: Int,
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val ps = graft.ext.Pack.prefixSum(df, weightCol, orderCols, partitionCols)
    val wSum = sum(coalesce(col(weightCol), lit(0L)).cast("long")).as("__graft_tw")
    val withT =
      if (partitionCols.isEmpty) ps.crossJoin(broadcast(ps.agg(wSum)))
      else {
        // null-safe key join: a null grouping key is a legitimate group
        val totals = ps.groupBy(partitionCols.map(col): _*).agg(wSum)
          .toDF(partitionCols.map("__graft_k_" + _) :+ "__graft_tw": _*)
        val cond = partitionCols.map(k => col(k) <=> col(s"__graft_k_$k"))
          .reduce(_ && _)
        ps.join(broadcast(totals), cond)
          .drop(partitionCols.map("__graft_k_" + _): _*)
      }
    withT
      .withColumn("__graft_step", greatest(expr(s"__graft_tw div ${n}L"), lit(1L)))
      .withColumn("__graft_w", coalesce(col(weightCol).cast("long"), lit(0L)))
      .where(expr("(cum_before + __graft_w) div __graft_step > cum_before div __graft_step"))
      .drop("__graft_tw", "__graft_step", "__graft_w")
  }

  /** Sequential Poisson PPS sample (Ohlsson 1998, the published order-
    * sampling scheme behind many survey estimators): keep the k rows with
    * the smallest priority  u/w , where u is the md5-hash uniform of the
    * row id and w the row's weight — inclusion probability approaches
    * proportional-to-size without ANY global prefix sum.
    *
    * This is the 100 TB counterpart to [[systematicByWeight]]: systematic
    * PPS is exact but needs the global cumulative-weight sort; sequential
    * Poisson plans as TakeOrderedAndProject — a k-item heap per partition
    * and one k-sized merge — and the sample is a pure function of the
    * data (no RNG), so it is mergeable across shards exactly like a
    * bottom-k sketch.
    *
    * INTEGER-EXACT priorities: u is a 40-bit md5 hash slice, w is scaled
    * to micro-units in DECIMAL arithmetic (`round(w, 6)·1e6`), and the
    * rank is the exact 64-bit quotient  u·1e6 div w6  — no float (or
    * cross-engine decimal-scale) division whose last-ulp could reorder
    * two rows differently across engines. u·1e6 ≤ 2^40·10^6 ≈ 1.1e18
    * stays inside long. Ties break on the id. Null / non-positive /
    * sub-microunit weights are excluded (zero inclusion probability).
    */
  /** Deterministic subsample-bootstrap CI for a mean (Politis–Romano
    * subsampling): B half-sample replicates — replicate b selects the
    * rows whose per-row hash has BIT b set to 0, so ONE md5 per row
    * serves every replicate (an md5 per (row, replicate) was 36 s at
    * sf0.1; the bit-slice form is ~2 s) — RNG-free and engine-portable,
    * then the percentile interval over the B replicate means. Replicate
    * k_lo = round(0.025·(B+1)) (clamped to [1, B]) and k_hi = B+1−k_lo
    * bound the reported 95% interval; with B = 60 that is ranks 2 and
    * 59. Half-sampling widens the interval by ~√2 versus the
    * with-replacement bootstrap — the conservative direction.
    *
    * Scale shape: ONE aggregate pass — every replicate is a pair of
    * conditional (fixed-point sum, count) agg columns keyed off its hash
    * bit, so the corpus is never row-multiplied by B (the cross-join
    * form materialized rows×B and cost 11 s at sf0.1; this is ~2 s) —
    * then the 1×2B result row unpivots to B replicate rows and
    * everything after runs on B rows.
    *
    * @param b replicate count, ≤ 60 (the hash slice carries 60 bits)
    * @return one row (n, mean, lo95, hi95), round-6
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 60): DataFrame = {
    require(b >= 4 && b <= 60, s"replicates must be in [4, 60]: $b")
    // base feeds the chunked replicate passes AND the overall mean —
    // pin it so the scan + md5 projection evaluates once
    val base = graft.Caches.register(df.where(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast("double") * 1e6)
          .cast("decimal(38,0)").as("__v6"),
        conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
          .cast("long").as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // materialize the pin BEFORE the consumers fan out (r20): the final
    // plan reads base from three subtrees (two chunked replicate aggs
    // under a broadcast, plus the overall mean), and Spark launches the
    // broadcast jobs concurrently with the main stage — each racing
    // consumer recomputed the scan + md5 projection instead of hitting
    // the still-unbuilt cache (stage profile: 5-6 identical 1.8 s project
    // stages; with the eager build, one)
    base.count()
    val d0 = lit(0).cast("decimal(38,0)")
    // ≤30 replicates (60 agg columns) per pass: above ~100 aggregate
    // fields Spark disables whole-stage codegen for the hash aggregate
    // and the pass runs interpreted (~10 s instead of ~1 s at sf0.1)
    val stacked = (0 until b).grouped(30).map { chunk =>
      val aggs = chunk.flatMap { i =>
        val member = expr(s"(__h div ${1L << i}) % 2") === 0L
        Seq(sum(when(member, col("__v6")).otherwise(d0)).as(s"__s_$i"),
          sum(when(member, 1L).otherwise(0L)).as(s"__c_$i"))
      }.toSeq
      base.agg(aggs.head, aggs.tail: _*)
        .select(expr(
          s"stack(${chunk.size}, ${chunk.map(i => s"${i}L, __s_$i, __c_$i")
            .mkString(", ")}) as (__b, __s9, __c)"))
    }.reduce(_ unionByName _)
    val means = stacked.select(col("__b"),
      (col("__s9").cast("double") / 1e6 / col("__c").cast("double"))
        .as("__m"))
    val kLo = math.max(1, math.round(0.025 * (b + 1)).toInt)
    val kHi = b + 1 - kLo
    // replicate-id tie-break: two replicates CAN produce equal means and
    // row_number must rank them identically on both engines
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__m"), col("__b"))
    val ranked = means.select(col("__m"),
      row_number().over(w).as("__r")) // bounded: B rows
    val ci = ranked.agg(
      max(when(col("__r") === kLo, col("__m"))).as("__lo"),
      max(when(col("__r") === kHi, col("__m"))).as("__hi"),
      count(lit(1)).as("__nb"))
    val overall = base.agg(count(lit(1)).as("n"),
      (sum(col("__v6")).cast("double")
        / 1e6 / count(lit(1)).cast("double")).as("__mean"))
    overall.crossJoin(broadcast(ci))
      .select(col("n"), round(col("__mean"), 6).as("mean"),
        round(col("__lo"), 6).as("lo95"), round(col("__hi"), 6).as("hi95"))
  }

  def sequentialPoisson(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val w6 = (round(col(weightCol).cast("decimal(28,10)"), 6) * lit(1000000L))
      .cast("long")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 10), 16, 10)
      .cast("long")
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__graft_w6", w6)
      .where(col("__graft_w6") > 0)
      .withColumn("__graft_u", u)
      .withColumn("__graft_pri", expr("(__graft_u * 1000000L) div __graft_w6"))
      .orderBy(col("__graft_pri"), col(idCol))
      .limit(k)
      .drop("__graft_w6", "__graft_u", "__graft_pri")
  }

  /** Deterministic k-fold assignment for cross-validation over a corpus
    * too large to shuffle-and-split: fold = md5-hash(id) mod k — a pure
    * per-row projection, no window, no sort, no exchange, so the
    * assignment is embarrassingly parallel and REPRODUCIBLE across
    * engines, runs and cluster layouts (the property CV demands: the
    * same row lands in the same fold forever, so fold models can be
    * trained incrementally as data grows). Balance is statistical
    * (±O(√n) per fold), the standard trade against [[splitExact]]'s
    * sort-based exactness; within any stratum the assignment is
    * independent of the stratum column, so per-stratum fold counts are
    * unbiased too.
    */
  def foldAssign(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    // null ids hash a sentinel (the hashMill convention) — md5(null)
    // would propagate to fold = null, breaking the [0, k) contract and
    // leaking the rows out of every fold's test side
    df.withColumn("fold",
      pmod(conv(substring(md5(coalesce(col(idCol).cast("string"),
        lit("\u0000graft_null"))), 1, 15), 16, 10)
        .cast("long"), lit(k.toLong)).cast("int"))
  }
}
