package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.round6

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling", arXiv
  * 2302.03169): score every raw-corpus document by the log-likelihood
  * ratio of a hashed bag-of-ngrams model fit on a TARGET domain vs the
  * raw corpus, then keep the highest-ratio documents. This is the
  * standard "make web data look like the target domain" curation tier
  * between heuristic filters and a learned classifier.
  *
  * Model: unigrams AND bigrams hashed into `dim` buckets (the paper's
  * hashed n-gram features; md5-prefix buckets so the oracle replays the
  * hash exactly — the q_text_hashtf device). Bucket b's log-ratio with
  * add-1 smoothing:
  *
  *   λ_b = [ln(c_t[b]+1) − ln(N_t+dim)] − [ln(c_r[b]+1) − ln(N_r+dim)]
  *
  * and a document scores  log w(x) = Σ_b n_b(x)·λ_b.
  *
  * DETERMINISM TIER: the only libm in the pipeline is the ln in λ_b.
  * The bucket tables are BOUNDED (`dim` rows) decision points: counts
  * are collected, λ_b is computed driver-side, rounded to 6 decimals
  * (mirroring SQL round(x,6): BigDecimal HALF_UP on the shortest
  * representation) and re-emitted as an EXACT fixed-point long
  * λ6_b = λ_b·1e6 — document scoring is then pure integer arithmetic
  * (order-invariant long sums), bit-identical across engines and
  * partitionings. The oracle recomputes λ_b with DuckDB's ln through the
  * IDENTICAL expression DAG; ln disagrees with Java in the last ulp for
  * ~3e-5 of integer arguments (measured over 1..2M), which flips a
  * round-6 value only within ~1e-15 of a boundary — per-bucket risk
  * ~1e-9, the same tier the rolling-mean contract accepts.
  *
  * Scale shape: two map-side-combinable gram-count aggregates (target +
  * corpus, `dim` cells each), one broadcast of the λ6 table, one
  * (doc, bucket) aggregate over the corpus — the hashingTf shuffle. No
  * all-pairs, no driver loops over corpus rows.
  */
object Importance {

  /** md5-prefix bucket of a term (same device as hashingTf's buckets). */
  private def bucket(term: Column, dim: Int): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"), lit(dim.toLong))

  /** (key..., bucket) — one row per unigram and per bigram occurrence. */
  private def gramBuckets(df: DataFrame, textCol: String, keep: Seq[Column],
      dim: Int): DataFrame = {
    val tk = df.select(keep :+ TextAnalysis.tokens(col(textCol)).as("__tk"): _*)
    val uni = tk.select(keep :+ explode(col("__tk")).as("__g"): _*)
    val bi = tk.where(graft.ops.Plans.noPushdown(size(col("__tk")) >= 2))
      .select(keep :+ explode(TextAnalysis.ngramsRaw(col("__tk"), 2)).as("__g"): _*)
    uni.union(bi).select(keep :+ bucket(col("__g"), dim).as("bucket"): _*)
  }

  /** round(x, 6)·1e6 as an EXACT long: HALF_UP over the shortest decimal
    * representation (the repo-wide rounding contract), scaled in decimal
    * arithmetic so no float multiply can slip an ulp. The oracle's
    * `CAST(round(x,6)*1000000 AS BIGINT)` lands on the same integer:
    * DuckDB's cast rounds to nearest, absorbing the float-multiply ulp.
    */
  private def micro6(x: Double): Long =
    BigDecimal(java.lang.Double.toString(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(6).longValueExact()

  /** Per-document DSIR log-importance weights.
    *
    * @param corpus the raw corpus to score
    * @param target documents defining the target domain (same text
    *               semantics; typically a small curated set)
    * @return (doc_id, n_grams, log_w) — log_w rounded to 6 decimals;
    *         docs with zero grams score 0.0 with n_grams = 0
    */
  def dsirWeights(corpus: DataFrame, textCol: String, idCol: String,
      target: DataFrame, targetTextCol: String, dim: Int = 256): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val cg = gramBuckets(corpus, textCol, Seq(col(idCol).as("doc_id")), dim)
    val tg = gramBuckets(target, targetTextCol, Nil, dim)
    // bounded decision points: dim cells per side
    val rawCounts = cg.groupBy("bucket").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tgtCounts = tg.groupBy("bucket").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nR = rawCounts.values.sum.toDouble
    val nT = tgtCounts.values.sum.toDouble
    val lam6: Seq[(Long, Long)] = (0 until dim).map { b =>
      val ct = tgtCounts.getOrElse(b.toLong, 0L).toDouble
      val cr = rawCounts.getOrElse(b.toLong, 0L).toDouble
      val lam = (math.log(ct + 1.0) - math.log(nT + dim)) -
        (math.log(cr + 1.0) - math.log(nR + dim))
      (b.toLong, micro6(lam))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val lamDf = lam6.toDF("bucket", "lam6")
    val perDocBucket = cg.groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
    val scored = perDocBucket.join(broadcast(lamDf), Seq("bucket"))
      .groupBy("doc_id").agg(
        sum(col("n")).as("n_grams"),
        sum(col("n") * col("lam6")).as("__s6"))
      .select(col("doc_id"), col("n_grams"),
        round(col("__s6").cast("double") / 1e6, 6).as("log_w"))
    corpus.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  /** Deterministic top-k selection by DSIR weight (the paper's
    * importance-resampling step, taken at temperature→0: highest
    * log-ratio first, doc_id tie-break). Returns the kept documents'
    * (doc_id, log_w).
    */
  def dsirSelect(corpus: DataFrame, textCol: String, idCol: String,
      target: DataFrame, targetTextCol: String, k: Int,
      dim: Int = 256): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    dsirWeights(corpus, textCol, idCol, target, targetTextCol, dim)
      .orderBy(col("log_w").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("log_w"))
  }

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * arXiv 2305.10429), taken at its static-loss limit: the Group-DRO
    * multiplicative-weights update  α_{t+1,d} ∝ α_{t,d}·exp(η·ℓ_d)  run
    * for `steps` rounds over a FIXED per-domain excess loss (the paper
    * re-measures ℓ per proxy-model step; with a frozen proxy the
    * trajectory is the closed form  α_{t,d} ∝ exp(t·η·ℓ_d), which both
    * engines evaluate through the identical DAG — no iteration drift).
    *
    * ℓ_d here is the domain's unigram cross-entropy under the CORPUS
    * unigram model (hashed into `dim` buckets), minus the minimum across
    * domains: domains whose vocabulary the corpus model predicts badly
    * are exactly the "high excess loss" domains DoReMi upweights.
    *
    * DETERMINISM TIER (same as [[dsirWeights]]'s λ): per-bucket surprisal
    * is micro6 fixed-point, domain sums are order-invariant long sums,
    * and every per-(step, domain) exp cell — a BOUNDED steps×domains
    * decision set — is micro6'd before the softmax, whose denominator is
    * then an exact integer sum (no float-order dependence).
    *
    * Scale shape: one token scan, one (domain, bucket) map-side-combined
    * aggregate (≤ domains×dim cells), one `dim`-cell and one
    * domains-sized collect; the trajectory itself is metadata-sized.
    *
    * @return (step, domain, excess_loss, alpha) for step 0..steps
    */
  def doremiMixture(corpus: DataFrame, textCol: String, domainCol: String,
      steps: Int, eta: Double, dim: Int = 64): DataFrame = {
    require(steps >= 1 && eta > 0 && dim > 0,
      s"steps/eta/dim must be positive: $steps, $eta, $dim")
    val grams = corpus.select(col(domainCol).as("domain"),
        explode(TextAnalysis.tokens(col(textCol))).as("__g"))
      .select(col("domain"), bucket(col("__g"), dim).as("bucket"))
    val global = grams.groupBy("bucket").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = global.values.sum.toDouble
    val s6: Seq[(Long, Long)] = global.toSeq.map { case (b, c) =>
      (b, micro6(-math.log(c / n)))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val s6Df = s6.toDF("bucket", "s6")
    val perDomain = grams.groupBy("domain", "bucket")
      .agg(count(lit(1)).as("c"))
      .join(broadcast(s6Df), Seq("bucket"))
      .groupBy("domain")
      .agg(sum(col("c") * col("s6")).as("h6"), sum(col("c")).as("n_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(perDomain.nonEmpty, "corpus has no tokens")
    // shared double DAG: H_d = h6 / (n_tok · 1e6); excess vs the min
    val h = perDomain.map { case (d, h6, nt) =>
      (d, h6.toDouble / (nt.toDouble * 1e6))
    }
    val hMin = h.map(_._2).min
    val excess = h.map { case (d, hv) => (d, hv - hMin) }.sortBy(_._1)
    // bounded (steps+1)×domains cells: micro6 each exp, integer softmax
    val rows = (0 to steps).flatMap { t =>
      val w6 = excess.map { case (d, e) =>
        (d, e, micro6(math.exp(t * eta * e)))
      }
      val z6 = w6.map(_._3).sum
      w6.map { case (d, e, w) =>
        (t.toLong, d, round6(e), round6(w.toDouble / z6.toDouble))
      }
    }
    rows.toDF("step", "domain", "excess_loss", "alpha")
      .orderBy("step", "domain")
  }
}
