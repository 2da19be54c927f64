package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.round6

/** Preprocessing operators (SURVEY §2.4).
  *
  * Reference: `Data_integration and harmonization.py:36-52` — z-score
  * standardization of numeric columns (sklearn `StandardScaler`, population
  * std ddof=0, zero-variance columns map to 0) and per-column label encoding
  * (sklearn `LabelEncoder`: distinct values sorted lexicographically get
  * codes 0..n-1).
  *
  * Scale notes: z-score is a two-pass plan — a single-row global aggregate
  * broadcast back over the data (no global window, no single-task sort, no
  * shuffle of the fact table). Label encoding shuffles only the tiny
  * distinct-value set; codes join back via broadcast.
  */
object Preprocess {

  /** P1 — z-score standardize: (x - mean) / stddev_pop, zero-variance
    * columns become 0.0 (sklearn substitutes scale=1 for constant columns).
    * `roundStats` rounds mean/std to that many decimals before the per-row
    * arithmetic — used by the oracle harness so float aggregation order
    * cannot leak into the output; pass -1 to disable.
    */
  def zscore(df: DataFrame, cols: Seq[String], roundStats: Int = -1): DataFrame = {
    val aggs = cols.flatMap { c =>
      val mu = avg(col(c))
      val sigma = stddev_pop(col(c))
      if (roundStats >= 0)
        Seq(round(mu, roundStats).as(s"__mu_$c"), round(sigma, roundStats).as(s"__sigma_$c"))
      else Seq(mu.as(s"__mu_$c"), sigma.as(s"__sigma_$c"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val out = cols.foldLeft(joined) { (acc, c) =>
      val z = when(col(s"__sigma_$c") === 0.0 || col(s"__sigma_$c").isNull, 0.0)
        .otherwise((col(c) - col(s"__mu_$c")) / col(s"__sigma_$c"))
      acc.withColumn(c, z)
    }
    out.drop(cols.flatMap(c => Seq(s"__mu_$c", s"__sigma_$c")).toIndexedSeq: _*)
  }

  /** P1b — grouped z-score: standardize each column within its `keyCols`
    * group (pandas `groupby(keys)[col].transform(zscore)`), same ddof=0
    * and zero-variance→0 conventions as [[zscore]]. The stats aggregate is
    * map-side combined to one row per key and joined back on the group key
    * (AQE broadcasts when the key set is small) — the fact table is never
    * windowed or globally sorted.
    */
  def zscoreBy(df: DataFrame, cols: Seq[String], keyCols: Seq[String],
      roundStats: Int = -1): DataFrame = {
    require(keyCols.nonEmpty, "zscoreBy needs grouping keys; use zscore for whole-table stats")
    val aggs = cols.flatMap { c =>
      val mu = avg(col(c))
      val sigma = stddev_pop(col(c))
      if (roundStats >= 0)
        Seq(round(mu, roundStats).as(s"__mu_$c"), round(sigma, roundStats).as(s"__sigma_$c"))
      else Seq(mu.as(s"__mu_$c"), sigma.as(s"__sigma_$c"))
    }
    // null-SAFE key join (see Clean.imputeMeanBy): a plain equi-join would
    // silently drop null-key rows instead of standardizing them
    val statCols = cols.flatMap(c => Seq(s"__mu_$c", s"__sigma_$c"))
    val stats = df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .toDF(keyCols.map("__graft_k_" + _) ++ statCols: _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
    val joined = df.join(stats, cond)
    val out = cols.foldLeft(joined) { (acc, c) =>
      val z = when(col(s"__sigma_$c") === 0.0 || col(s"__sigma_$c").isNull, 0.0)
        .otherwise((col(c) - col(s"__mu_$c")) / col(s"__sigma_$c"))
      acc.withColumn(c, z)
    }
    out.drop(keyCols.map("__graft_k_" + _) ++ statCols: _*)
  }

  /** Sigma-rule outlier flags: `<col>_outlier` = |z| > zThresh per column
    * (population std, zero-variance columns never flag — [[zscore]]
    * semantics). Same scale shape as zscore: one broadcast one-row stats
    * aggregate, then a codegen'd projection at the scan. The detection
    * companion to [[winsorize]] (which clamps instead of flagging).
    */
  def outlierFlags(df: DataFrame, cols: Seq[String], zThresh: Double = 3.0,
      roundStats: Int = -1): DataFrame = {
    val zs = zscore(df, cols, roundStats)
    cols.foldLeft(zs) { (acc, c) =>
      acc.withColumn(s"${c}_outlier", abs(col(c)) > zThresh)
    }
  }

  /** Winsorization: clamp each column to its [pLo, pHi] exact quantiles —
    * the robust-outlier-taming preprocessing step (a StandardScaler
    * companion the reference lacks). Quantile bounds come from
    * [[Clean.exactQuantiles]] (distributed CDF, never a buffer-everything
    * percentile); the tiny per-column bound set is collected to the driver
    * — the same small-aggregate decision shape as dropAllNullCols — and
    * applied as a codegen'd CASE per row. Nulls stay null.
    *
    * `roundBounds` rounds the bounds to that many decimals before clamping
    * (oracle reproducibility); pass -1 to disable.
    */
  def winsorize(df: DataFrame, cols: Seq[String], pLo: Double = 0.05,
      pHi: Double = 0.95, roundBounds: Int = -1): DataFrame = {
    val q = Clean.exactQuantiles(df, cols, Seq(pLo, pHi)).collect()
    val bounds = q.map { r =>
      val (lo0, hi0) = (r.getDouble(1), r.getDouble(2))
      val pair =
        if (roundBounds >= 0)
          (BigDecimal(lo0).setScale(roundBounds, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(hi0).setScale(roundBounds, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else (lo0, hi0)
      r.getString(0) -> pair
    }.toMap
    winsorizeWith(df, cols, bounds)
  }

  /** [[winsorize]] with PRE-COMPUTED (and pre-rounded) clamp bounds — the
    * entry point for callers that serve [lo, hi] from a shared pinned
    * quantile grid instead of re-deriving the corpus CDF per call.
    * Columns absent from `bounds` (all-null columns) pass through.
    */
  def winsorizeWith(df: DataFrame, cols: Seq[String],
      bounds: Map[String, (Double, Double)]): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      bounds.get(c) match {
        case None => acc // all-null column: nothing to clamp
        case Some((lo, hi)) =>
          val v = col(c)
          acc.withColumn(c,
            when(v < lit(lo), lit(lo)).when(v > lit(hi), lit(hi)).otherwise(v))
      }
    }

  /** Quantile bucketizer (sklearn KBinsDiscretizer(strategy='quantile') /
    * Spark QuantileDiscretizer, but with EXACT edges): assign bucket
    * 0..probs.size by comparing against the exact quantile edges of each
    * column. Edges come from the distributed CDF and are rounded to 6
    * decimals (oracle reproducibility); the per-row assignment is a
    * codegen'd CASE chain. Values ≤ edge_i take bucket i; nulls get null.
    */
  def quantileBucketize(df: DataFrame, cols: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75), outSuffix: String = "_bucket"): DataFrame = {
    val q = Clean.exactQuantiles(df, cols, probs).collect()
    val edges = q.map(r => r.getString(0) ->
      probs.indices.map(i => round6(r.getDouble(i + 1)))).toMap
    quantileBucketizeWith(df, cols, edges, outSuffix)
  }

  /** [[quantileBucketize]] with PRE-COMPUTED (round-6) edges — the entry
    * point for callers serving edges from a shared pinned quantile grid.
    * Columns absent from `edges` (all-null) bucket to null.
    */
  def quantileBucketizeWith(df: DataFrame, cols: Seq[String],
      edges: Map[String, Seq[Double]], outSuffix: String = "_bucket"): DataFrame = {
    cols.foldLeft(df) { (acc, c) =>
      edges.get(c) match {
        case None => acc.withColumn(s"$c$outSuffix", lit(null).cast(LongType))
        case Some(es) =>
          val v = col(c)
          val bucket = es.zipWithIndex.foldRight(
            when(v.isNotNull, lit(es.size.toLong)).otherwise(lit(null).cast(LongType))) {
            case ((e, i), rest) => when(v <= lit(e), lit(i.toLong)).otherwise(rest)
          }
          acc.withColumn(s"$c$outSuffix", bucket)
      }
    }
  }

  /** P2 — label encode one string column: lexicographically sorted distinct
    * values -> 0..n-1 (sklearn `LabelEncoder` / `np.unique` order, NOT
    * StringIndexer's frequency order). The reference calls
    * `fit_transform(data[col].astype(str))` (DIH.py:50), so null becomes the
    * literal string "nan" and receives a code like any other value —
    * replicated here via `coalesce(c, 'nan')`.
    *
    * The code table is numbered without a window: the distinct keys are
    * globally sorted (range exchange, parallel sorts) and `zipWithIndex`
    * numbers them in partition order, so no step runs the whole key set in
    * one task. The table is checkpointed eagerly, once per call, before
    * the join back: every query over the result reads the key-sized table
    * instead of re-running distinct -> sort -> numbering, and its broadcast
    * join back onto the fact rows is the only per-query work.
    */
  def labelEncode(df: DataFrame, c: String, outCol: String): DataFrame = {
    val keyCol = s"__graft_lbl_$c"
    val keyed = df.withColumn(keyCol, coalesce(col(c).cast(StringType), lit("nan")))
    val sorted = keyed.select(col(keyCol)).distinct().orderBy(col(keyCol))
    val numbered = sorted.rdd.zipWithIndex().map { case (r, i) => Row(r.getString(0), i) }
    val schema = StructType(Seq(StructField(keyCol, StringType, nullable = false),
      StructField(outCol, LongType, nullable = false)))
    val codes = df.sparkSession.createDataFrame(numbered, schema).localCheckpoint(true)
    keyed.join(broadcast(codes), Seq(keyCol)).drop(keyCol)
  }

  /** Label-encode every string column. With `replace = true` (the
    * reference's behavior — `data[col] = le.fit_transform(...)`,
    * DIH.py:50) the string column is replaced by its integer codes in
    * place; with `replace = false` a `<col>_code` column is appended and
    * the original kept (useful for inspection).
    */
  def labelEncodeAll(df: DataFrame, replace: Boolean = true): DataFrame = {
    val strs = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toIndexedSeq
    val order = df.columns.toIndexedSeq
    val encoded = strs.foldLeft(df)((acc, c) => labelEncode(acc, c, s"${c}_code"))
    if (!replace) encoded
    else {
      val cleaned = strs.foldLeft(encoded)((acc, c) =>
        acc.drop(c).withColumnRenamed(s"${c}_code", c))
      cleaned.select(order.map(col): _*)
    }
  }

  /** P5 — one-hot encode a string column (pandas `get_dummies`): one 0/1
    * integer column `<c>_<value>` per distinct value, lexicographic column
    * order, null rows all-zero (get_dummies' default `dummy_na=False`).
    * The distinct set is collected to the driver (same small-decision
    * shape as winsorize bounds — one tiny aggregate) and the indicator
    * columns are a codegen'd projection at the scan; the fact table is
    * never shuffled. Values are sanitized to identifier-safe column names.
    */
  def oneHot(df: DataFrame, c: String, drop: Boolean = true): DataFrame = {
    val values = df.select(col(c).cast(StringType)).where(col(c).isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    // sanitized names can collide ("a b" and "a.b" both -> "a_b"); a plain
    // withColumn would silently REPLACE the earlier indicator and lose a
    // category. Each FINAL name is reserved (not just the base, which
    // would let a suffixed name collide with a later value that sanitizes
    // to the same string, e.g. "a.b"->a_b_1 vs literal "a_b_1"); suffixes
    // increment until free, and values are sorted so numbering is stable.
    val reserved = scala.collection.mutable.Set.empty[String]
    val named = values.map { v =>
      val base = v.replaceAll("[^A-Za-z0-9]+", "_")
      val name = Iterator.single(base)
        .concat(Iterator.from(1).map(n => s"${base}_$n"))
        .find(!reserved.contains(_)).get
      reserved += name
      (v, name)
    }
    val out = named.foldLeft(df) { case (acc, (v, safe)) =>
      acc.withColumn(s"${c}_$safe",
        when(col(c).cast(StringType) === lit(v), 1L).otherwise(0L))
    }
    if (drop) out.drop(c) else out
  }

  /** P6 — min-max scale to [0, 1]: (x - min) / (max - min); constant
    * columns map to 0.0 (sklearn MinMaxScaler substitutes scale=1 for a
    * zero range, same convention as [[zscore]]). Nulls stay null. One
    * broadcast one-row min/max aggregate, then a codegen'd projection —
    * the [[zscore]] scale shape. `roundStats` rounds min/max first
    * (oracle reproducibility); min/max of doubles are order-independent
    * so this matters only for symmetric presentation.
    */
  def minMaxScale(df: DataFrame, cols: Seq[String], roundStats: Int = -1): DataFrame = {
    val aggs = cols.flatMap { c =>
      val lo = min(col(c)).cast(DoubleType)
      val hi = max(col(c)).cast(DoubleType)
      if (roundStats >= 0)
        Seq(round(lo, roundStats).as(s"__lo_$c"), round(hi, roundStats).as(s"__hi_$c"))
      else Seq(lo.as(s"__lo_$c"), hi.as(s"__hi_$c"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val out = cols.foldLeft(joined) { (acc, c) =>
      val range = col(s"__hi_$c") - col(s"__lo_$c")
      val scaled = when(range === 0.0 || range.isNull,
          when(col(c).isNotNull, 0.0).otherwise(lit(null).cast(DoubleType)))
        .otherwise((col(c) - col(s"__lo_$c")) / range)
      acc.withColumn(c, scaled)
    }
    out.drop(cols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")).toIndexedSeq: _*)
  }

  /** P7 — robust scale: (x - median) / IQR (sklearn RobustScaler);
    * zero-IQR columns map to 0.0 (scale=1 substitution). Median and
    * quartiles are EXACT, from the distributed CDF
    * ([[Clean.exactQuantiles]]), rounded to 6 decimals before the per-row
    * arithmetic so the projection is engine-portable. Nulls stay null.
    */
  def robustScale(df: DataFrame, cols: Seq[String]): DataFrame = {
    val q = Clean.exactQuantiles(df, cols, Seq(0.25, 0.5, 0.75)).collect()
    val stats = q.map(r => r.getString(0) -> ((round6(r.getDouble(1)), round6(r.getDouble(2)), round6(r.getDouble(3))))).toMap
    robustScaleWith(df, cols, stats)
  }

  /** [[robustScale]] with PRE-COMPUTED (round-6) (q1, median, q3) — the
    * entry point for callers serving quartiles from a shared pinned
    * quantile grid. Columns absent from `stats` (all-null) pass through.
    */
  def robustScaleWith(df: DataFrame, cols: Seq[String],
      stats: Map[String, (Double, Double, Double)]): DataFrame = {
    cols.foldLeft(df) { (acc, c) =>
      stats.get(c) match {
        case None => acc // all-null column
        case Some((q1, med, q3)) =>
          val iqr = q3 - q1
          val scaled =
            if (iqr == 0.0) when(col(c).isNotNull, 0.0).otherwise(lit(null).cast(DoubleType))
            else (col(c) - lit(med)) / lit(iqr)
          acc.withColumn(c, scaled)
      }
    }
  }

  /** MAD (median-absolute-deviation) outlier flags — the robust companion
    * to the sigma-rule [[outlierFlags]]: flag |0.6745 · (x - median) /
    * MAD| > k (Iglewicz-Hoaglin modified z-score, k = 3.5 convention).
    * Zero-MAD columns never flag (the robust analog of zero variance).
    *
    * ONE fact-table CDF pass: the per-column value CDF is materialized
    * once (distinct-value-sized localCheckpoint); the median comes from
    * it, and the MAD — median of |x - median| — is an exact weighted
    * quantile over the SAME checkpointed CDF rows
    * ([[Clean.exactQuantilesFromCounts]]: each distinct value with its
    * multiplicity maps to one |v - m| pair), so the fact table is
    * scanned and shuffled once instead of twice (r9 perf task: 5.5 s ->
    * ~3 s steady at sf0.1). Both medians are rounded to 6 decimals
    * before the per-row arithmetic so the flag boundary is
    * engine-portable. The per-row test is a codegen'd projection.
    */
  def outlierFlagsMad(df: DataFrame, cols: Seq[String], k: Double = 3.5): DataFrame = {
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") as (column_name, value)"
    val (cdf0, _) = Clean.valueCdfWithTotals(
      df.select(expr(stackExpr)), "value", Seq("column_name"))
    val cdf = cdf0.localCheckpoint(true) // distinct-value-sized, one fact pass
    val meds = Clean.quantilesFromExistingCdf(
        cdf, Seq("column_name"), Seq(0.5)).collect()
      .map(r => r.getString(0) -> round6(r.getDouble(1))).toMap
    val medExpr = cols.collect { case c if meds.contains(c) =>
      (col("column_name") === c, lit(meds(c)))
    }
    val medOf = medExpr.foldRight(lit(null).cast(DoubleType)) {
      case ((cond, m), acc) => when(cond, m).otherwise(acc)
    }
    val absCnt = cdf.select(col("column_name"),
      abs(col("__val") - medOf).as("__adval"), col("__c"))
    val mads = Clean.exactQuantilesFromCounts(
        absCnt, "__adval", "__c", Seq("column_name"), Seq(0.5)).collect()
      .map(r => r.getString(0) -> round6(r.getDouble(1))).toMap
    cols.foldLeft(df) { (acc, c) =>
      val flag = (meds.get(c), mads.get(c)) match {
        case (Some(m), Some(mad)) if mad != 0.0 =>
          abs(lit(0.6745) * (col(c) - lit(m)) / lit(mad)) > k
        case (Some(_), Some(_)) => when(col(c).isNotNull, false) // zero MAD: never flag
        case _ => lit(null).cast("boolean") // all-null column
      }
      acc.withColumn(s"${c}_mad_outlier", flag)
    }
  }

  /** P4 — quantile-rank (empirical-CDF) normalization: v → #{x ≤ v} / n,
    * the rank-based transform that makes any distribution uniform on
    * (0, 1] (sklearn QuantileTransformer's first stage; robust to
    * outliers where z-score is not). Nulls pass through as null.
    *
    * Scale shape: the naive spelling — `cume_dist() OVER (ORDER BY v)` —
    * is an unpartitioned window, i.e. a single-task sort of the corpus.
    * Instead the CDF comes from [[Clean.valueCdf]] (distributed range-
    * partitioned prefix sum over the distinct values — parallel even for
    * near-unique columns) and is broadcast-joined back, so the fact
    * table is never sorted. The ratio is one IEEE division of exact
    * counts — engine-portable.
    */
  def quantileRank(df: DataFrame, cols: Seq[String],
      suffix: String = "_qrank"): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      val vcol = s"__v_$c"
      val (cdf0, keyTotals) = Clean.valueCdfWithTotals(
        df.select(col(c).cast("double").as(vcol)), vcol, Nil)
      val cdf = cdf0.select(col("__val").as(vcol), col("__cum"))
      val tot = keyTotals.select(col("__tot").cast("double").as("__n"))
      acc.join(broadcast(cdf.crossJoin(tot)),
          acc(c).cast("double") === col(vcol), "left")
        .withColumn(c + suffix,
          round(col("__cum").cast("double") / col("__n"), 6))
        .drop(vcol, "__cum", "__n")
    }

  /** P8 — cross-group QUANTILE NORMALIZATION: map each `keyCols` group's
    * value distribution onto the GLOBAL distribution, so rows at the same
    * within-group quantile get the same normalized value regardless of
    * group (the microarray-normalization / train-data-harmonization
    * classic: per-source length or score distributions made comparable).
    *
    * Per row: mid-CDF rank p = (cum − c/2) / n within its group (cum =
    * values ≤ v, c = multiplicity of v, n = group size — the midrank
    * convention, p strictly inside (0,1)), then the normalized value is
    * the global inverse CDF at p, linearly interpolated on a (gridK+1)-
    * point exact-quantile grid.
    *
    * Scale shape: per-group ranks come from [[Clean.valueCdf]]'s
    * distributed prefix sum joined back on (keys, value) — a plain
    * shuffle join, no broadcast of the possibly corpus-sized distinct
    * set, and the fact table is never sorted. The global grid is one
    * [[Clean.exactQuantiles]] pass collected to the driver (gridK+1
    * doubles, rounded to 6 like every quantile edge here) and inlined as
    * an array literal — the per-row map is pure codegen'd arithmetic.
    * Null values get a null output through the left join; null keys are
    * joined null-safely (a null-key group is a legitimate group).
    */
  def quantileNormalizeBy(df: DataFrame, valueCol: String,
      keyCols: Seq[String], gridK: Int = 20,
      suffix: String = "_qnorm"): DataFrame = {
    require(gridK >= 2, s"gridK >= 2, got $gridK")
    val probs = (0 to gridK).map(_.toDouble / gridK)
    val g = Clean.exactQuantiles(df, Seq(valueCol), probs).collect()
    require(g.nonEmpty, s"$valueCol has no non-null values")
    val edges = probs.indices.map(i => round6(g.head.getDouble(i + 1)))
    val edgeArr = array(edges.map(lit): _*)
    val (cdf, keyTotals) = Clean.valueCdfWithTotals(df, valueCol, keyCols)
    val totals = keyTotals.withColumnRenamed("__tot", "__n")
    val totalsR = totals.toDF(keyCols.map("__graft_k_" + _) :+ "__n": _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__graft_k_$k"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val ranks = cdf.join(totalsR, cond)
      .select(keyCols.map(col) ++ Seq(col("__val"),
        ((col("__cum").cast("double") - col("__c").cast("double") / 2)
          / col("__n").cast("double")).as("__p")): _*)
    val ranksR = ranks.toDF(
      keyCols.map("__graft_r_" + _) ++ Seq("__rval", "__p"): _*)
    val rowCond = (keyCols.map(k => col(k) <=> col(s"__graft_r_$k")) :+
      (col(valueCol).cast("double") === col("__rval"))).reduce(_ && _)
    val jj = least(floor(col("__p") * gridK).cast("int"), lit(gridK - 1))
    val lo = element_at(edgeArr, jj + 1)
    val hi = element_at(edgeArr, jj + 2)
    df.join(ranksR, rowCond, "left")
      .withColumn(valueCol + suffix,
        round(lo + (col("__p") * gridK - jj) * (hi - lo), 6))
      .drop(keyCols.map("__graft_r_" + _) ++ Seq("__rval", "__p"): _*)
  }

  /** MAHALANOBIS outlier scores over exactly three numeric columns — the
    * multivariate outlier detector the per-column z/MAD flags miss (a row
    * can be unremarkable per-coordinate yet far off the data's
    * correlation ellipsoid). d²(x) = (x−μ)ᵀ Σ⁻¹ (x−μ) with Σ the
    * population covariance; d² ~ χ²(3) under normality, so
    * `chi2Thresh` = 7.814728 flags the 5% tail.
    *
    * Scale shape: ONE map-side-combining aggregate collects n, the 3
    * sums and the 6 product sums (all in exact DECIMAL — products in
    * decimal(18,4)² = decimal(37,8), no precision capping, so the sums
    * are aggregation-order-invariant); the single stats row broadcasts
    * back and every downstream value — means, covariances, the
    * closed-form adjugate/determinant 3×3 INVERSE, each row's score —
    * is one fixed double DAG evaluated scan-locally. No window, no
    * second shuffle, no driver-side decision at all: the whole
    * statistic-to-score chain lives in the plan (the SQL replay spells
    * the identical DAG).
    *
    * @return input columns + (md2 round-6, is_outlier from the
    *         UNROUNDED score)
    */
  def mahalanobisScores(df: DataFrame, cols: Seq[String],
      chi2Thresh: Double = 7.814728): DataFrame = {
    require(cols.length == 3, s"exactly 3 columns required: $cols")
    val d = (p: String, q: String) => s"__s_${p}_$q"
    val dec = cols.map(c => col(c).cast("decimal(18,4)"))
    val prodAggs = for {
      (ci, i) <- cols.zipWithIndex; (cj, j) <- cols.zipWithIndex if i <= j
    } yield sum(dec(i) * dec(j)).as(d(ci, cj))
    val sumAggs = cols.zip(dec).map { case (c, x) => sum(x).as(s"__s_$c") }
    val stats = df.agg(count(lit(1)).as("__n"),
      (sumAggs ++ prodAggs): _*)
    val nD = col("__n").cast("double")
    def mu(c: String) = col(s"__s_$c").cast("double") / nD
    def cv(i: Int, j: Int) = {
      val (a, b) = if (i <= j) (cols(i), cols(j)) else (cols(j), cols(i))
      col(d(a, b)).cast("double") / nD - mu(cols(i)) * mu(cols(j))
    }
    val det =
      cv(0, 0) * (cv(1, 1) * cv(2, 2) - cv(1, 2) * cv(1, 2)) -
      cv(0, 1) * (cv(0, 1) * cv(2, 2) - cv(1, 2) * cv(0, 2)) +
      cv(0, 2) * (cv(0, 1) * cv(1, 2) - cv(1, 1) * cv(0, 2))
    val enriched = stats
      .withColumn("__a11", (cv(1, 1) * cv(2, 2) - cv(1, 2) * cv(1, 2)) / det)
      .withColumn("__a22", (cv(0, 0) * cv(2, 2) - cv(0, 2) * cv(0, 2)) / det)
      .withColumn("__a33", (cv(0, 0) * cv(1, 1) - cv(0, 1) * cv(0, 1)) / det)
      .withColumn("__a12", (cv(0, 2) * cv(1, 2) - cv(0, 1) * cv(2, 2)) / det)
      .withColumn("__a13", (cv(0, 1) * cv(1, 2) - cv(0, 2) * cv(1, 1)) / det)
      .withColumn("__a23", (cv(0, 1) * cv(0, 2) - cv(0, 0) * cv(1, 2)) / det)
      .withColumn("__mu1", mu(cols(0))).withColumn("__mu2", mu(cols(1)))
      .withColumn("__mu3", mu(cols(2)))
      .select("__a11", "__a22", "__a33", "__a12", "__a13", "__a23",
        "__mu1", "__mu2", "__mu3")
    val dx1 = col(cols(0)).cast("double") - col("__mu1")
    val dx2 = col(cols(1)).cast("double") - col("__mu2")
    val dx3 = col(cols(2)).cast("double") - col("__mu3")
    val md2 =
      col("__a11") * dx1 * dx1 + col("__a22") * dx2 * dx2 +
      col("__a33") * dx3 * dx3 +
      lit(2.0) * (col("__a12") * dx1 * dx2 + col("__a13") * dx1 * dx3 +
        col("__a23") * dx2 * dx3)
    df.crossJoin(broadcast(enriched))
      .withColumn("md2", round(md2, 6))
      .withColumn("is_outlier", md2 > lit(chi2Thresh))
      .drop("__a11", "__a22", "__a33", "__a12", "__a13", "__a23",
        "__mu1", "__mu2", "__mu3")
  }

  /** Smoothed leave-one-out TARGET ENCODING — the supervised categorical
    * encoder (Micci-Barreca 2001): each row's category is replaced by the
    * mean target of the OTHER rows in its category, shrunk toward the
    * global mean by `prior` pseudo-observations:
    *   enc_i = (S_c − y_i + prior·ḡ) / (n_c − 1 + prior).
    * Leaving the row's own target out is what prevents the label leak a
    * naive per-category mean bakes into training data; the prior keeps
    * rare categories from memorizing their few labels.
    *
    * Scale shape: per-category (sum, count) is ONE map-side-combining
    * aggregate joined back by broadcast (categories are bounded); the
    * global mean is a single-row broadcast. No window, no shuffle of the
    * fact table beyond the broadcast joins.
    *
    * Determinism: S_c and the global sum stay in exact DECIMAL; ḡ is one
    * double division; each row's encoding is the fixed DAG
    * (double(S_c − y_i) + prior·ḡ) / (n_c − 1 + prior) — numerator
    * subtraction happens in exact decimal BEFORE the double cast, so
    * aggregation order cannot leak in. One `target_enc` column appended.
    */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      prior: Double = 10.0): DataFrame = {
    require(prior > 0, s"prior must be positive: $prior")
    val y = col(targetCol).cast("decimal(24,8)")
    val perCat = df.groupBy(col(catCol).as("__cat"))
      .agg(sum(y).cast("decimal(30,8)").as("__sc"),
        count(y).as("__nc"))
    val global = df.agg(sum(y).cast("decimal(30,8)").as("__sg"),
      count(y).as("__ng"))
    val g = col("__sg").cast("double") / col("__ng").cast("double")
    df.join(broadcast(perCat), df(catCol) === col("__cat"), "left")
      .crossJoin(broadcast(global))
      .withColumn("target_enc",
        round(((col("__sc") - y).cast("double") + lit(prior) * g) /
          ((col("__nc") - 1).cast("double") + lit(prior)), 6))
      .drop("__cat", "__sc", "__nc", "__sg", "__ng")
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012),
    * integer-exact: per feature an equal-width histogram over the
    * observed [min, max] with `bins` buckets; a row's rarity is the
    * PRODUCT of its per-feature bin counts (HBOS proper sums
    * −log density; the product orders identically — no libm in either
    * engine). Rows with any null feature are excluded (HBOS density is
    * undefined there). Smallest product = most anomalous.
    *
    * Scale shape: one min/max aggregate (one-row broadcast), one melt →
    * (feature, bin) count aggregate (|cols|·bins rows, broadcast back),
    * one TakeOrdered for the top-k — three scans of the fact table
    * (min/max, bin counts, final scoring), none shuffled on row
    * identity. Compare [[outlierFlags]] (per-feature z) and
    * [[mahalanobisScores]] (joint Gaussian): HBOS is the
    * assumption-free tier that flags a row rare in EVERY marginal, at
    * histogram cost.
    *
    * @return the `k` lowest-scoring rows: passthrough `keep` columns,
    *   the features, and `rarity` as a DOUBLE count product (exact up
    *   to 2^53 — see the inline note on why not DECIMAL)
    */
  def hbosTopK(df: DataFrame, cols: Seq[String], keep: Seq[String],
      bins: Int = 16, k: Int = 20): DataFrame = {
    require(cols.nonEmpty && bins >= 2 && k >= 1, "need cols, bins>=2, k>=1")
    val base = df
      .where(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select((keep ++ cols).map(col): _*)
    val mmAggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val mm = base.agg(mmAggs.head, mmAggs.tail: _*)
    // bin index: identical double DAG on both engines; degenerate
    // (constant) features collapse to bin 0
    def binOf(c: String): Column = {
      val x = col(c).cast("double")
      val mn = col(s"__mn_$c"); val mx = col(s"__mx_$c")
      when(mx === mn, lit(0L)).otherwise(
        least(floor((x - mn) / (mx - mn) * bins).cast("long"),
          lit(bins - 1L)))
    }
    val binned = base.crossJoin(broadcast(mm))
      .select((keep ++ cols).map(col) ++
        cols.map(c => binOf(c).as(s"__bin_$c")): _*)
    val melted = binned.select(explode(array(cols.map(c =>
      struct(lit(c).as("__f"), col(s"__bin_$c").as("__b"))): _*)).as("fb"))
      .select(col("fb.__f").as("__f"), col("fb.__b").as("__b"))
      .groupBy("__f", "__b").agg(count(lit(1)).as("__c"))
    val withCounts = cols.foldLeft(binned) { (acc, c) =>
      acc.join(broadcast(melted.where(col("__f") === c)
          .select(col("__b").as(s"__bin_$c"), col("__c").as(s"__c_$c"))),
        Seq(s"__bin_$c"))
    }
    // DOUBLE product in fixed left-to-right order (shared verbatim with
    // the oracle): counts are exact in double up to 2^53 and IEEE
    // multiplication is deterministic, so both engines produce the same
    // bits — and the interesting (smallest) products are exact anyway.
    // A DECIMAL(38,0) product would be exact everywhere but DuckDB
    // hands >18-digit decimals to the comparator as floats.
    val rarity = cols.map(c => col(s"__c_$c").cast("double")).reduce(_ * _)
    withCounts
      .select((keep ++ cols).map(col) :+ rarity.as("rarity"): _*)
      .orderBy(col("rarity") +: (keep ++ cols).map(col): _*)
      .limit(k)
  }
}
