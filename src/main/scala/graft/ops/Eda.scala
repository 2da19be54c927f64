package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.round6

/** EDA aggregation operators (SURVEY §2.5).
  *
  * Reference: `Data_integration and harmonization.py:123-157` — histogram
  * bin counts, box-plot statistics, 2-D density histograms
  * (`np.histogram2d(..., bins=30)`), and the full Pearson correlation
  * matrix (`data.corr()`).
  *
  * Scale notes: histograms need a min/max pre-pass — a single-row aggregate
  * broadcast back (never a global sort). The correlation matrix is ONE
  * aggregate pass computing all O(n²) `corr` expressions together, not n²
  * scans. Bin assignment stays inside whole-stage codegen.
  */
object Eda {

  /** E1 — equal-width histogram: bin counts over [min, max] with the
    * max value clamped into the last bin (numpy right-closed edge rule).
    *
    * Single partition: the final aggregate and the sort by bin, ≤ bins
    * rows. A global `orderBy` paid a range-boundary sampling job and a
    * range exchange for them.
    */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    val mm = df.agg(min(col(c)).cast("double").as("__lo"), max(col(c)).cast("double").as("__hi"))
    df.where(col(c).isNotNull)
      .crossJoin(broadcast(mm))
      .select(binOf(col(c), col("__lo"), col("__hi"), bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .coalesce(1).sortWithinPartitions("bin")
  }

  /** Equal-width bin index with numpy edge semantics: max value is clamped
    * into the last bin; a degenerate range (min == max) puts every value in
    * bin 0 rather than dividing by zero (numpy `histogram` behavior).
    */
  private def binOf(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column, bins: Int): org.apache.spark.sql.Column =
    when(hi === lo, lit(0L)).otherwise(least(
      floor((v - lo) / ((hi - lo) / lit(bins.toDouble))),
      lit((bins - 1).toLong)))

  /** E2 — box-plot statistics per group: exact quartiles, 1.5*IQR fences,
    * and outlier counts. Two passes: per-group quartiles via the
    * distributed value-frequency CDF ([[Clean.exactQuantilesBy]] — never
    * the buffer-everything `percentile` aggregate), broadcast back for the
    * outlier count. Quartiles are rounded before the fence arithmetic so
    * the plan is reproducible against the SQL oracle.
    */
  def boxStats(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val v = col(valueCol)
    val stats = Clean.exactQuantilesBy(df, valueCol, Seq(groupCol), Seq(0.25, 0.5, 0.75))
      .select(col(groupCol),
        round(col("q0"), 6).as("q1"),
        round(col("q1"), 6).as("med"),
        round(col("q2"), 6).as("q3"))
      .withColumn("lo_fence", round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6))
      .withColumn("hi_fence", round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6))
    df.join(broadcast(stats), Seq(groupCol))
      .groupBy(col(groupCol), col("q1"), col("med"), col("q3"),
        col("lo_fence"), col("hi_fence"))
      .agg(count(when(v < col("lo_fence") || v > col("hi_fence"), lit(1))).as("n_outliers"))
      .orderBy(col(groupCol))
  }

  /** E2 (whole-column variant — the reference's `px.box` has no group):
    * quartiles, fences and outlier count for one column. Degenerate input
    * (constant or single-row column) yields zero-width IQR and no outliers.
    */
  def boxStatsAll(df: DataFrame, valueCol: String): DataFrame =
    boxStats(df.withColumn("__graft_all", lit(1)), valueCol, "__graft_all")
      .drop("__graft_all")

  /** E4 — 2-D density histogram: `bins x bins` equal-width grid counts over
    * non-null (x, y) pairs; per-axis range = that column's min/max
    * (numpy `histogram2d` semantics, right-most bin closed).
    *
    * Single partition: the final aggregate and the sort by (bx, by),
    * ≤ bins² rows (as [[histogram]]).
    */
  def histogram2d(df: DataFrame, xc: String, yc: String, bins: Int): DataFrame = {
    val nn = df.where(col(xc).isNotNull && col(yc).isNotNull)
    val mm = nn.agg(
      min(col(xc)).cast("double").as("__xlo"), max(col(xc)).cast("double").as("__xhi"),
      min(col(yc)).cast("double").as("__ylo"), max(col(yc)).cast("double").as("__yhi"))
    def bucket(c: String, lo: String, hi: String) =
      binOf(col(c), col(lo), col(hi), bins)
    nn.crossJoin(broadcast(mm))
      .select(bucket(xc, "__xlo", "__xhi").as("bx"), bucket(yc, "__ylo", "__yhi").as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
      .coalesce(1).sortWithinPartitions("bx", "by")
  }

  /** Approx tier of the box/quantile stats for corpus scale: t-digest
    * approximate percentiles (bounded-memory sketch, mergeable across
    * partitions — no distinct-value map) with a configurable accuracy.
    * Exact `boxStats` is the oracle-checkable variant; this is what runs
    * at 100 TB when quantiles feed thresholds rather than reports.
    */
  def boxStatsApprox(df: DataFrame, valueCol: String, groupCol: String,
      accuracy: Int = 10000): DataFrame = {
    val v = col(valueCol)
    df.groupBy(col(groupCol))
      .agg(approx_percentile(v, array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy)).as("__pct"))
      .select(col(groupCol),
        col("__pct")(0).as("q1"), col("__pct")(1).as("med"), col("__pct")(2).as("q3"))
      .orderBy(col(groupCol))
  }

  /** E5 — Pearson correlation matrix over the given columns, computed as a
    * single aggregate pass of all pairwise `corr` expressions, reshaped to
    * long form (col_a, col_b, r). Pairs with i < j only; the diagonal is 1
    * by definition and symmetric entries are redundant.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices
      j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__${b}")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${pairs.size}, " + pairs.map { case (a, b) =>
      s"'$a', '$b', `${a}__${b}`"
    }.mkString(", ") + ") as (col_a, col_b, r)"
    one.select(expr(stackExpr)).orderBy("col_a", "col_b")
  }

  /** E8 — Spearman rank-correlation matrix: Pearson correlation of the
    * columns' average ranks (ties get the midrank, the standard
    * definition). Ranks come from the distinct-value CDF broadcast back
    * (the [[graft.ops.Preprocess.quantileRank]] shape) — never a
    * `rank() OVER (ORDER BY col)` corpus sort. Best for bounded-
    * cardinality columns: a near-unique column's CDF is corpus-sized, at
    * which point bin first (quantileBucketize) or accept the sort.
    *
    * avg rank of value v = cum(v) - (freq(v) - 1)/2.
    */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    // complete cases only (listwise deletion): ranks computed over a
    // per-column non-null set would diverge from Spearman-on-complete-data
    // the moment one column has nulls the others don't
    val base = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
      .na.drop(cols)
    val ranked = cols.foldLeft(base) { (acc, c) =>
      val vcol = s"__v_$c"
      // distributed CDF (Clean.valueCdf) — midrank = cum - (freq-1)/2
      val cdf = Clean.valueCdf(base.select(col(c).as(vcol)), vcol, Nil)
        .select(col("__val").as(vcol),
          (col("__cum") - (col("__c") - 1) / 2.0).as(s"__rank_$c"))
      acc.join(broadcast(cdf), acc(c) === col(vcol)).drop(vcol)
    }
    corrMatrix(
      ranked.select(cols.map(c => col(s"__rank_$c").as(c)): _*), cols)
  }

  /** E7 — contingency table with chi-square-of-independence terms: per
    * (a, b) cell the observed count, the independence expectation
    * row_total*col_total/grand, and the cell's chi² contribution
    * (n-e)²/e (sum the column for the statistic; compare against the
    * chi² distribution with (R-1)(C-1) dof downstream).
    *
    * Shape: ONE groupBy(a, b) over the fact table; row/col totals are
    * re-aggregated from the CELLS (category-cardinality sized, never the
    * fact table again) and broadcast back; grand total likewise. All
    * ratios are IEEE double divisions of exact counts — engine-portable.
    */
  def crosstabChi2(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("a"), col(b).as("b"))
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("a").agg(sum("n").as("row_total"))
    val colT = cells.groupBy("b").agg(sum("n").as("col_total"))
    val grand = cells.agg(sum("n").cast("double").as("grand"))
    val e = col("row_total").cast("double") * col("col_total").cast("double") /
      col("grand")
    cells.join(broadcast(rowT), "a")
      .join(broadcast(colT), "b")
      .crossJoin(broadcast(grand))
      .select(col("a"), col("b"), col("n"),
        round(e, 6).as("expected"),
        round((col("n").cast("double") - e) * (col("n").cast("double") - e) / e, 6)
          .as("chi2_term"))
      .orderBy("a", "b")
  }

  /** Trimmed mean — the robust location estimate: mean of the values
    * inside the [pLo, pHi] exact-quantile band (bounds inclusive). One row
    * per column: column_name, trimmed_mean, n_kept.
    *
    * Scale shape: bounds come from the distributed CDF
    * ([[Clean.exactQuantiles]]), rounded to 6 decimals on the driver (the
    * same small-decision shape as winsorize); the trimmed mean itself is
    * ONE conditional aggregate pass over all columns with the sum in
    * exact DECIMAL, so the result is aggregation-order-independent and
    * engine-portable.
    */
  def trimmedMean(df: DataFrame, cols: Seq[String], pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    val bounds = Clean.exactQuantiles(df, cols, Seq(pLo, pHi)).collect()
      .map(r => r.getString(0) -> ((round6(r.getDouble(1)), round6(r.getDouble(2))))).toMap
    trimmedMeanWith(df, cols, bounds)
  }

  /** [[trimmedMean]] with PRE-COMPUTED (round-6) [lo, hi] keep-bands — the
    * entry point for callers serving the band from a shared pinned
    * quantile grid. Columns absent from `bounds` (all-null) report null.
    */
  def trimmedMeanWith(df: DataFrame, cols: Seq[String],
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val aggs = cols.flatMap { c =>
      bounds.get(c) match {
        case None => // all-null column: no bounds, nothing kept
          Seq(lit(null).cast("decimal(30,8)").as(s"__s_$c"),
            lit(0L).as(s"__n_$c"))
        case Some((lo, hi)) =>
          val in = col(c) >= lo && col(c) <= hi
          Seq(sum(when(in, col(c).cast("decimal(24,8)"))).cast("decimal(30,8)").as(s"__s_$c"),
            count(when(in, lit(1))).as(s"__n_$c"))
      }
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      one.select(lit(c).as("column_name"),
        when(col(s"__n_$c") > 0,
          round(col(s"__s_$c").cast("double") / col(s"__n_$c").cast("double"), 6))
          .as("trimmed_mean"),
        col(s"__n_$c").as("n_kept"))
    }
    stacked.reduce(_ unionByName _).orderBy("column_name")
  }

  /** Mann–Kendall trend test + Theil–Sen slope over a TIME SERIES — the
    * standard nonparametric "is this metric drifting" audit (Mann 1945,
    * Kendall 1975; Sen 1968). Input must be an already-AGGREGATED series
    * (one row per time step — days, hours), so the all-pairs stage is
    * bounded by series length², never by event count: the raw 100-TB
    * stream reduces to its daily aggregate first, and this runs on the
    * metadata-sized result.
    *
    * Determinism: S is an exact integer sum of signs; Var(S) with the
    * tie correction is integer arithmetic divided by 18 once; Z uses one
    * IEEE sqrt (correctly rounded, engine-identical); the Theil–Sen
    * slope is the MEDIAN pairwise slope selected by rank over the total
    * order (slope, t1, t2) — avg of the two middle ranks, which
    * collapses to the single middle element for an odd pair count. The
    * rank window is unpartitioned BY DESIGN: it runs on the bounded
    * pairs table (the bottom-k sketch's bounded-window contract).
    *
    * @return one row: (n_points, n_pairs, s_stat, var_s, z, slope)
    */
  /** Holt linear (double-exponential) smoothing over a TIME SERIES —
    * level+trend state with the standard init l₁=v₁, b₁=v₂−v₁ and
    * recurrence from the second point (Holt 1957 / Hyndman's fpp
    * formulation); h-step forecast = level + h·trend. Same bounded-
    * series contract as [[mannKendallTrend]]: the fold runs over ONE
    * collected row of ≤ series-length values (days, not events), in a
    * defined order, with the state as a 2-element double array — the
    * exact shape DuckDB's list_reduce can replay element-for-element,
    * so the chained IEEE arithmetic is bit-identical cross-engine.
    *
    * @return one row: (n_points, level, trend, forecast_1, forecast_7)
    */
  def holtSmooth(series: DataFrame, ordCol: String, valCol: String,
      alpha: Double = 0.5, beta: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta must be in (0,1): $alpha, $beta")
    val arr = series
      .select(col(ordCol).cast("long").as("t"),
        col(valCol).cast("double").as("v"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("__s"))
      .select(transform(col("__s"), x => x.getField("v")).as("__v"),
        size(col("__s")).as("n_points"))
    def lNew(acc: Column, x: Column): Column =
      lit(alpha) * element_at(x, 1) +
        lit(1 - alpha) * (element_at(acc, 1) + element_at(acc, 2))
    val folded = arr
      .withColumn("__init", array(element_at(col("__v"), 1),
        element_at(col("__v"), 2) - element_at(col("__v"), 1)))
      .withColumn("__st", aggregate(
        transform(slice(col("__v"), lit(2), greatest(size(col("__v")) - 1, lit(0))),
          x => array(x)),
        col("__init"),
        (acc, x) => array(lNew(acc, x),
          lit(beta) * (lNew(acc, x) - element_at(acc, 1)) +
            lit(1 - beta) * element_at(acc, 2))))
    folded.select(col("n_points").cast("long").as("n_points"),
      round(element_at(col("__st"), 1), 6).as("level"),
      round(element_at(col("__st"), 2), 6).as("trend"),
      round(element_at(col("__st"), 1) + element_at(col("__st"), 2), 6)
        .as("forecast_1"),
      round(element_at(col("__st"), 1) + lit(7.0) * element_at(col("__st"), 2), 6)
        .as("forecast_7"))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (triple exponential;
    * Winters 1960 / Hyndman's fpp formulation) — the seasonal upgrade of
    * [[holtSmooth]] for series with a weekly/periodic cycle:
    *
    *   l_t = α(v_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
    *   s_t = γ(v_t − l_t) + (1−γ) s_{t−m}
    *
    * with the standard init l_m = mean(v₁..v_m), b_m = (mean of the
    * second period − mean of the first)/m, s_i = v_i − l_m, recurring
    * from t = m+1; forecast ŷ_{n+h} = l + h·b + s_{n+h−m}.
    *
    * Same bounded-series contract as [[holtSmooth]]: the fold runs over
    * ONE collected row of ≤ series-length values in a defined order.
    * The state is a (2+m)-element double array [l, b, s_oldest..s_newest]
    * rotated by slice+concat each step — the exact shape DuckDB's
    * list_reduce replays element-for-element, so the chained IEEE
    * arithmetic is bit-identical cross-engine. Default smoothing
    * constants are DYADIC (0.5, 0.25, 0.25) so 1−β etc. are exact
    * binary on both sides. Series shorter than 2·period (no init
    * window) produce no row.
    *
    * @return one row: (n_points, level, trend, forecast_1, forecast_p)
    *   — forecast_p is the full-period-ahead (h = period) forecast
    */
  def holtWintersSmooth(series: DataFrame, ordCol: String, valCol: String,
      period: Int = 7, alpha: Double = 0.5, beta: Double = 0.25,
      gamma: Double = 0.25): DataFrame = {
    require(period >= 2, s"period must be >= 2: $period")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1, "alpha/beta/gamma must be in (0,1)")
    val m = period
    val arr = series
      .select(col(ordCol).cast("long").as("t"),
        col(valCol).cast("double").as("v"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("__s"))
      .select(transform(col("__s"), x => x.getField("v")).as("__v"),
        size(col("__s")).as("n_points"))
      .where(col("n_points") >= 2 * m)
    def fsum(a: Column): Column =
      aggregate(a, lit(0.0), (acc, x) => acc + x)
    val mean1 = fsum(slice(col("__v"), 1, m)) / m
    val mean2 = fsum(slice(col("__v"), m + 1, m)) / m
    val init = concat(
      array(mean1, (mean2 - mean1) / m),
      transform(slice(col("__v"), 1, m), x => x - mean1))
    val rest = transform(
      slice(col("__v"), lit(m + 1), greatest(size(col("__v")) - m, lit(0))),
      x => array(x))
    def lNew(acc: Column, x: Column): Column =
      lit(alpha) * (element_at(x, 1) - element_at(acc, 3)) +
        lit(1 - alpha) * (element_at(acc, 1) + element_at(acc, 2))
    val folded = arr
      .withColumn("__init", init)
      .withColumn("__st", aggregate(rest, col("__init"), (acc, x) =>
        concat(
          array(
            lNew(acc, x),
            lit(beta) * (lNew(acc, x) - element_at(acc, 1)) +
              lit(1 - beta) * element_at(acc, 2)),
          slice(acc, 4, m - 1),
          array(lit(gamma) * (element_at(x, 1) - lNew(acc, x)) +
            lit(1 - gamma) * element_at(acc, 3)))))
    // seasonal queue after the fold: [s_{n-m+1} .. s_n]; h steps ahead
    // uses s_{n+h-m} = queue[((h-1) mod m) + 1]
    def fc(h: Int): Column =
      element_at(col("__st"), 1) + lit(h.toDouble) * element_at(col("__st"), 2) +
        element_at(col("__st"), 3 + ((h - 1) % m))
    folded.select(col("n_points").cast("long").as("n_points"),
      round(element_at(col("__st"), 1), 6).as("level"),
      round(element_at(col("__st"), 2), 6).as("trend"),
      round(fc(1), 6).as("forecast_1"),
      round(fc(m), 6).as("forecast_p"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * dependence measure correlation can't see (it detects ANY
    * association, not just monotone): I(X;Y) = Σ p(x,y)·ln(p(x,y)/
    * (p(x)p(y))) in nats. The feature-relevance / redundancy primitive
    * behind MI-based feature selection.
    *
    * Scale shape: three map-side-combining count aggregates (cells,
    * row marginals, column marginals — marginals broadcast back to the
    * bounded cell table) and ONE scan of the fact table per aggregate.
    * Determinism: each cell's contribution c·ln(cn/(r·k)) is computed
    * from EXACT integer counts (the ln argument is one exact-int
    * division), truncated at 1e-9 into a long (the doremi micro-cell
    * device) and summed exactly — aggregation order can't move the
    * result; one double division at the end.
    *
    * @return one row: (n, n_cells, mi_nats round-6)
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
    val rx = df.groupBy(col(xCol).as("__x")).agg(count(lit(1)).as("__r"))
    val cy = df.groupBy(col(yCol).as("__y")).agg(count(lit(1)).as("__k"))
    val n = df.agg(count(lit(1)).as("__n"))
    cells.join(broadcast(rx), Seq("__x"))
      .join(broadcast(cy), Seq("__y"))
      .crossJoin(broadcast(n))
      .select(floor(col("__c").cast("double") *
        log((col("__c") * col("__n")).cast("double") /
          (col("__r") * col("__k")).cast("double")) * lit(1e9))
        .cast("decimal(38,0)").as("__t9"), col("__n"))
      .groupBy("__n").agg(sum("__t9").as("__s9"),
        count(lit(1)).as("n_cells"))
      .select(col("__n").as("n"), col("n_cells"),
        round(col("__s9").cast("double") / lit(1e9) / col("__n"), 6)
          .as("mi_nats"))
  }

  /** Classical seasonal decomposition over a TIME SERIES (the
    * moving-average method statsmodels' `seasonal_decompose` uses, STL's
    * simpler ancestor): trend = centered `period`-point moving average
    * (null where the window is incomplete), seasonal = per-phase mean of
    * the detrended values, residual = value − trend − seasonal. Same
    * bounded-series contract as the rest of the drift family — the
    * unpartitioned range window runs on the metadata-sized series.
    *
    * Determinism: the detrended value is kept PERIOD-SCALED —
    * period·v − Σwindow is an exact long, so the per-phase numerator is
    * an exact integer SUM (order-invariant); trend, seasonal and
    * residual each apply the same fixed double DAG (one or two
    * divisions) that the SQL replay spells identically.
    *
    * @param period seasonal period in time units; must be odd so the
    *               centered window is symmetric
    * @return (t, v, trend, seasonal, resid) one row per input step
    */
  def seasonalDecompose(series: DataFrame, ordCol: String, valCol: String,
      period: Int = 7): DataFrame = {
    require(period > 1 && period % 2 == 1,
      s"period must be odd and > 1: $period")
    val half = (period - 1) / 2
    val d = series.select(col(ordCol).cast("long").as("t"),
      col(valCol).cast("long").as("v"))
    val w = Window.orderBy("t").rangeBetween(-half, half)
    val tr = d
      .withColumn("__cnt", count("v").over(w))
      .withColumn("__sp",
        when(col("__cnt") === period, sum("v").over(w)))
    val ph = tr.where(col("__sp").isNotNull)
      .groupBy((col("t") % period).as("__p"))
      .agg(sum(lit(period) * col("v") - col("__sp")).as("__num"),
        count(lit(1)).as("__pcnt"))
    val pD = lit(period.toDouble)
    tr.withColumn("__p", col("t") % period)
      .join(broadcast(ph), Seq("__p"), "left")
      .select(col("t"), col("v"),
        round(col("__sp").cast("double") / pD, 6).as("trend"),
        round(col("__num").cast("double") / (pD * col("__pcnt")), 6)
          .as("seasonal"),
        when(col("__sp").isNotNull && col("__num").isNotNull,
          round((lit(period) * col("v") - col("__sp")).cast("double") / pD -
            col("__num").cast("double") / (pD * col("__pcnt")), 6))
          .as("resid"))
      .orderBy("t")
  }

  /** Autocorrelation function over a TIME SERIES at lags 1..`maxLag` —
    * the "does this metric echo itself" audit that completes the drift
    * family ([[mannKendallTrend]] / [[cusumChangepoint]] / [[holtSmooth]]).
    * Same bounded-series contract: input is the already-aggregated series
    * (days, not events), so every stage below is metadata-sized.
    *
    * r_k = Σ_t d_t·d_{t+k} / Σ_t d_t² with d_t = n·v_t − Σv — the
    * n-SCALED deviation (the CUSUM trick): every numerator/denominator
    * term is exact integer arithmetic in decimal(38,0) (d² overflows
    * int64 once daily volume passes ~3e9·series-len, decimal does not),
    * and ONE double division per lag happens at the very end. Lags are
    * in the series' time unit: a missing step simply contributes no pair
    * at the lags it would straddle (documented gap semantics, matching
    * the SQL replay join exactly).
    *
    * @return (lag, n_pairs, acf) for each lag with ≥1 pair, ordered
    */
  def autocorrelation(series: DataFrame, ordCol: String, valCol: String,
      maxLag: Int = 10): DataFrame = {
    require(maxLag > 0, s"maxLag must be positive: $maxLag")
    val d = series.select(col(ordCol).cast("long").as("t"),
      col(valCol).cast("long").as("v"))
    val s = d.agg(count(lit(1)).as("__n"), sum("v").as("__sv"))
    val dev = d.crossJoin(broadcast(s))
      .select(col("t"),
        (col("__n") * col("v") - col("__sv")).cast("decimal(19,0)").as("dev"))
    val den = dev.agg(sum(col("dev") * col("dev")).as("__den"))
    dev
      .select(explode(sequence(lit(1), lit(maxLag))).as("lag"),
        col("t"), col("dev"))
      .withColumn("t2", col("t") + col("lag"))
      .join(dev.select(col("t").as("t2"), col("dev").as("dev2")), Seq("t2"))
      .groupBy("lag")
      .agg(sum(col("dev") * col("dev2")).as("__num"),
        count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("__den") === 0, lit(null).cast("double"))
          .otherwise(round(col("__num").cast("double") /
            col("__den").cast("double"), 6)).as("acf"))
      .orderBy("lag")
  }

  /** CUSUM changepoint detection over a TIME SERIES (Page 1954 /
    * Pettitt-style location): the candidate split is the argmax of
    * |S_t| where S_t = Σ_{i≤t}(v_i − mean). Computed SCALED by n so
    * every value is an exact integer: S'_t = n·prefix_t − t·total
    * (= n·S_t), making argmax and magnitude bit-exact in any engine —
    * no rational mean ever materializes. Same bounded-series contract
    * as [[mannKendallTrend]]: input is the aggregated series, the
    * prefix window runs on series-length rows.
    *
    * @return one row: (n_points, cp_ord, cusum_scaled, mean_before,
    *         mean_after) — cp_ord is the LAST ordinal of the left
    *         segment; means are round-6 segment averages
    */
  def cusumChangepoint(series: DataFrame, ordCol: String,
      valCol: String): DataFrame = {
    val base = series.select(col(ordCol).cast("long").as("t"),
      col(valCol).cast("long").as("v"))
    val tot = base.agg(count(lit(1)).as("n"), sum("v").as("tv"))
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    val pre = base
      .withColumn("__p", sum("v").over(w))
      .withColumn("__r", row_number().over(Window.orderBy("t")).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("__s", col("n") * col("__p") - col("__r") * col("tv"))
      // the last point's cusum is 0 by construction — not a split
      .where(col("__r") < col("n"))
    val cp = pre
      .withColumn("__rk", row_number().over(
        Window.orderBy(abs(col("__s")).desc, col("t").asc)))
      .where(col("__rk") === 1)
      .select(col("n").as("n_points"), col("t").as("cp_ord"),
        col("__s").as("cusum_scaled"), col("__p").as("lp"),
        col("__r").as("lr"), col("tv"))
    cp.select(col("n_points"), col("cp_ord"), col("cusum_scaled"),
      round(col("lp").cast("double") / col("lr"), 6).as("mean_before"),
      round((col("tv") - col("lp")).cast("double") /
        (col("n_points") - col("lr")), 6).as("mean_after"))
  }

  def mannKendallTrend(series: DataFrame, ordCol: String,
      valCol: String): DataFrame = {
    val base = series.select(col(ordCol).cast("long").as("t1"),
      col(valCol).cast("double").as("v1"))
    val right = base.select(col("t1").as("t2"), col("v1").as("v2"))
    val pairs = base.join(right, col("t2") > col("t1"))
      .select(col("t1"), col("t2"), col("v1"), col("v2"),
        ((col("v2") - col("v1")) / (col("t2") - col("t1")).cast("double"))
          .as("__slope"))
    val sAgg = pairs.agg(
      sum(signum(col("v2") - col("v1"))).cast("long").as("s_stat"),
      count(lit(1)).as("n_pairs"))
    val nAgg = base.agg(count(lit(1)).as("n_points"))
    val ties = base.groupBy("v1").agg(count(lit(1)).as("__tg"))
      .agg(coalesce(sum(col("__tg") * (col("__tg") - 1) *
        (lit(2) * col("__tg") + 5)), lit(0L)).cast("long").as("__tiesum"))
    val ranked = pairs.withColumn("__r", row_number().over(
      Window.orderBy(col("__slope"), col("t1"), col("t2"))).cast("long"))
    val med = ranked.crossJoin(broadcast(sAgg.select(col("n_pairs").as("__p"))))
      .where(col("__r") === expr("(__p + 1) div 2") ||
        col("__r") === expr("(__p + 2) div 2"))
      .agg((sum(col("__slope")) /
        countDistinct(col("__r")).cast("double")).as("__med"))
    sAgg.crossJoin(nAgg).crossJoin(ties).crossJoin(med)
      .withColumn("__var",
        (col("n_points") * (col("n_points") - 1) *
          (lit(2) * col("n_points") + 5) - col("__tiesum")).cast("double")
          / 18.0)
      .select(col("n_points"), col("n_pairs"), col("s_stat"),
        round(col("__var"), 6).as("var_s"),
        round(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("__var")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("__var")))
          .otherwise(lit(0.0)), 6).as("z"),
        round(col("__med"), 6).as("slope"))
  }

  /** 2-D Pareto frontier (skyline): the points not dominated by any other
    * — u dominates t when u minimizes x at least as well AND maximizes y
    * at least as well, strictly in one. The classic "best trade-off"
    * query (cheapest price per capability tier); other orientations =
    * negate the input columns.
    *
    * Scale shape — never the quadratic dominance join: (1) one
    * wordcount-shaped aggregate keeps max(y) per distinct x; (2) a
    * distributed prefix-max over x order — range partition, per-partition
    * running max in PARALLEL windows, plus a broadcast per-partition
    * offset (the same decomposition as the exact-quantile CDF); (3) a
    * point survives iff its y strictly exceeds the prefix-max of all
    * strictly-smaller x. Equal-x ties collapse in step 1; an equal-y at
    * larger x is dominated and correctly dropped by the STRICT compare.
    *
    * @return the frontier points (xCol, yCol as doubles), ordered by x
    */
  def paretoFrontier2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val perX = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("double").as("__x"))
      .agg(max(col(yCol).cast("double")).as("__y"))
    val ranged0 = perX.repartitionByRange(nPart, col("__x"))
      .withColumn("__pid", spark_partition_id())
    // pin the pid (the prefixSumCdf convention): a re-optimization must
    // not move rows after the pid was observed
    val ranged = Plans.pin(ranged0)
    val pidMax = ranged.groupBy("__pid").agg(max(col("__y")).as("__pm"))
    // offsets: prefix-max of the ≤nPart partition maxima — a bounded
    // single-partition window over partition-count rows, broadcast back
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pidMax
      .withColumn("__off", max(col("__pm")).over(wOff))
      .select(col("__pid").as("__opid"), col("__off"))
    val wLocal = Window.partitionBy("__pid").orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("__lmax", max(col("__y")).over(wLocal))
      .join(broadcast(offsets), col("__pid") === col("__opid"), "left")
      .withColumn("__pmax", greatest(
        coalesce(col("__lmax"), lit(Double.NegativeInfinity)),
        coalesce(col("__off"), lit(Double.NegativeInfinity))))
      .where(col("__y") > col("__pmax"))
      .select(col("__x").as(xCol), col("__y").as(yCol))
      .orderBy(xCol)
  }
}
