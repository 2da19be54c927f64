package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.round6

/** Cleaning / type-coercion operators (SURVEY §2.3).
  *
  * Reference: `Data_integration and harmonization.py:26-33` —
  * string-to-numeric coercion with unparseable values becoming null,
  * ±inf scrubbed to null, linear interpolation of interior nulls with
  * nearest-value fill at the edges, forward-fill, drop of all-null columns,
  * and `describe()`-style summary statistics.
  *
  * Order sensitivity: pandas interpolation/ffill operate over the positional
  * row index. Spark has no stable row order, so every order-sensitive op here
  * takes an explicit `orderCol` (and optional `partitionCols`). The fills
  * range-partition on (partitionCols, orderCol) and carry boundary values
  * across partitions ([[orderedWithCarry]]), so even an empty `partitionCols`
  * (global order — exact reference parity) or one giant key never plans a
  * single-task sort: every window over fact-table rows is partitioned by
  * (partitionCols, physical partition id), and cross-partition state moves
  * through a tiny per-partition boundary table.
  */
object Clean {

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
    }.toIndexedSeq

  /** C1 — coerce string columns to double; unparseable values become null
    * (pandas `to_numeric(errors='coerce')`). `try_cast` keeps this safe under
    * ANSI mode (Spark 4 default) and pushes into codegen.
    */
  def coerceNumeric(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets =
      if (cols.nonEmpty) cols.toSet
      else df.schema.fields.filter(_.dataType == StringType).map(_.name).toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (targets(c)) col(c).try_cast("double").as(c) else col(c)
    }: _*)
  }

  /** C2 — replace ±Infinity with null in floating-point columns. */
  def scrubInf(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = if (cols.nonEmpty) cols else numericCols(df)
    val tset = targets.toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (tset(c)) scrubInfCol(col(c)).as(c) else col(c)
    }: _*)
  }

  def scrubInfCol(c: Column): Column =
    when(c === lit(Double.PositiveInfinity) || c === lit(Double.NegativeInfinity),
      lit(null).cast(DoubleType)).otherwise(c)

  private val RnCol  = "__graft_rn"
  private val OffCol = "__graft_off"
  private val TbCol  = "__graft_tb"

  /** Shared distributed-order core of [[interpolate]] and [[ffill]]: `df`
    * through [[Plans.rangeCarry]] on (partitionCols, orderCol), with
    *   - `__graft_rn`: row number within (partitionCols, pid), computed
    *     inside the pin so every consumer reads one numbering;
    *   - `__graft_off`: rows of the group in earlier partitions, so
    *     `rn + off` is the group-global pandas position;
    *   - `__cprev_c` (+ `__cnext_c` when `needNext`): struct(p, v) of the
    *     nearest non-null value of column c BEFORE (resp. AFTER) this
    *     physical partition, with its group-global position.
    *
    * Rows order by (orderCol, tb), `tb` a monotonically increasing id
    * taken BELOW the range exchange: the numbering above the pin is
    * recomputed per consumer, and this total order keeps equal orderCol
    * values from reordering between the two computations. Callers with a
    * natural unique key should order by it instead of relying on ties.
    */
  private def orderedWithCarry(df: DataFrame, valueCols: Seq[String],
      orderCol: String, partitionCols: Seq[String],
      needNext: Boolean): DataFrame = {
    import Plans.{Carry, Fold}
    val wLoc = Window.partitionBy((partitionCols :+ Plans.PidCol).map(col): _*)
      .orderBy(col(orderCol), col(TbCol))
    val carries = Carry(OffCol, count(lit(1)), Fold.Sum(lit(0L))) +: valueCols.flatMap { c =>
      val tag = when(col(c).isNotNull, struct(col(RnCol).as("p"), col(c).as("v")))
      Carry(s"__cprev_$c", max(tag), Fold.Last(OffCol)) ::
        (if (needNext) Carry(s"__cnext_$c", min(tag), Fold.First(OffCol)) :: Nil
        else Nil)
    }
    Plans.rangeCarry(df.withColumn(TbCol, monotonically_increasing_id()), partitionCols,
      Seq(col(orderCol)), carries,
      _.withColumn(RnCol, row_number().over(wLoc).cast(LongType))).rows
  }

  /** Replaces every value column of `df` by its fill expression over
    * `joined` (the [[orderedWithCarry]] frame) in ONE projection, then keeps
    * `df`'s columns only, so Catalyst plans one Window (and one sort) per
    * window spec for all columns together. The explicit exchange on
    * (partitionCols, pid) comes first so the window inputs (the per-column
    * tags) are computed after the shuffle instead of riding it.
    */
  private def fillSelect(df: DataFrame, joined: DataFrame,
      partitionCols: Seq[String], fills: Map[String, Column]): DataFrame =
    joined.repartition((partitionCols :+ Plans.PidCol).map(col): _*)
      .withColumns(fills)
      .select(df.columns.toIndexedSeq.map(col): _*)

  /** C3 — linear interpolation over row positions, pandas
    * `interpolate(method='linear', limit_direction='both')`: interior null
    * runs are linearly interpolated between nearest non-null neighbours by
    * POSITION (pandas interpolates on the positional index, not on any value
    * column); leading nulls take the first valid value, trailing nulls the
    * last. Verified reference behavior:
    * `[nan,nan,1,nan,5,nan,nan] -> [1,1,1,3,5,5,5]`.
    *
    * Implementation: [[orderedWithCarry]] pins group-global positions and
    * cross-partition neighbours, then per value column two frame-bounded
    * `last(ignoreNulls)` windows over (partitionCols, pid), one ascending
    * and one descending. "Next non-null" is expressed as
    * last-over-DESCENDING-order rather than
    * first-over-(currentRow, unboundedFollowing): Spark's unbounded-
    * FOLLOWING frame recomputes its aggregate from scratch for every row
    * (O(n^2) per partition — pathological on long null runs), while the
    * unbounded-PRECEDING frame is a single accumulating O(n) pass. The
    * price is a second sort. Catalyst does NOT share it across columns
    * built one `withColumn` at a time: k columns planned 2k Window+Sort
    * pairs that way. All columns are built in one select
    * ([[fillSelect]]), which plans 2 — one per sort direction — for any k.
    */
  def interpolate(
      df: DataFrame,
      valueCols: Seq[String],
      orderCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    if (valueCols.isEmpty) return df
    val joined = orderedWithCarry(df, valueCols, orderCol, partitionCols,
      needNext = true)
    val grpPid = (partitionCols :+ Plans.PidCol).map(col)
    val wPrev = Window.partitionBy(grpPid: _*).orderBy(col(RnCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRev = Window.partitionBy(grpPid: _*).orderBy(col(RnCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pos = col(RnCol) + col(OffCol)
    val fills = valueCols.map { c =>
      val v = col(c)
      val tag = when(v.isNotNull, struct(pos.as("p"), v.as("v")))
      val prevS = coalesce(last(tag, ignoreNulls = true).over(wPrev),
        col(s"__cprev_$c"))
      val nextS = coalesce(last(tag, ignoreNulls = true).over(wNextRev),
        col(s"__cnext_$c"))
      val (pv, pp) = (prevS.getField("v"), prevS.getField("p"))
      val (nv, np) = (nextS.getField("v"), nextS.getField("p"))
      c -> when(v.isNotNull, v)
        .when(prevS.isNull, nv)
        .when(nextS.isNull, pv)
        .otherwise(pv + (nv - pv) * (pos - pp) / (np - pp))
    }
    fillSelect(df, joined, partitionCols, fills.toMap)
  }

  /** C4 — forward fill (pandas `fillna(method='ffill')`): null takes the
    * previous non-null value in `orderCol` order within each partition.
    * Same distributed shape as [[interpolate]]: per-(partitionCols, pid)
    * windows plus the broadcast boundary carry — no global sort — and one
    * Window for all columns.
    */
  def ffill(
      df: DataFrame,
      valueCols: Seq[String],
      orderCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    if (valueCols.isEmpty) return df
    val joined = orderedWithCarry(df, valueCols, orderCol, partitionCols,
      needNext = false)
    val wPrev = Window.partitionBy((partitionCols :+ Plans.PidCol).map(col): _*)
      .orderBy(col(RnCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillSelect(df, joined, partitionCols, valueCols.map { c =>
      c -> coalesce(last(col(c), ignoreNulls = true).over(wPrev),
        col(s"__cprev_$c").getField("v"))
    }.toMap)
  }

  /** C5 — drop columns whose every value is null (pandas
    * `dropna(axis=1, how='all')`). Inherently two-phase on Spark: one
    * aggregate pass computes per-column non-null counts (a tiny single-row
    * result collected to the driver), then the projection drops the empty
    * columns. The aggregate is map-side combinable — one shuffle of one row.
    */
  def dropAllNullCols(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.toIndexedSeq.map(c =>
      count(col(c)).as(c)): _*).head()
    val dead = df.columns.filter(c => counts.getAs[Long](c) == 0L)
    if (dead.isEmpty) df else df.drop(dead.toIndexedSeq: _*)
  }

  /** C5b — drop constant columns (≤1 distinct non-null value): the
    * feature-engineering companion to [[dropAllNullCols]] (a constant
    * feature carries zero signal and breaks z-scoring into all-zeros).
    * ONE approx-free aggregate pass: `count_distinct` per column in a
    * single hash aggregate; `keepNullVariants = true` treats a column
    * whose only variation is null-vs-value as non-constant.
    */
  def dropConstantCols(df: DataFrame, keepNullVariants: Boolean = true): DataFrame = {
    val aggs = count(lit(1)).as("__total") +:
      df.columns.toIndexedSeq.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"__d_$c"), count(col(c)).as(s"__n_$c"))
      }
    val row = df.select(aggs: _*).head()
    val total = row.getAs[Long]("__total")
    val dead = df.columns.filter { c =>
      val distinct = row.getAs[Long](s"__d_$c")
      val nonNull = row.getAs[Long](s"__n_$c")
      val hasNulls = nonNull < total
      distinct <= 1L && !(keepNullVariants && hasNulls && distinct == 1L)
    }
    if (dead.isEmpty) df else df.drop(dead.toIndexedSeq: _*)
  }

  /** C6 — summary statistics (pandas `describe()`): per numeric column
    * count, mean, sample std (ddof=1), min, exact linear-interpolated
    * quartiles, max.
    *
    * Two passes, both distributed:
    *  1. one codegen'd hash aggregate for the moments (count/mean/std/
    *     min/max of every column at once);
    *  2. exact quantiles via [[exactQuantiles]] — a value-frequency CDF,
    *     NOT Spark's `percentile` aggregate. `percentile` buffers every
    *     value of the column into a single merge buffer (an
    *     ObjectHashAggregate that funnels N rows through one task —
    *     measured 10-30 s on 6M×4 values locally, unusable at 100 TB).
    *     The CDF path shuffles only (column, distinct value) pairs with
    *     map-side combine and matches pandas/DuckDB `quantile_cont`
    *     bit-for-bit.
    */
  /** Order-invariant mean: exact DECIMAL(28,12) sum (the per-row
    * double→decimal cast has no representable ties, so both engines round
    * identically), cast to double once, divided by the count. A plain
    * avg() sums doubles in partial-aggregate tree order — the r13 table
    * fan-out changed that order and flipped l_discount's mean across a
    * round-6 boundary at sf0.01 (0.049918 vs 0.049919). Oracle spelling:
    * `round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / count(c), 6)`.
    */
  private def exactMean(v: Column): Column =
    sum(v.cast(DecimalType(28, 12))).cast(DoubleType) / count(v)

  def summaryStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val quants = exactQuantiles(df, cols, Seq(0.25, 0.5, 0.75)).collect()
      .flatMap { r =>
        if (r.isNullAt(1)) None // all-null column: no quartiles (pandas NaN)
        else Some(r.getString(0) ->
          ((round6(r.getDouble(1)), round6(r.getDouble(2)), round6(r.getDouble(3)))))
      }.toMap
    summaryStatsWith(df, cols, quants)
  }

  /** [[summaryStats]] with PRE-COMPUTED (and pre-rounded) quartiles —
    * the entry point for callers that serve p25/p50/p75 from a shared
    * quantile grid (one pinned CDF pass feeding several describe-family
    * consumers) instead of re-deriving the corpus-sized CDF per call.
    * Columns absent from `quants` (all-null columns) get null quartiles,
    * matching pandas. The quartiles land as a literal CASE projection
    * over the cols-sized moments frame — no join at all.
    */
  def summaryStatsWith(df: DataFrame, cols: Seq[String],
      quants: Map[String, (Double, Double, Double)]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val v = col(c)
      Seq(
        count(v).as(s"${c}__cnt"),
        round(exactMean(v), 6).as(s"${c}__mean"),
        round(stddev_samp(v), 6).as(s"${c}__std"),
        round(min(v).cast(DoubleType), 6).as(s"${c}__min"),
        round(max(v).cast(DoubleType), 6).as(s"${c}__max"))
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map { c =>
      s"'$c', `${c}__cnt`, `${c}__mean`, `${c}__std`, `${c}__min`, `${c}__max`"
    }.mkString(", ") +
      ") as (column_name, cnt, mean, std, min_v, max_v)"
    val moments = agged.select(expr(stackExpr))
    def pick(f: ((Double, Double, Double)) => Double): Column =
      cols.foldRight(lit(null).cast(DoubleType)) { (c, acc) =>
        quants.get(c) match {
          case Some(q) => when(col("column_name") === c, lit(f(q))).otherwise(acc)
          case None => acc
        }
      }
    moments
      .select(col("column_name"), col("cnt"), col("mean"), col("std"),
        col("min_v"), pick(_._1).as("p25"), pick(_._2).as("p50"),
        pick(_._3).as("p75"), col("max_v"))
      .orderBy("column_name")
  }

  /** C6g — grouped describe (pandas `groupby(keys)[col].describe()`):
    * count/mean/std/min/quartiles/max of `valueCol` per `keys` group.
    * Same two-branch shape as [[summaryStats]]: ONE moments aggregate per
    * group plus the distributed per-key exact-quantile CDF
    * ([[exactQuantilesBy]]), joined on the keys — both sides are
    * group-cardinality sized after their aggregates, so the join never
    * touches fact-table rows.
    */
  def summaryStatsBy(df: DataFrame, valueCol: String,
      keys: Seq[String]): DataFrame =
    summaryStatsByWith(df, valueCol, keys,
      exactQuantilesBy(df, valueCol, keys, Seq(0.25, 0.5, 0.75)))

  /** [[summaryStatsBy]] with PRE-COMPUTED per-group quartiles in the
    * [[exactQuantilesBy]] output shape (keys + q0/q1/q2 for p25/p50/p75)
    * — the grouped twin of [[summaryStatsWith]] (r21): a caller serving
    * the quartiles from a shared bounded grid skips the per-call CDF
    * pass, while the moments pass (count/mean/std/min/max over raw rows)
    * stays per-call and keeps its exact summation order. Served values
    * are bit-identical by construction when the grid was produced by the
    * same `exactQuantilesBy(df, valueCol, keys, Seq(.25, .5, .75))` call.
    */
  def summaryStatsByWith(df: DataFrame, valueCol: String,
      keys: Seq[String], quantiles: DataFrame): DataFrame = {
    val v = col(valueCol)
    val moments = df.groupBy(keys.map(col): _*).agg(
      count(v).as("cnt"),
      round(exactMean(v), 6).as("mean"),
      round(stddev_samp(v), 6).as("std"),
      round(min(v).cast(DoubleType), 6).as("min_v"),
      round(max(v).cast(DoubleType), 6).as("max_v"))
    val quants = quantiles
      .select(keys.map(col) :+ round(col("q0"), 6).as("p25")
        :+ round(col("q1"), 6).as("p50") :+ round(col("q2"), 6).as("p75"): _*)
    // null-safe: a null-key group must pick up ITS quantiles, not nulls
    joinStatsNullSafe(moments, quants, keys, joinType = "left")
      .select(keys.map(col) ++ Seq(col("cnt"), col("mean"), col("std"),
        col("min_v"), col("p25"), col("p50"), col("p75"), col("max_v")): _*)
  }

  /** Exact linear-interpolated quantiles (pandas `quantile` / DuckDB
    * `quantile_cont` semantics: index h = (n-1)p into the sorted multiset,
    * result = x[floor h] + (h - floor h) · (x[ceil h] - x[floor h])) for
    * several columns and probabilities at once — output one row per column
    * with q0..q{k-1} in `probs` order.
    *
    * Distributed shape: melt columns to (column_name, value) → groupBy
    * counts (the ONLY big shuffle, map-side combined to distinct values) →
    * per-column cumulative counts (window over distinct values, thousands
    * of rows per column, not millions) → each target rank j is located in
    * the one CDF run [cum - cnt, cum) that contains it, picked out with a
    * conditional aggregate. Nothing ever buffers the full column.
    */
  def exactQuantiles(df: DataFrame, cols: Seq[String], probs: Seq[Double]): DataFrame = {
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") as (column_name, value)"
    exactQuantilesBy(df.select(expr(stackExpr)), "value", Seq("column_name"), probs)
  }

  /** Distributed value-frequency CDF: one row per (keys, distinct value)
    * with its count `__c` and cumulative count `__cum` (ranks covered:
    * (__cum - __c, __cum]). The primitive under exact quantiles,
    * quantile-rank normalization, and Spearman midranks.
    *
    * Shape: groupBy counts (the only fact-table shuffle, map-side
    * combined) → range-partition (keys, value) → per-partition local
    * cumsum in PARALLEL windows → per-partition totals (rows = partition
    * count) prefix-summed and broadcast back as offsets. No single-task
    * window even when one key's distinct set is corpus-sized; cumulative
    * counts are independent of where the range boundaries fall, so
    * results are engine/partitioning-portable.
    */
  def valueCdf(df: DataFrame, valueCol: String, keyCols: Seq[String]): DataFrame =
    valueCdfWithTotals(df, valueCol, keyCols)._1

  /** [[valueCdf]] plus the per-key grand totals (`keys, __tot`) computed
    * from the pid-totals aggregate that the prefix sum builds anyway —
    * callers that need n per key (every quantile entry point) get it
    * WITHOUT a second cumsum pass over the corpus-sized CDF
    * (`cdf.groupBy(keys).max(__cum)` re-planned the whole window).
    */
  def valueCdfWithTotals(df: DataFrame, valueCol: String,
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val v = col(valueCol).cast(DoubleType)
    val keyed = df.where(v.isNotNull)
      .select(keyCols.map(col) :+ v.as("__val"): _*)
    val vc = keyed.groupBy(keyCols.map(col) :+ col("__val"): _*)
      .agg(count(lit(1)).as("__c"))
    prefixSumCdf(vc, keyCols, "__c", lit(0L))
  }

  /** Weighted value-frequency CDF: [[valueCdf]] with per-value summed
    * DECIMAL weights instead of row counts — the primitive under weighted
    * quantiles. Output: keys, __val, __w (value's weight), __cum.
    */
  def weightedCdf(df: DataFrame, valueCol: String, weightCol: String,
      keyCols: Seq[String]): DataFrame =
    weightedCdfWithTotals(df, valueCol, weightCol, keyCols)._1

  /** [[weightedCdf]] plus per-key total weights (`keys, __tot`) from the
    * pid-totals aggregate — same no-second-pass contract as
    * [[valueCdfWithTotals]]. */
  def weightedCdfWithTotals(df: DataFrame, valueCol: String, weightCol: String,
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val v = col(valueCol).cast(DoubleType)
    val keyed = df.where(v.isNotNull && col(weightCol).isNotNull)
      .select(keyCols.map(col) ++ Seq(v.as("__val"),
        col(weightCol).cast("decimal(28,6)").as("__wt")): _*)
    val vw = keyed.groupBy(keyCols.map(col) :+ col("__val"): _*)
      .agg(sum(col("__wt")).as("__w"))
    prefixSumCdf(vw, keyCols, "__w", lit(0).cast("decimal(38,6)"))
  }

  /** Shared distributed-prefix-sum core of [[valueCdf]]/[[weightedCdf]]:
    * takes the pre-aggregated (keys, __val, measure) table and appends
    * `__cum`, the per-key running sum of `measure` in __val order: a
    * local cumsum per range partition plus the Σ of the key's earlier
    * partitions, carried by [[Plans.rangeCarry]]. Rows are
    * (keys, __val)-DISTINCT, so the local window's order is total. The
    * per-key totals sum the collected per-partition parts, with no
    * second pass over the CDF.
    */
  private def prefixSumCdf(perValue: DataFrame, keyCols: Seq[String],
      measure: String, zero: Column): (DataFrame, DataFrame) = {
    val Plans.RangeCarry(ranged, groups) = Plans.rangeCarry(perValue, keyCols,
      Seq(col("__val")), Seq(Plans.Carry("__off", sum(col(measure)), Plans.Fold.Sum(zero))))
    val keyTotals = groups.select(keyCols.map(col) :+ aggregate(col(Plans.PartsCol), zero,
      (acc, y) => acc + y.getField("__off")).as("__tot"): _*)
    val wLocal = Window.partitionBy((keyCols :+ Plans.PidCol).map(col): _*)
      .orderBy("__val")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = ranged
      .withColumn("__cum", sum(col(measure)).over(wLocal) + col("__off"))
      .drop(Plans.PidCol, "__off")
    (cdf, keyTotals)
  }

  /** Null-SAFE broadcast join of per-key stats back onto a keyed frame:
    * a plain equi-join silently drops null-key groups (null never equals
    * null), so every stats-join here goes through `<=>`. The right side's
    * keys are renamed to keep the condition unambiguous.
    */
  private def joinStatsNullSafe(left: DataFrame, stats: DataFrame,
      keyCols: Seq[String], joinType: String = "inner"): DataFrame = {
    if (keyCols.isEmpty) left.crossJoin(broadcast(stats))
    else {
      val renamed = stats.toDF(stats.columns.map { c =>
        if (keyCols.contains(c)) s"__graft_k_$c" else c
      }.toIndexedSeq: _*)
      val cond = keyCols.map(k => col(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
      left.join(broadcast(renamed), cond, joinType)
        .drop(keyCols.map("__graft_k_" + _): _*)
    }
  }

  /** Weighted lower quantiles per `keyCols` group: for each probability p,
    * the SMALLEST value whose cumulative weight reaches p · total-weight
    * (the lower-weighted-quantile convention — no interpolation, so the
    * result is always an observed value and the p·W threshold compare is
    * one engine-portable IEEE multiply of exact DECIMAL casts).
    * Output: keyCols + q0..q{k-1}.
    */
  def weightedQuantilesBy(df: DataFrame, valueCol: String, weightCol: String,
      keyCols: Seq[String], probs: Seq[Double]): DataFrame = graft.Caches.scoped {
    val (cdf, keyTotals) = weightedCdfWithTotals(df, valueCol, weightCol, keyCols)
    val totals = keyTotals.select(keyCols.map(col) :+
      col("__tot").cast(DoubleType).as("__tw"): _*)
    val withT = joinStatsNullSafe(cdf, totals, keyCols)
    val qAggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum").cast(DoubleType) >= lit(p) * col("__tw"),
        col("__val"))).as(s"q$i")
    }
    // eager checkpoint: the output is key-cardinality-sized (tiny next to
    // the corpus), and materializing it inside the scope lets the scope
    // release the corpus-sized CDF persist immediately — repeated calls
    // through this public entry point accumulate nothing
    withT.groupBy(keyCols.map(col): _*).agg(qAggs.head, qAggs.tail: _*)
      .localCheckpoint(true)
  }

  /** Keyed core of [[exactQuantiles]]: exact `quantile_cont` of `valueCol`
    * per distinct `keyCols` group, on the [[valueCdf]] distributed prefix
    * sum. Output: keyCols + q0..q{k-1}. Each target rank j = (n-1)p is
    * located in the one CDF run (__lo, __cum] that contains it via a
    * conditional aggregate — nothing buffers a column, or even its
    * distinct set, in one task.
    */
  def exactQuantilesBy(df: DataFrame, valueCol: String, keyCols: Seq[String],
      probs: Seq[Double]): DataFrame = graft.Caches.scoped {
    val (cdf0, keyTotals) = valueCdfWithTotals(df, valueCol, keyCols)
    quantilesFromCdf(cdf0, keyTotals.withColumnRenamed("__tot", "__n"),
      keyCols, probs)
  }

  /** [[exactQuantilesBy]] over a PRE-COUNTED (keys, value, count) table —
    * semantically identical to exploding each row `count` times and
    * running the row-level entry point, at distinct-value cost. This is
    * how derived distributions (e.g. |x - median| for MAD) get exact
    * quantiles from an already-materialized CDF without a second pass
    * over the fact table.
    */
  def exactQuantilesFromCounts(counted: DataFrame, valueCol: String,
      countCol: String, keyCols: Seq[String],
      probs: Seq[Double]): DataFrame = graft.Caches.scoped {
    val v = col(valueCol).cast(DoubleType)
    val vc = counted.where(v.isNotNull)
      .select(keyCols.map(col) ++ Seq(v.as("__val"),
        col(countCol).cast(LongType).as("__cin")): _*)
      .groupBy(keyCols.map(col) :+ col("__val"): _*)
      .agg(sum(col("__cin")).as("__c"))
    val (cdf0, keyTotals) = prefixSumCdf(vc, keyCols, "__c", lit(0L))
    quantilesFromCdf(cdf0, keyTotals.withColumnRenamed("__tot", "__n"),
      keyCols, probs)
  }

  /** Exact quantiles straight off an ALREADY prefix-summed CDF (the
    * output shape of [[valueCdf]], typically checkpointed by the caller):
    * per-key totals come from a cheap max(__cum) aggregate over the CDF
    * rows and the ranks are located in place — no new prefix-sum
    * pipeline, no fact-table pass.
    *
    * COUNTED CDFs only: the rank arithmetic needs integral `__cum` (and
    * the `__c` run widths). A WEIGHTED CDF ([[weightedCdf]], decimal
    * `__cum`) fed here would silently truncate fractional total weight
    * and shift every rank — rejected up front instead; use
    * [[weightedQuantilesBy]] for weighted data.
    */
  def quantilesFromExistingCdf(cdf: DataFrame, keyCols: Seq[String],
      probs: Seq[Double]): DataFrame = {
    cdf.schema("__cum").dataType match {
      case LongType | IntegerType => ()
      case other => throw new IllegalArgumentException(
        "quantilesFromExistingCdf requires a COUNTED CdF (integral __cum from " +
          s"valueCdf); got __cum: $other — a weighted CDF would truncate " +
          "fractional weight into wrong ranks. Use weightedQuantilesBy.")
    }
    val totals = cdf.groupBy(keyCols.map(col): _*)
      .agg(max(col("__cum")).cast(LongType).as("__n"))
    quantilesFromCdf(cdf, totals, keyCols, probs)
  }

  /** Shared rank-location tail of the exact-quantile entry points: given
    * a prefix-summed CDF and per-key totals `__n`, locate each target
    * rank j = (n-1)p in the one CDF run [__lo, __cum) that contains it
    * via a conditional aggregate — nothing buffers a column, or even its
    * distinct set, in one task.
    */
  private def quantilesFromCdf(cdf0: DataFrame, totals: DataFrame,
      keyCols: Seq[String], probs: Seq[Double]): DataFrame = {
    val cdf = cdf0
      .withColumn("__lo", col("__cum") - col("__c")) // run covers ranks [__lo, __cum)
    val withN = joinStatsNullSafe(cdf, totals, keyCols)
    val qAggs = probs.zipWithIndex.flatMap { case (p, i) =>
      val h = (col("__n") - 1) * lit(p)
      val j0 = floor(h).cast("long")
      val j1 = ceil(h).cast("long")
      Seq(
        max(when(col("__lo") <= j0 && j0 < col("__cum"), col("__val"))).as(s"v0_$i"),
        max(when(col("__lo") <= j1 && j1 < col("__cum"), col("__val"))).as(s"v1_$i"),
        max(h - floor(h)).as(s"fr_$i")) // constant within the group
    }
    // eager checkpoint: output is key-cardinality-sized; materializing it
    // inside the caller's scope releases any CDF persist immediately, so
    // repeated calls through the public entry points accumulate nothing
    // (long-lived-session leak-freedom)
    withN.groupBy(keyCols.map(col): _*).agg(qAggs.head, qAggs.tail: _*)
      .select(keyCols.map(col) ++ probs.indices.map { i =>
        (col(s"v0_$i") + col(s"fr_$i") * (col(s"v1_$i") - col(s"v0_$i"))).as(s"q$i")
      }: _*)
      .localCheckpoint(true)
  }

  /** C7 — per-group mean imputation: fill nulls in `valueCol` with the
    * mean of its `keyCols` group (pandas
    * `df.groupby(keys)[col].transform(lambda s: s.fillna(s.mean()))`).
    * Groups whose values are ALL null keep their nulls (group mean is
    * null, `coalesce` passes the null through) — pandas behavior.
    *
    * Scale shape: a map-side-combined groupBy produces one tiny row per
    * key; the join back shuffles on the same key the caller's data is
    * usually already organized by (AQE broadcasts when the key set is
    * small). No window over the fact table, no global sort.
    *
    * `roundStats` rounds the group mean before filling (oracle
    * reproducibility — double `avg` is aggregation-order-dependent);
    * pass -1 to disable.
    */
  def imputeMeanBy(df: DataFrame, valueCol: String, keyCols: Seq[String],
      roundStats: Int = -1): DataFrame = {
    require(keyCols.nonEmpty, "imputeMeanBy needs grouping keys; use imputeGlobal for whole-column fills")
    val mu0 = avg(col(valueCol))
    val mu = if (roundStats >= 0) round(mu0, roundStats) else mu0
    // null-SAFE key join: a plain equi-join would silently DROP every row
    // whose grouping key is null (inner join never matches null = null),
    // turning an imputation into a row filter. The stats side's keys are
    // renamed so the <=> condition is unambiguous.
    val means = df.groupBy(keyCols.map(col): _*).agg(mu.as("__graft_mu"))
      .toDF(keyCols.map("__graft_k_" + _) :+ "__graft_mu": _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
    df.join(means, cond)
      .withColumn(valueCol, coalesce(col(valueCol), col("__graft_mu")))
      .drop(keyCols.map("__graft_k_" + _) :+ "__graft_mu": _*)
  }

  /** C7c — per-group MODE imputation for categorical columns: fill nulls
    * in `valueCol` with the most frequent non-null value of its `keyCols`
    * group (pandas `transform(lambda s: s.fillna(s.mode()[0]))`).
    * Frequency ties break to the lexicographically smallest value — a
    * pinned total order (pandas' own `mode()[0]` is sorted, so this
    * matches). Groups whose values are ALL null keep their nulls.
    *
    * Scale shape: one map-side-combined groupBy counts (keys, value)
    * pairs; the per-key argmax window runs over DISTINCT values per key
    * (tiny next to the fact table — categorical by assumption); the fill
    * joins one row per key back, null-safely (a null grouping key is a
    * legitimate group).
    */
  def imputeModeBy(df: DataFrame, valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "imputeModeBy needs grouping keys")
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy((keyCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__vf"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__vf").desc, col(valueCol))
    val modes = counts.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(keyCols.map(col) :+ col(valueCol).as("__graft_mode"): _*)
    joinStatsNullSafe(df, modes, keyCols, joinType = "left")
      .withColumn(valueCol, coalesce(col(valueCol), col("__graft_mode")))
      .drop("__graft_mode")
  }

  /** C7b — whole-column median imputation (pandas
    * `fillna(df[col].median())`): exact medians from the distributed CDF
    * ([[exactQuantiles]] — never a buffer-everything percentile), rounded
    * to 6 decimals (oracle reproducibility), applied as a codegen'd
    * `coalesce` at the scan. All-null columns stay null.
    */
  def imputeMedian(df: DataFrame, cols: Seq[String]): DataFrame = {
    val q = exactQuantiles(df, cols, Seq(0.5)).collect()
    val med = q.map(r => r.getString(0) ->
      round6(r.getDouble(1))).toMap
    cols.foldLeft(df) { (acc, c) =>
      med.get(c) match {
        case None    => acc // all-null column: nothing to fill with
        case Some(m) => acc.withColumn(c, coalesce(col(c).cast(DoubleType), lit(m)))
      }
    }
  }

  /** C6 combined — pandas `describe(include='all')`: numeric stats and
    * string unique/top/freq in one long-form frame keyed by column_name
    * (full outer join of the two halves; stats that don't apply are null,
    * exactly like pandas' NaN-filled describe matrix).
    */
  def describeAll(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val nums = df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toIndexedSeq
    val strs = df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toIndexedSeq
    (nums.nonEmpty, strs.nonEmpty) match {
      case (true, true) =>
        val s = summaryStatsStrings(df, strs).withColumnRenamed("cnt", "__cnt_str")
        summaryStats(df, nums).join(s, Seq("column_name"), "full_outer")
          .withColumn("cnt", coalesce(col("cnt"), col("__cnt_str")))
          .drop("__cnt_str")
          .orderBy("column_name")
      case (true, false) => summaryStats(df, nums)
      case (false, true) => summaryStatsStrings(df, strs)
      case _ => df.sparkSession.emptyDataFrame
    }
  }

  /** C6 (string half) — pandas `describe(include='all')` for object columns:
    * per column count, number of distinct values, the most frequent value
    * (`top`) and its frequency (`freq`). Ties on frequency break to the
    * lexicographically smallest value so the result is deterministic (pandas
    * itself is tie-order-dependent; we pin a total order).
    *
    * Scale shape: all string columns are melted into (column_name, value)
    * rows in ONE projection, then a single groupBy counts values — one
    * shuffle of n_cols × n_rows narrow rows, map-side combinable. The
    * per-column top is a window over the (tiny) distinct-value counts.
    */
  def summaryStatsStrings(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', `$c`").mkString(", ") + ") as (column_name, value)"
    val long = df.select(expr(stackExpr)).where(col("value").isNotNull)
    val counts = long.groupBy("column_name", "value").agg(count(lit(1)).as("vfreq"))
    val w = Window.partitionBy("column_name").orderBy(col("vfreq").desc, col("value"))
    counts.withColumn("__rn", row_number().over(w))
      .groupBy("column_name").agg(
        sum("vfreq").as("cnt"),
        count(lit(1)).as("n_unique"),
        max(when(col("__rn") === 1, col("value"))).as("top"),
        max(when(col("__rn") === 1, col("vfreq"))).as("top_freq"))
      .orderBy("column_name")
  }
}
