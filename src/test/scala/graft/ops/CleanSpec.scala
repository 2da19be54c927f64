package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** pandas-fidelity goldens for the cleaning operators (SURVEY §5.2) —
  * expected values are the judge-verified reference behaviors.
  */
class CleanSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side pandas reference over the positional index:
    * `interpolate(method='linear', limit_direction='both')` and `ffill`.
    */
  private def refInterpolate(vals: IndexedSeq[Option[Double]]): Seq[Option[Double]] = {
    // nearest non-null (position, value) at or before / at or after each row
    def nearest(idx: Seq[Int]) =
      idx.scanLeft(Option.empty[(Int, Double)])((p, i) => vals(i).map(v => (i, v)).orElse(p))
        .tail
    val prevs = nearest(vals.indices).toIndexedSeq
    val nexts = nearest(vals.indices.reverse).reverse.toIndexedSeq
    vals.indices.map { i =>
      (prevs(i), nexts(i)) match {
        case (Some((_, pv)), None) => Some(pv)
        case (None, Some((_, nv))) => Some(nv)
        case (Some((pi, pv)), Some((ni, nv))) =>
          Some(if (pi == ni) pv else pv + (nv - pv) * (i - pi).toDouble / (ni - pi))
        case _ => None
      }
    }
  }

  private def refFfill(vals: Seq[Option[Double]]): Seq[Option[Double]] =
    vals.scanLeft(Option.empty[Double])((last, v) => v.orElse(last)).tail

  private def sameFill(got: Seq[Option[Double]], exp: Seq[Option[Double]]): Boolean =
    got.size == exp.size && got.zip(exp).forall {
      case (Some(a), Some(b)) => approx(a, b, 1e-9); case (a, b) => a == b }

  test("C3 interpolation matches pandas golden [nan,nan,1,nan,5,nan,nan] -> [1,1,1,3,5,5,5]") {
    val df = Seq[(Int, Option[Double])](
      (1, None), (2, None), (3, Some(1.0)), (4, None),
      (5, Some(5.0)), (6, None), (7, None)).toDF("idx", "v")
    val out = Clean.interpolate(df, Seq("v"), "idx").orderBy("idx")
    assert(doubles(out, "v") == Seq(Some(1.0), Some(1.0), Some(1.0), Some(3.0),
      Some(5.0), Some(5.0), Some(5.0)))
  }

  test("C3 interpolation is per-partition when partitionCols given") {
    val df = Seq(
      ("a", 1, Option.empty[Double]), ("a", 2, Some(2.0)),
      ("b", 1, Some(10.0)), ("b", 2, None), ("b", 3, Some(20.0))).toDF("g", "idx", "v")
    val out = Clean.interpolate(df, Seq("v"), "idx", Seq("g")).orderBy("g", "idx")
    assert(doubles(out, "v") == Seq(Some(2.0), Some(2.0), Some(10.0), Some(15.0), Some(20.0)))
  }

  test("C3 all-null column stays all-null") {
    val df = Seq((1, Option.empty[Double]), (2, None)).toDF("idx", "v")
    val out = Clean.interpolate(df, Seq("v"), "idx")
    assert(doubles(out, "v") == Seq(None, None))
  }

  test("C3/C4 fills never plan a single-partition window over fact rows (empty partitionCols)") {
    // 500 rows across the 4-partition test session: the range partitioner
    // splits the frame, so any Window with an empty partition spec that sees
    // raw (non-aggregated) rows would be the single-task global sort the
    // distributed fills exist to avoid. Windows over the tiny per-partition
    // bounds AGGREGATE may legally be single-partition.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = (1 to 500).map(i => (i, if (i % 7 == 0) None else Some(i.toDouble)))
      .toDF("idx", "v")
    for (mk <- Seq(() => Clean.interpolate(df, Seq("v"), "idx"),
                   () => Clean.ffill(df, Seq("v"), "idx"))) graft.Caches.scoped {
      val q = mk()
      q.collect() // materialize so AQE finalizes the plan
      val nodes = allNodes(q.queryExecution.executedPlan)
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      val badGlobal = windows.filter(w => w.partitionSpec.isEmpty &&
        !allNodes(w).drop(1).exists(_.isInstanceOf[BaseAggregateExec]))
      assert(badGlobal.isEmpty,
        s"single-partition window over raw rows:\n${badGlobal.mkString("\n")}")
    }
  }

  test("C3/C4 cross-partition carries match the single-partition reference") {
    // long null runs guaranteed to straddle range-partition boundaries:
    // non-nulls only every 997 rows over 20k rows across 4 partitions.
    // Size matters: at a few hundred rows the range sampler sees every row
    // and two INDEPENDENT exchanges pick identical boundaries, masking any
    // loss of pid-pinning; at 20k rows the reservoir samples diverge (the
    // sampler is seeded by rdd.id), which is exactly the regression this
    // guards (r9: un-pinned carries flipped rows at partition boundaries).
    val rows = (1 to 20000).map(i => (i, if (i % 997 == 0) Some(i.toDouble) else None))
    val df = rows.toDF("idx", "v")
    val (interp, ff) = graft.Caches.scoped((
      doubles(Clean.interpolate(df, Seq("v"), "idx").orderBy("idx"), "v"),
      doubles(Clean.ffill(df, Seq("v"), "idx").orderBy("idx"), "v")))
    val vals = rows.map(_._2)
    assert(sameFill(interp, refInterpolate(vals)))
    assert(ff == refFfill(vals))
  }

  test("carries keep a null group key apart across range partitions (fills, Pack, CDF)") {
    // two 10k-row groups, the null key first in range order: over the
    // 4-partition session both groups straddle partition boundaries, so
    // every consumer of Plans.rangeCarry must join the null group's
    // carries back null-safely and keep them off the other group
    val n = 20000
    val rows = (1 to n).map { i =>
      (if (i <= n / 2) None else Some("a"), i.toLong,
        if (i % 997 == 0) Some(i.toDouble) else None, (i % 7).toLong,
        (i * 7919 % 20011).toDouble)
    }
    val df = rows.toDF("g", "idx", "v", "w", "x")
    val groups = Seq(None, Some("a")).map(g => rows.filter(_._1 == g))
    graft.Caches.scoped {
      val parts = Plans.rangeCarry(df, Seq("g"), Seq(col("idx")),
        Seq(Plans.Carry("n", count(lit(1)), Plans.Fold.Sum(lit(0L))))).groups
        .select(size(col(Plans.PartsCol))).as[Int].collect()
      assert(parts.length == 2 && parts.forall(_ > 1), s"partitions per group: ${parts.toSeq}")

      def fetch(out: org.apache.spark.sql.DataFrame, c: String) =
        out.orderBy(col("g").asc_nulls_first, col("idx")).select(c).collect().toSeq
      val vals = groups.map(_.map(_._3).toIndexedSeq)
      val interp = fetch(Clean.interpolate(df, Seq("v"), "idx", Seq("g")), "v")
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(sameFill(interp, vals.flatMap(refInterpolate)))
      val ff = fetch(Clean.ffill(df, Seq("v"), "idx", Seq("g")), "v")
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(ff == vals.flatMap(refFfill))
      val cum = fetch(graft.ext.Pack.prefixSum(df, "w", Seq(col("idx")), Seq("g")),
        "cum_before").map(_.getLong(0))
      assert(cum == groups.flatMap(g => g.map(_._4).scanLeft(0L)(_ + _).init))

      val cdf = Clean.valueCdf(df, "x", Seq("g"))
        .orderBy(col("g").asc_nulls_first, col("__val")).collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(3))).toSeq
      val exp = groups.flatMap { g =>
        val counts = g.groupBy(_._5).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _).tail)
          .map { case (x, c) => (g.head._1, x, c) }
      }
      assert(cdf == exp)
    }
  }

  test("C3/C4 fused kernel keeps each column's carries apart (4 columns, 20k rows)") {
    // one select fills every column, so each column's tags, windows and
    // boundary carries must stay its own: the four null layouts differ
    // and the values are column-specific, so any mix-up shows
    val n = 20000
    val layouts: Seq[Int => Option[Double]] = Seq(
      i => if (i <= 3000 || i % 3 == 0) None else Some(i + 0.25),   // leading run
      i => if (i > 16000 || i % 11 != 0) None else Some(-2.0 * i),  // trailing run
      i => if (i % 2477 == 0) Some(1e6 - i) else None,              // runs across partitions
      _ => None)                                                     // all null
    val names = layouts.indices.map(j => s"v$j")
    val cols = layouts.map(f => (1 to n).map(f))
    val rows = (1 to n).map(i => org.apache.spark.sql.Row(
      (i.toLong +: cols.map(_(i - 1).map(Double.box).orNull)): _*))
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("idx", LongType, nullable = false) +:
      names.map(StructField(_, DoubleType, nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    def fetch(out: org.apache.spark.sql.DataFrame): Seq[Seq[Option[Double]]] = {
      val got = out.orderBy("idx").select(names.map(col): _*).collect().toIndexedSeq
      names.indices.map(j => got.map(r => if (r.isNullAt(j)) None else Some(r.getDouble(j))))
    }
    val (interp, ff) = graft.Caches.scoped((
      fetch(Clean.interpolate(df, names, "idx")), fetch(Clean.ffill(df, names, "idx"))))
    for (j <- names.indices) {
      assert(sameFill(interp(j), refInterpolate(cols(j))), s"interpolate ${names(j)}")
      assert(ff(j) == refFfill(cols(j)), s"ffill ${names(j)}")
    }
    assert(interp(3).forall(_.isEmpty) && ff(3).forall(_.isEmpty))
  }

  test("C3/C4 plan one Window per sort direction over fact rows, for any column count") {
    // a withColumn fold with alternating window specs planned one
    // Window+Sort per column; the fused select plans 2 (interpolate: one
    // ascending, one descending) and 1 (ffill) for every k. Fact-row
    // windows are the ones partitioned by the physical partition id.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.StructType
    for (k <- Seq(1, 3, 6)) {
      val names = (0 until k).map(j => s"v$j")
      val df = (1 to 2000).map(i => (i, i.toDouble)).toDF("idx", "x")
        .select(col("idx") +: names.zipWithIndex.map { case (c, j) =>
          when(col("idx") % (j + 2) =!= 0, col("x") * (j + 1)).as(c) }: _*)
      for ((kernel, fill, expected) <- Seq(
          ("interpolate", () => Clean.interpolate(df, names, "idx"), 2),
          ("ffill", () => Clean.ffill(df, names, "idx"), 1))) graft.Caches.scoped {
        val q = fill()
        q.collect() // materialize so AQE finalizes the plan
        val factWindows = allNodes(q.queryExecution.executedPlan).collect {
          case w: WindowExec
            if w.partitionSpec.exists(_.references.exists(_.name == "__graft_pid")) => w
        }
        assert(factWindows.size == expected,
          s"$kernel k=$k: ${factWindows.size} fact-row windows, want $expected")
        // the exchange feeding them carries the input and the boundary
        // carries only: the per-column struct(pos, v) tags come after it
        val feed = allNodes(factWindows.head).collectFirst { case e: ShuffleExchangeExec => e }
        assert(feed.nonEmpty, s"$kernel k=$k: no exchange below the fill windows")
        val structs = feed.get.output.filter(_.dataType.isInstanceOf[StructType]).map(_.name)
        assert(structs.forall(n => n.startsWith("__cprev_") || n.startsWith("__cnext_")),
          s"$kernel k=$k: exchange outputs tag structs ${structs.mkString(", ")}")
      }
    }
  }

  test("valueCdf prefix sums are exact across partitions behind the RDD pin") {
    // 20k near-unique values over 4 partitions: big enough that two
    // independently-sampled range exchanges would pick different
    // boundaries (sampler seeded by rdd.id) and silently mis-offset the
    // cumsum. prefixSumCdf pins the ranged frame at the RDD level, so
    // the consumer plan must show the pin (Scan ExistingRDD) and NO
    // REPARTITION_BY_NUM exchange of its own — pid agreement is then
    // structural, not dependent on exchange-reuse canonicalization.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Nil // reused: don't double-count its subtree
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val df = (1 to 20000).map(i => (s"k${i % 3}", (i * 7919 % 20011).toDouble))
      .toDF("k", "v")
    graft.Caches.scoped {
      val cdf = Clean.valueCdf(df, "v", Seq("k")).orderBy("k", "__val")
      val got = cdf.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(3)))
      // single-partition reference: per key, running count over sorted values
      val exp = df.collect().map(r => (r.getString(0), r.getDouble(1)))
        .groupBy(_._1).toSeq.flatMap { case (k, kvs) =>
          val counts = kvs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
          counts.scanLeft((k, 0.0, 0L)) { case ((_, _, cum), (v, c)) => (k, v, cum + c) }.drop(1)
        }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == exp)
      // plan shape: the pin hides prefixSumCdf's range exchange below a
      // Scan ExistingRDD, so the consumer plan may contain NO
      // REPARTITION_BY_NUM range exchange (one appearing again would mean
      // the pin was dropped and correctness regressed to optimizer luck)
      val nodes = allNodes(cdf.queryExecution.executedPlan)
      val rangeExchanges = nodes.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] &&
            e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM => e
      }
      assert(rangeExchanges.isEmpty,
        s"prefixSumCdf's range exchange must live below the RDD pin; found ${rangeExchanges.size} in the consumer plan")
      assert(nodes.exists(_.toString.contains("ExistingRDD")),
        "expected the RDD pin (Scan ExistingRDD) in the CDF consumer plan")
    }
  }

  test("weightedCdf prefix sums are exact across partitions (decimal measure)") {
    // same boundary-straddle shape as the counted test, through the
    // WEIGHTED (decimal) path: per-key running sum of weights in value
    // order must match a single-partition driver reference exactly —
    // this is the path a canonicalization regression would corrupt first
    // (its consumers aggregate different columns), so it gets its own
    // value gate on top of the pin's plan gate.
    val df = (1 to 20000).map { i =>
      (s"k${i % 3}", (i * 7919 % 20011).toDouble, ((i % 7) + 1).toLong)
    }.toDF("k", "v", "w")
    graft.Caches.scoped {
      val cdf = Clean.weightedCdf(df, "v", "w", Seq("k")).orderBy("k", "__val")
      val got = cdf.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDecimal(3).longValueExact()))
      val exp = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
          val perVal = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
          perVal.scanLeft((k, 0.0, 0L)) { case ((_, _, cum), (v, w)) => (k, v, cum + w) }.drop(1)
        }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == exp)
    }
  }

  test("quantilesFromExistingCdf rejects a weighted (decimal) CDF loudly") {
    val df = Seq(("a", 1.0, 2L), ("a", 2.0, 3L)).toDF("k", "v", "w")
    graft.Caches.scoped {
      val weighted = Clean.weightedCdf(df, "v", "w", Seq("k"))
      val e = intercept[IllegalArgumentException] {
        Clean.quantilesFromExistingCdf(weighted, Seq("k"), Seq(0.5))
      }
      assert(e.getMessage.contains("COUNTED"))
    }
  }

  test("C1 coercion matches pandas golden ['1','x','3'] -> [1.0, null, 3.0]") {
    val df = Seq((1, "1"), (2, "x"), (3, "3")).toDF("idx", "s")
    val out = Clean.coerceNumeric(df).orderBy("idx")
    assert(doubles(out, "s") == Seq(Some(1.0), None, Some(3.0)))
  }

  test("C2 scrubInf maps ±inf to null and keeps NaN/values") {
    val df = Seq(1.0, Double.PositiveInfinity, Double.NegativeInfinity, -2.5)
      .toDF("v").withColumn("idx", monotonically_increasing_id())
    val out = Clean.scrubInf(df, Seq("v")).orderBy("idx")
    assert(doubles(out, "v") == Seq(Some(1.0), None, None, Some(-2.5)))
  }

  test("C4 ffill carries last non-null forward, leading nulls stay") {
    val df = Seq[(Int, Option[Double])]((1, None), (2, Some(4.0)), (3, None), (4, Some(7.0)), (5, None))
      .toDF("idx", "v")
    val out = Clean.ffill(df, Seq("v"), "idx").orderBy("idx")
    assert(doubles(out, "v") == Seq(None, Some(4.0), Some(4.0), Some(7.0), Some(7.0)))
  }

  test("C5 dropAllNullCols drops only fully-null columns") {
    val df = Seq((1, Option.empty[Double], Option.empty[Double]), (2, Some(1.0), None))
      .toDF("k", "half", "dead")
    val out = Clean.dropAllNullCols(df)
    assert(out.columns.toSeq == Seq("k", "half"))
  }

  test("C6 summaryStats matches hand-computed describe() for [1,2,3,4]") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val r = Clean.summaryStats(df, Seq("v")).head()
    assert(r.getAs[Long]("cnt") == 4L)
    assert(approx(r.getAs[Double]("mean"), 2.5))
    // pandas std is ddof=1: sqrt(5/3) = 1.290994
    assert(approx(r.getAs[Double]("std"), 1.290994, 1e-6))
    assert(approx(r.getAs[Double]("p25"), 1.75)) // linear interpolation
    assert(approx(r.getAs[Double]("p50"), 2.5))
    assert(approx(r.getAs[Double]("p75"), 3.25))
  }

  test("C6 describeAll merges numeric and string halves keyed by column") {
    val df = Seq((1.0, "x"), (2.0, "x"), (3.0, "y")).toDF("v", "s")
    val rows = Clean.describeAll(df).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(rows.keySet == Set("v", "s"))
    assert(approx(rows("v").getAs[Double]("mean"), 2.0))
    assert(rows("v").isNullAt(rows("v").fieldIndex("top")))
    assert(rows("s").getAs[String]("top") == "x")
    assert(rows("s").getAs[Long]("cnt") == 3L)
  }

  test("C6 string describe: top is most frequent, ties break lexicographically") {
    val df = Seq("b", "b", "a", "a", "c").toDF("s")
    val r = Clean.summaryStatsStrings(df, Seq("s")).head()
    assert(r.getAs[Long]("cnt") == 5L)
    assert(r.getAs[Long]("n_unique") == 3L)
    assert(r.getAs[String]("top") == "a") // a and b tie at 2 -> lexicographic
    assert(r.getAs[Long]("top_freq") == 2L)
  }
}
