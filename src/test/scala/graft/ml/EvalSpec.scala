package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("aucExact: perfect separation gives 1.0, reversed gives 0.0") {
    val df = Seq((0.1, 0), (0.2, 0), (0.3, 0), (0.8, 1), (0.9, 1))
      .toDF("score", "y")
    val r = Eval.aucExact(df, "score", col("y") === 1).head()
    assert(r.getAs[Long]("n_pos") === 2L)
    assert(r.getAs[Long]("n_neg") === 3L)
    assert(r.getAs[Double]("auc") === 1.0)
    val rev = Eval.aucExact(df, "score", col("y") === 0).head()
    assert(rev.getAs[Double]("auc") === 0.0)
  }

  test("aucExact: known hand-computed value with ties") {
    // scores: pos {3, 2}, neg {2, 1}. Ranks (avg ties): 1->1, 2->2.5, 3->4.
    // R+ = 4 + 2.5 = 6.5; AUC = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875
    val df = Seq((3.0, 1), (2.0, 1), (2.0, 0), (1.0, 0)).toDF("score", "y")
    val r = Eval.aucExact(df, "score", col("y") === 1).head()
    assert(r.getAs[Double]("auc") === 0.875)
  }

  test("aucExact: random labels on identical scores give exactly 0.5") {
    val df = Seq((1.0, 1), (1.0, 0), (1.0, 1), (1.0, 0)).toDF("score", "y")
    val r = Eval.aucExact(df, "score", col("y") === 1).head()
    assert(r.getAs[Double]("auc") === 0.5)
  }

  test("aucExact is partitioning-invariant") {
    val df = (1 to 200).map(i => (math.sin(i).abs, i % 3 == 0))
      .toDF("score", "y")
    val a = Eval.aucExact(df.repartition(1), "score", col("y")).head()
    val b = Eval.aucExact(df.repartition(13), "score", col("y")).head()
    assert(a === b)
  }

  test("calibrationBins: counts partition the input, rates exact") {
    val df = (0 until 100).map(i => (i / 100.0, i >= 50)).toDF("score", "y")
    val bins = Eval.calibrationBins(df, "score", col("y"), bins = 10).collect()
    assert(bins.map(_.getAs[Long]("n")).sum === 100L)
    // bin 0 covers scores [0, 0.099]: all negative
    assert(bins.head.getAs[Double]("frac_pos") === 0.0)
    // last bin covers [0.891, 0.99]: all positive (max clamps in)
    assert(bins.last.getAs[Double]("frac_pos") === 1.0)
  }

  test("calibrationBins: degenerate constant score lands in bin 0") {
    val df = Seq((2.0, true), (2.0, false)).toDF("score", "y")
    val bins = Eval.calibrationBins(df, "score", col("y"), bins = 5).collect()
    assert(bins.length === 1 && bins.head.getAs[Long]("bin") === 0L)
    assert(bins.head.getAs[Double]("frac_pos") === 0.5)
  }

  test("woeTable: signs follow the odds ratio; IV terms non-negative") {
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 1), ("a", 0), // a: pos-heavy -> woe > 0
      ("b", 0), ("b", 0), ("b", 0), ("b", 1)  // b: neg-heavy -> woe < 0
    ).toDF("cat", "y")
    val byCat = Eval.woeTable(df, "cat", col("y") === 1).collect()
    val a = byCat.find(_.getString(0) == "a").get
    val b = byCat.find(_.getString(0) == "b").get
    assert(a.getAs[Double]("woe") > 0 && b.getAs[Double]("woe") < 0)
    assert(a.getAs[Double]("iv_term") >= 0 && b.getAs[Double]("iv_term") >= 0)
  }

  test("ols2: recovers exact coefficients of a noiseless plane") {
    // y = 2 + 3*x1 - 4*x2 on a non-degenerate grid -> exact fit, r2 = 1
    val df = (for (a <- 0 to 9; b <- 0 to 9)
      yield (a.toDouble, b.toDouble, 2.0 + 3.0 * a - 4.0 * b))
      .toDF("x1", "x2", "y")
    val r = Eval.ols2(df, "x1", "x2", "y").head()
    assert(r.getAs[Long]("n") === 100L)
    assert(math.abs(r.getAs[Double]("b0") - 2.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("b1") - 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("b2") + 4.0) < 1e-6)
    assert(r.getAs[Double]("r2") === 1.0)
  }

  test("ols2 is partitioning-invariant") {
    val df = (1 to 300).map(i =>
      (i % 17 + 0.25, i % 23 + 0.5, (i % 11) * 2.0 + i % 5))
      .toDF("x1", "x2", "y")
    val a = Eval.ols2(df.repartition(1), "x1", "x2", "y").head()
    val b = Eval.ols2(df.repartition(13), "x1", "x2", "y").head()
    assert(a === b)
  }

  test("confusionAtThreshold: hand-checked counts and metrics") {
    // scores >= 0.5 predicted positive: tp=2, fp=1, tn=1, fn=1
    val df = Seq((0.9, 1), (0.8, 1), (0.7, 0), (0.2, 0), (0.1, 1))
      .toDF("score", "y")
    val r = Eval.confusionAtThreshold(df, "score", col("y") === 1, 0.5).head()
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("tn"), r.getAs[Long]("fn")) === ((2L, 1L, 1L, 1L)))
    assert(r.getAs[Double]("precision") === 0.666667)
    assert(r.getAs[Double]("recall") === 0.666667)
    assert(r.getAs[Double]("f1") === 0.666667)
    assert(r.getAs[Double]("accuracy") === 0.6)
  }

  test("confusionAtThreshold: zero denominators yield null, not 0") {
    // everything predicted negative -> precision undefined
    val df = Seq((0.1, 1), (0.2, 0)).toDF("score", "y")
    val r = Eval.confusionAtThreshold(df, "score", col("y") === 1, 0.5).head()
    assert(r.isNullAt(r.fieldIndex("precision")))
    assert(r.getAs[Double]("recall") === 0.0)
  }

  test("diffInDiff: recovers a known treatment effect over a shared trend") {
    // ctrl: 10 -> 12 (trend +2); treat: 20 -> 27 (trend +2, effect +5)
    val rows =
      Seq.fill(50)((false, false, 10.0)) ++ Seq.fill(50)((false, true, 12.0)) ++
      Seq.fill(50)((true, false, 20.0)) ++ Seq.fill(50)((true, true, 27.0))
    val df = rows.toDF("t", "p", "v")
    val r = Eval.diffInDiff(df, col("t"), col("p"), "v").head()
    assert(r.getAs[Double]("did") === 5.0)
    assert(r.getAs[Double]("mean_treat_post") === 27.0)
    assert(r.getAs[Long]("n_ctrl_pre") === 50L)
  }

  test("wilsonInterval: brackets the rate, stays inside [0, 1]") {
    val df = (1 to 40).map(i => ("g", i <= 10)).toDF("g", "pos")
    val r = Eval.wilsonInterval(df, "g", col("pos")).head()
    assert(r.getAs[Double]("p") === 0.25)
    val lo = r.getAs[Double]("lo95"); val hi = r.getAs[Double]("hi95")
    assert(lo > 0.0 && lo < 0.25 && hi > 0.25 && hi < 1.0)
  }

  test("wilsonInterval: extreme rates never leave the unit interval") {
    val df = Seq(("a", true), ("a", true), ("b", false)).toDF("g", "pos")
    val rows = Eval.wilsonInterval(df, "g", col("pos")).collect()
    assert(rows.forall(r => r.getAs[Double]("lo95") >= 0.0 &&
      r.getAs[Double]("hi95") <= 1.0))
  }

  test("cohensKappa: perfect agreement is 1, marginal-only agreement is 0") {
    val perfect = Seq((true, true), (false, false), (true, true))
      .toDF("a", "b")
    val r1 = Eval.cohensKappa(perfect, col("a"), col("b")).head()
    assert(r1.getAs[Double]("kappa") === 1.0)
    // independent raters with 50/50 marginals: po = pe = 0.5 -> kappa 0
    val indep = Seq((true, true), (true, false), (false, true), (false, false))
      .toDF("a", "b")
    val r2 = Eval.cohensKappa(indep, col("a"), col("b")).head()
    assert(r2.getAs[Double]("kappa") === 0.0)
  }

  test("cohensKappa: constant raters (pe = 1) yield null, not NaN") {
    val df = Seq((true, true), (true, true)).toDF("a", "b")
    val r = Eval.cohensKappa(df, col("a"), col("b")).head()
    assert(r.isNullAt(r.fieldIndex("kappa")))
    assert(r.getAs[Double]("po") === 1.0)
  }

  test("abTest: hand-computed z on a small split") {
    // A: units 1,2 (1 converts); B: units 3,4 (2 convert)
    // pa=0.5, pb=1.0, pool=0.75, z = -0.5/sqrt(0.75*0.25*(1/2+1/2))
    val df = Seq((1, 0, 1), (1, 0, 0), (2, 0, 0), (3, 1, 1), (4, 1, 1))
      .toDF("u", "v", "c")
    val r = Eval.abTest(df, "u", col("v") === 1, col("c") === 1).head()
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("conv_a") === 1L && r.getAs[Long]("conv_b") === 2L)
    val expected = BigDecimal(-0.5 / math.sqrt(0.75 * 0.25 * 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") === expected)
  }

  test("abTest: a unit converts if ANY of its rows does") {
    val df = Seq((1, 0, 0), (1, 0, 1), (1, 0, 0), (2, 1, 0)).toDF("u", "v", "c")
    val r = Eval.abTest(df, "u", col("v") === 1, col("c") === 1).head()
    assert(r.getAs[Long]("conv_a") === 1L && r.getAs[Long]("conv_b") === 0L)
  }

  test("woeTable: smoothing keeps single-class categories finite") {
    val df = Seq(("a", 1), ("a", 1), ("b", 0)).toDF("cat", "y")
    val rows = Eval.woeTable(df, "cat", col("y") === 1).collect()
    assert(rows.forall(r => !r.getAs[Double]("woe").isInfinite &&
      !r.getAs[Double]("woe").isNaN))
  }

  test("kendallTau: perfect orders, one swap, tie correction, n<2 drop") {
    // monotone up -> tau 1; monotone down -> tau -1
    val up = (1 to 5).map(i => ("u", i, i.toDouble))
    val dn = (1 to 5).map(i => ("d", i, -i.toDouble))
    // one adjacent swap of 5: C=9, D=1 -> tau = 8/10 = 0.8
    val sw = Seq(("s", 1, 1.0), ("s", 2, 3.0), ("s", 3, 2.0),
      ("s", 4, 4.0), ("s", 5, 5.0))
    // y ties: (1,1),(2,1),(3,2): C=2, D=0, n0=3, n2=1 -> 2/sqrt(3*2)
    val ti = Seq(("t", 1, 1.0), ("t", 2, 1.0), ("t", 3, 2.0))
    val single = Seq(("x", 1, 9.0))
    val df = (up ++ dn ++ sw ++ ti ++ single).toDF("k", "x", "y")
    val out = Eval.kendallTau(df, "x", "y", Seq("k")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("u").getAs[Double]("tau_b") === 1.0)
    assert(out("d").getAs[Double]("tau_b") === -1.0)
    assert(out("s").getAs[Double]("tau_b") === 0.8)
    val expT = BigDecimal(2.0 / math.sqrt(3.0 * 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("t").getAs[Double]("tau_b") === expT)
    assert(!out.contains("x"), "single-point keys have no pairs and drop")
  }

  test("chiSquare: hand-computed 2x2 statistic, zero under independence") {
    // cells 10/20/20/10: expected all 15, chi2 = 4 * 25/15 = 6.666...,
    // each fixed-point term floor(1.6666...e9) -> chi2 6.666667 round-6
    val rows = Seq.fill(10)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
      Seq.fill(20)(("a2", "b1")) ++ Seq.fill(10)(("a2", "b2"))
    val r = Eval.chiSquare(rows.toDF("x", "y"), "x", "y").head()
    assert(r.getAs[Long]("n") === 60L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 6.666667)
    assert(r.getAs[Double]("cramers_v") === 0.333333)
    // exact proportionality -> statistic 0
    val ind = Seq.fill(10)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
      Seq.fill(20)(("a2", "b1")) ++ Seq.fill(40)(("a2", "b2"))
    val r2 = Eval.chiSquare(ind.toDF("x", "y"), "x", "y").head()
    assert(r2.getAs[Double]("chi2") === 0.0)
  }

  test("theilSen: median slope/intercept, even-count averaging, per-key") {
    // slopes: (2-1)/1 = 1, (10-1)/2 = 4.5, (10-2)/1 = 8 -> median 4.5;
    // residuals y - 4.5x: -3.5, -7, -3.5 -> median -3.5
    val df = Seq(("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, 10.0),
      ("h", 1, 5.0)).toDF("k", "x", "y")
    val rows = Eval.theilSen(df, "x", "y", Seq("k")).collect()
    assert(rows.length === 1) // "h" has a single point: no pairs, dropped
    val r = rows.head
    assert(r.getAs[String]("k") === "g")
    assert(r.getAs[Long]("n_points") === 3L && r.getAs[Long]("n_pairs") === 3L)
    assert(r.getAs[Double]("slope") === 4.5)
    assert(r.getAs[Double]("intercept") === -3.5)
  }

  test("theilSen: one outlier cannot move the median slope") {
    val pts = (1 to 5).map(i => ("g", i, i.toDouble)) :+ (("g", 6, 100.0))
    val r = Eval.theilSen(pts.toDF("k", "x", "y"), "x", "y", Seq("k")).head()
    // 10 clean pairs at slope 1, 5 outlier pairs -> median rank 8 of 15 = 1
    assert(r.getAs[Long]("n_pairs") === 15L)
    assert(r.getAs[Double]("slope") === 1.0)
  }

  test("conformalSplit: exact fit, k-th order-statistic width, test coverage") {
    // train lies exactly on y = 2x + 1 (decimal-exact sums -> m = 2, b = 1
    // bit-exactly), so calibration scores equal the injected deviations
    val train = (1 to 5).map(x => (x.toDouble, 2.0 * x + 1.0, "tr"))
    val calib = (1 to 9).map(i => (10.0, 21.0 + i, "ca")) // scores 1..9
    val tst = Seq((3.0, 7.0 + 5.0, "te"), (4.0, 9.0 + 15.0, "te"))
    val df = (train ++ calib ++ tst).toDF("x", "y", "split")
    val r = Eval.conformalSplit(df, "x", "y",
      col("split") === "tr", col("split") === "ca", col("split") === "te").head()
    assert(r.getAs[Long]("n_train") === 5L)
    assert(r.getAs[Long]("n_calib") === 9L)
    assert(r.getAs[Long]("n_test") === 2L)
    assert(r.getAs[Double]("slope") === 2.0)
    assert(r.getAs[Double]("intercept") === 1.0)
    // k = ceil((9+1) * 9/10) = 9 -> the 9th smallest score = 9
    assert(r.getAs[Double]("q") === 9.0)
    assert(r.getAs[Long]("covered") === 1L)
    assert(r.getAs[Double]("coverage") === 0.5)
  }

  test("conformalSplit: in-range ranks pick the order statistic; validation") {
    // n_cal = 4, cover 1/2 -> k = ceil(5/2) = 3 -> q = 3rd smallest
    val train = (1 to 5).map(x => (x.toDouble, 2.0 * x + 1.0, "tr"))
    val calib = (1 to 4).map(i => (10.0, 21.0 + i, "ca"))
    val df = (train ++ calib ++ Seq((1.0, 3.0, "te"))).toDF("x", "y", "split")
    val r = Eval.conformalSplit(df, "x", "y",
      col("split") === "tr", col("split") === "ca", col("split") === "te",
      coverNum = 1, coverDen = 2).head()
    assert(r.getAs[Double]("q") === 3.0)
    intercept[IllegalArgumentException] {
      Eval.conformalSplit(df, "x", "y", lit(true), lit(true), lit(true),
        coverNum = 3, coverDen = 2)
    }
  }

  test("conformalSplit: calibration too small -> unbounded interval, coverage 1") {
    // n_cal = 4 with 9/10 coverage: k = ceil(5 * 9/10) = 5 > 4 -> the
    // conformal interval is UNBOUNDED: q null, every test row covered
    val train = (1 to 5).map(x => (x.toDouble, 2.0 * x + 1.0, "tr"))
    val calib = (1 to 4).map(i => (10.0, 21.0 + i, "ca"))
    val tst = Seq((3.0, 1000.0, "te"), (4.0, -1000.0, "te"))
    val r = Eval.conformalSplit((train ++ calib ++ tst).toDF("x", "y", "split"),
      "x", "y", col("split") === "tr", col("split") === "ca",
      col("split") === "te").head()
    assert(r.isNullAt(r.fieldIndex("q")))
    assert(r.getAs[Long]("covered") === 2L)
    assert(r.getAs[Double]("coverage") === 1.0)
    // n_calib must still report the REAL calibration count even though
    // the rank filter matched nothing (regression: it used to be null)
    assert(r.getAs[Long]("n_calib") === 4L)
  }

  test("plan: aucExact's rank prefix sum is pid-keyed, not one global window") {
    val df = (1 to 400).map(i => (math.sin(i), i % 3 == 0)).toDF("s", "y")
    val q = Eval.aucExact(df, "s", col("y"))
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    val wins = nodes.collect { case w: WindowExec => w }
    val unkeyed = wins.filter(_.partitionSpec.isEmpty)
    // the CDF's offsets fold the collected per-partition totals, so the
    // corpus-sized rows go through the pid-KEYED local window only and no
    // unpartitioned window is planned (one would be a data-sized sort)
    assert(unkeyed.isEmpty,
      s"auc rank computation fell back to a global window: $unkeyed")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "expected a pid-keyed local cumsum window")
  }
}
