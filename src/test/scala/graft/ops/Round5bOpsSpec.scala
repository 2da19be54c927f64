package graft.ops

import graft.SparkSpec
import graft.ext.TextAnalysis
import org.apache.spark.sql.functions._

/** Goldens for the round-5 second-wave operators: imputation (C7),
  * one-hot / min-max / robust scaling (P5-P7), MAD outlier flags, and
  * the SCD2 history builder.
  */
class Round5bOpsSpec extends SparkSpec {
  import spark.implicits._

  test("C7 imputeMeanBy fills nulls with the group mean; all-null groups stay null") {
    val df = Seq(
      ("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None), ("b", None)).toDF("k", "v")
    val out = Clean.imputeMeanBy(df, "v", Seq("k")).orderBy("k", "v")
    assert(doubles(out, "v") == Seq(Some(1.0), Some(2.0), Some(3.0), None, None))
  }

  test("C7b imputeMedian fills with the exact column median (linear interpolation)") {
    val df = Seq(Some(1.0), Some(2.0), Some(10.0), Some(20.0), None).toDF("v")
    // median of [1,2,10,20] = 2 + 0.5*(10-2) = 6
    val out = Clean.imputeMedian(df, Seq("v"))
    assert(doubles(out.orderBy("v"), "v").flatten.contains(6.0))
    assert(out.where(col("v").isNull).count() == 0)
  }

  test("C7b imputeMedian leaves an all-null column untouched") {
    val df = Seq[Option[Double]](None, None).toDF("v")
    assert(Clean.imputeMedian(df, Seq("v")).where(col("v").isNull).count() == 2)
  }

  test("P5 oneHot emits a 0/1 column per value, sanitized names, null rows all-zero") {
    val df = Seq((1, Some("x y")), (2, Some("z")), (3, None)).toDF("id", "c")
    val out = Preprocess.oneHot(df, "c").orderBy("id")
    assert(out.columns.toSeq == Seq("id", "c_x_y", "c_z"))
    assert(out.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 0L), (0L, 1L), (0L, 0L)))
  }

  test("P6 minMaxScale maps to [0,1]; constant columns to 0; nulls stay null") {
    val df = Seq((Some(0.0), Some(5.0)), (Some(5.0), Some(5.0)),
      (Some(10.0), Some(5.0)), (None, None)).toDF("a", "b")
    val out = Preprocess.minMaxScale(df, Seq("a", "b")).orderBy("a")
    assert(doubles(out, "a") == Seq(None, Some(0.0), Some(0.5), Some(1.0)))
    assert(doubles(out, "b") == Seq(None, Some(0.0), Some(0.0), Some(0.0)))
  }

  test("P7 robustScale centers on the median and scales by IQR") {
    // values 1..5: q1=2, med=3, q3=4, iqr=2 -> scaled = (v-3)/2
    val df = (1 to 5).map(_.toDouble).toDF("v")
    val out = Preprocess.robustScale(df, Seq("v")).orderBy("v")
    assert(doubles(out, "v") == Seq(Some(-1.0), Some(-0.5), Some(0.0), Some(0.5), Some(1.0)))
  }

  test("MAD outlier flags: a gross outlier flags, the bulk does not; zero-MAD never flags") {
    val df = Seq(10.0, 11.0, 12.0, 11.0, 10.0, 12.0, 11.0, 1000.0).toDF("v")
      .withColumn("c", lit(5.0))
    val out = Preprocess.outlierFlagsMad(df, Seq("v", "c"))
    val flags = out.orderBy("v").select("v_mad_outlier").collect().map(_.getBoolean(0)).toSeq
    assert(flags == Seq(false, false, false, false, false, false, false, true))
    assert(out.where(col("c_mad_outlier")).count() == 0)
  }

  test("SCD2 collapses consecutive repeats and emits validity intervals") {
    val log = Seq(
      (1L, "A", 10L, 1L), (1L, "A", 20L, 2L), (1L, "B", 30L, 3L), (1L, "A", 40L, 4L),
      (2L, "X", 10L, 5L)).toDF("k", "attr", "t", "id")
      .withColumn("t", timestamp_seconds(col("t")))
    val out = Merge.scd2(log, Seq("k"), "attr", "t", Seq("id"))
      .select(col("k"), col("attr"), unix_timestamp(col("valid_from")).as("vf"),
        unix_timestamp(col("valid_to")).as("vt"), col("is_current"))
      .orderBy("k", "vf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSeq
    assert(out == Seq(
      (1L, "A", 10L, 30L, false), // the t=20 repeat collapsed
      (1L, "B", 30L, 40L, false),
      (1L, "A", 40L, -1L, true),
      (2L, "X", 10L, -1L, true)))
  }

  test("SCD2 treats value<->null flips as real transitions (null-safe compare)") {
    val log = Seq(
      (1L, Option("A"), 10L), (1L, Option.empty[String], 20L), (1L, Option("A"), 30L))
      .toDF("k", "attr", "t").withColumn("t", timestamp_seconds(col("t")))
    val out = Merge.scd2(log, Seq("k"), "attr", "t")
    assert(out.count() == 3)
  }

  test("trimmedMean drops the tails and averages the band; all-null column yields null") {
    // 1..10 with p=[0.05,0.95]: bounds 1.45/9.55 -> keeps 2..9, mean 5.5
    val df = (1 to 10).map(i => (i.toDouble, Option.empty[Double])).toDF("v", "z")
    val out = Eda.trimmedMean(df, Seq("v", "z"), 0.05, 0.95).collect()
    val byName = out.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byName("v") == Some(5.5))
    assert(byName("z") == None)
  }

  test("sentenceStats counts non-blank sentence segments and mean tokens per sentence") {
    val df = Seq((1L, "Hello world. Two words! End?"), (2L, ""), (3L, "no punct here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.sentenceStats(df, "text").orderBy("doc_id")
      .select("n_sentences", "mean_sent_tokens").collect()
    assert(out(0).getLong(0) == 3L && out(0).getDouble(1) == 1.666667)
    assert(out(1).getLong(0) == 0L && out(1).getDouble(1) == 0.0)
    assert(out(2).getLong(0) == 1L && out(2).getDouble(1) == 3.0)
  }

  test("P1b zscoreBy standardizes within each group; constant groups map to 0") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0), ("b", 7.0))
      .toDF("g", "v")
    val out = Preprocess.zscoreBy(df, Seq("v"), Seq("g")).orderBy("g", "v")
    val vs = doubles(out, "v").flatten
    // group a: mean 2, std_pop sqrt(2/3); group b constant -> 0
    assert(approx(vs(1), 0.0) && approx(vs(0), -vs(2)))
    assert(vs(3) == 0.0 && vs(4) == 0.0)
  }

  test("asofTolerance nulls matches older than the tolerance, keeps fresh ones") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val probe = Seq((1L, ts(30), "p1"), (1L, ts(59), "p2"), (2L, ts(10), "p3"))
      .toDF("k", "t", "tag")
    val ref = Seq((1L, ts(25), 100.0), (2L, ts(0), 50.0)).toDF("k", "t", "v")
    val out = graft.ops.Joins.asofTolerance(probe, ref, Seq("k"), "t", Seq("v"),
      toleranceSeconds = 600L).orderBy("tag")
      .select("asof_v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // p1: ref@25 within 10 min ✓; p2: ref@25 is 34 min old ✗; p3: ref@0 is 10 min old (inclusive) ✓
    assert(out.toSeq == Seq(Some(100.0), None, Some(50.0)))
  }

  test("suggestColumnMapping proposes nearest names within maxDist, independent per column") {
    val l = Seq((1, "x")).toDF("Cust Key", "acct_bal")
    val r = Seq((1, "x", 2.0)).toDF("cust_key", "acctbal", "unrelated_thing")
    val m = Harmonize.suggestColumnMapping(l, r, maxDist = 3)
    assert(m == Seq(("Cust Key", "cust_key", 0), ("acct_bal", "acctbal", 1)))
  }

  test("splitByHash partitions exactly: disjoint, exhaustive, repartition-stable") {
    val df = (1L to 500L).toDF("id")
    val (train, test) = Sampling.splitByHash(df, "id", trainPerMille = 800)
    val (nTrain, nTest) = (train.count(), test.count())
    assert(nTrain + nTest == 500L)
    assert(train.join(test, Seq("id"), "inner").count() == 0)
    assert(nTrain > 300 && nTrain < 490) // ~80%, hash-approximate
    // membership is a pure function of the id: repartitioning changes nothing
    val (train2, _) = Sampling.splitByHash(df.repartition(7), "id", 800)
    assert(train2.select("id").except(train.select("id")).count() == 0)
  }

  test("splitExact gives exactly floor(0.8n) train rows, disjoint, repartition-stable") {
    // 1237 rows: floor(1237*0.8) = 989 — a non-round count catches any
    // Bernoulli or per-mille-hash approximation sneaking back in
    val df = (1L to 1237L).toDF("id")
    val train = graft.Caches.scoped {
      val (train, test) = Sampling.splitExact(df, "id", trainPerMille = 800)
      assert(train.count() == 989L)
      assert(test.count() == 248L)
      assert(train.join(test, Seq("id"), "inner").count() == 0)
      train
    }
    // membership is a pure function of the data: repartitioning changes nothing
    graft.Caches.scoped {
      val (train2, test2) = Sampling.splitExact(df.repartition(7), "id", 800)
      assert(train2.select("id").except(train.select("id")).count() == 0)
      assert(test2.count() == 248L)
    }
  }

  test("C7 imputeMeanBy keeps and fills null-KEY rows (null-safe join)") {
    val df = Seq((Some("a"), Some(1.0)), (Some("a"), None),
      (Option.empty[String], Some(10.0)), (Option.empty[String], None)).toDF("k", "v")
    val out = Clean.imputeMeanBy(df, "v", Seq("k"))
    assert(out.count() == 4) // no rows dropped
    val nullKey = out.where(col("k").isNull).orderBy("v")
    assert(doubles(nullKey, "v") == Seq(Some(10.0), Some(10.0)))
  }

  test("P1b zscoreBy keeps null-key rows and standardizes them as a group") {
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0),
      (Option.empty[String], 5.0), (Option.empty[String], 7.0)).toDF("k", "v")
    val out = Preprocess.zscoreBy(df, Seq("v"), Seq("k"))
    assert(out.count() == 4)
    val zs = doubles(out.where(col("k").isNull).orderBy("v"), "v").flatten
    assert(approx(zs(0), -1.0) && approx(zs(1), 1.0))
  }

  test("P5 oneHot disambiguates colliding sanitized names instead of overwriting") {
    val df = Seq((1, "a b"), (2, "a.b"), (3, "c")).toDF("id", "x")
    val out = Preprocess.oneHot(df, "x").orderBy("id")
    assert(out.columns.toSeq == Seq("id", "x_a_b", "x_a_b_1", "x_c"))
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L))) // "a b" < "a.b" (space < dot)
  }

  test("asofForward never matches a null-timestamp ref row") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val probe = Seq((1L, ts(50), "late")).toDF("k", "t", "tag")
    val ref = Seq((1L, Option.empty[java.sql.Timestamp], 42.0),
      (1L, Option(ts(10)), 7.0)).toDF("k", "t", "v")
    val out = graft.ops.Joins.asofForward(probe, ref, Seq("k"), "t", Seq("v"))
    // probe at 10:50 has no ref at-or-after it; the null-ts ref must not leak
    assert(out.select("asof_v").head().isNullAt(0))
  }

  test("splitByHash routes null ids to exactly one side (exhaustive)") {
    val df = Seq(Some(1L), Some(2L), None, None).toDF("id")
    val (train, test) = Sampling.splitByHash(df, "id", 800)
    assert(train.count() + test.count() == 4)
  }

  test("P5 oneHot reserves FINAL names: a literal value equal to a generated suffix") {
    val df = Seq((1, "a b"), (2, "a.b"), (3, "a_b_1")).toDF("id", "x")
    val out = Preprocess.oneHot(df, "x").orderBy("id")
    // "a b"->x_a_b, "a.b"->x_a_b_1? no: a_b taken -> a_b_1... but literal
    // "a_b_1" sorts first among collisions? sorted values: "a b","a.b","a_b_1"
    // -> a_b, a_b_1, then literal a_b_1 collides -> a_b_1_1
    assert(out.columns.toSeq == Seq("id", "x_a_b", "x_a_b_1", "x_a_b_1_1"))
    assert(out.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L)))
  }

  test("weightedQuantilesBy retains null-key groups (null-safe stats join)") {
    val df = Seq((Some("a"), 1.0, 1.0), (Some("a"), 2.0, 1.0),
      (Option.empty[String], 5.0, 1.0), (Option.empty[String], 6.0, 3.0)).toDF("k", "v", "w")
    val out = Clean.weightedQuantilesBy(df, "v", "w", Seq("k"), Seq(0.5))
    assert(out.count() == 2)
    val nullRow = out.where(col("k").isNull).head()
    assert(nullRow.getDouble(1) == 6.0) // cum(5)=1 < 2, cum(6)=4 >= 2
  }

  test("summaryStatsBy keeps a null-key group with ITS quantiles") {
    val df = Seq((Some("a"), 1.0), (Option.empty[String], 10.0),
      (Option.empty[String], 20.0)).toDF("k", "v")
    val out = Clean.summaryStatsBy(df, "v", Seq("k")).where(col("k").isNull).head()
    assert(out.getAs[Double]("p50") == 15.0)
  }

  test("weightedQuantilesBy picks the smallest value whose cum weight reaches p*W") {
    // values 1,2,3 with weights 1,1,8: W=10; p=0.5 -> cum(3)=10 >= 5 first at v=3?
    // cum(1)=1, cum(2)=2, cum(3)=10 -> wq50 = 3; p=0.1 -> cum(1)=1 >= 1 -> 1
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 8.0)).toDF("v", "w")
    val out = Clean.weightedQuantilesBy(df, "v", "w", Nil, Seq(0.1, 0.5)).head()
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 3.0)
  }

  test("plan: q_decontaminate broadcasts the benchmark gram set as a left-semi join") {
    val q = graft.SparkEntry.queries("q_decontaminate")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast left-semi join:\n$plan")
  }

  test("plan: q_stats_gini's CDF never plans a single-partition window over values") {
    val q = graft.SparkEntry.queries("q_stats_gini")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    // every Window node ORDERED BY the value column must be partitioned by
    // the range partition id (the local cumsum)
    val valWindows = plan.split("\n").filter(l => l.contains("Window") && l.contains("__val"))
    assert(valWindows.nonEmpty, s"expected a window over __val:\n$plan")
    assert(valWindows.forall(_.contains(Plans.PidCol)),
      s"found a value-ordered window without pid partitioning:\n${valWindows.mkString("\n")}")
  }

  test("plan: q_tpch_q9 broadcasts part and nation, shuffles only the big joins") {
    val q = graft.SparkEntry.queries("q_tpch_q9")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$plan")
  }

  test("plan: q_tpch_q17 broadcasts the filtered part list and the per-part averages") {
    val q = graft.SparkEntry.queries("q_tpch_q17")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    // the brand predicate must reach the part scan
    val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("part") && s.contains("PushedFilters")
      && s.contains("p_brand")), "p_brand predicate not pushed to the part scan")
  }

  test("plan: q_window_cumdistinct never plans a single-partition exchange") {
    val q = graft.SparkEntry.queries("q_window_cumdistinct")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    // both windows are keyed; only the final presentation sort may range-
    // partition, never Exchange SinglePartition before a Window
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"unexpected single-partition exchange:\n$plan")
  }
}
