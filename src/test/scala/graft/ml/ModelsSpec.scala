package graft.ml

import graft.SparkSpec

/** ML smoke tests (SURVEY §5.4): metrics in valid ranges and better than a
  * trivial baseline on separable synthetic data — no golden numbers, since
  * cross-library RNG cannot match sklearn.
  */
class ModelsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val clfData = {
    // two well-separated Gaussian-ish blobs, deterministic
    val rows = (0 until 200).map { i =>
      val label = i % 2
      val base = if (label == 0) 0.0 else 5.0
      val f1 = base + math.sin(i * 13.7) * 0.5
      val f2 = base + math.cos(i * 7.3) * 0.5
      (f1, f2, label)
    }
    rows.toDF("f1", "f2", "label")
  }

  test("M9 validateTarget throws on a missing column") {
    intercept[IllegalArgumentException] {
      Models.validateTarget(clfData, "nope")
    }
  }

  test("M1/M2 assemble + split: 80/20-ish with seed 42") {
    val asm = Models.assemble(clfData, "label")
    assert(asm.columns.toSeq == Seq("features", "label"))
    val (train, test) = Models.split(asm)
    val (nTr, nTe) = (train.count(), test.count())
    assert(nTr + nTe == 200)
    assert(nTe > 20 && nTe < 80) // Bernoulli split tolerance
  }

  test("M3/M4/M5 + M7: classifiers beat the majority baseline on separable blobs") {
    val asm = Models.assemble(clfData, "label")
    val metrics = Models.trainModels(spark, asm, isClassification = true,
      rfTrees = 10, gbtIter = 5).collect()
    val acc = metrics.filter(_.getString(1) == "accuracy")
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(acc.keySet == Set("decision_tree", "random_forest", "gbt"))
    acc.values.foreach(a => assert(a > 0.9 && a <= 1.0)) // majority baseline = 0.5
    metrics.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("M3/M4/M5 + M8: regressors recover a linear signal (R2 > 0.9)") {
    val df = (0 until 300).map { i =>
      val x = i / 10.0
      (x, math.sin(i * 3.1) * 0.1, 3.0 * x + 1.0)
    }.toDF("x", "noise", "y")
    val asm = Models.assemble(df, "y")
    val metrics = Models.trainModels(spark, asm, isClassification = false,
      rfTrees = 10, gbtIter = 5).collect()
    val r2 = metrics.filter(_.getString(1) == "r2").map(_.getDouble(2))
    r2.foreach(v => assert(v > 0.9 && v <= 1.0))
    val mae = metrics.filter(_.getString(1) == "mae").map(_.getDouble(2))
    mae.foreach(v => assert(v >= 0.0))
  }

  test("M7/M8 one metrics object per frame equals the per-metric evaluators exactly") {
    import org.apache.spark.ml.classification.DecisionTreeClassifier
    import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
    import org.apache.spark.ml.regression.DecisionTreeRegressor
    // overlapping classes and a noisy target: no metric sits at its bound
    val noisy = (0 until 300).map { i =>
      (math.sin(i * 1.3), math.cos(i * 0.7), (i * 7) % 3, i / 30.0 + math.sin(i * 5.1))
    }.toDF("f1", "f2", "label", "y")
    val (ctrain, ctest) = Models.split(Models.assemble(noisy.drop("y"), "label"))
    val clfPreds = new DecisionTreeClassifier().setMaxDepth(2).fit(ctrain).transform(ctest)
    val clf = Models.evaluateClassifier(clfPreds)
    val clfNames = Seq("accuracy", "weightedPrecision", "weightedRecall", "weightedFMeasure")
    assert(clf.keySet == clfNames.toSet)
    clfNames.foreach { m =>
      assert(clf(m) == new MulticlassClassificationEvaluator().setMetricName(m).evaluate(clfPreds), m)
    }
    assert(clf("accuracy") < 1.0)
    val (rtrain, rtest) = Models.split(Models.assemble(noisy.drop("label"), "y"))
    val regPreds = new DecisionTreeRegressor().setMaxDepth(2).fit(rtrain).transform(rtest)
    val reg = Models.evaluateRegressor(regPreds)
    assert(reg.keySet == Set("mae", "mse", "r2"))
    reg.foreach { case (m, v) =>
      assert(v == new RegressionEvaluator().setMetricName(m).evaluate(regPreds), m)
    }
    assert(reg("r2") < 1.0)
  }

  test("M1 assembleFromArray builds features from an array column") {
    val df = Seq((Array(1.0f, 2.0f), 1), (Array(3.0f, 4.0f), 0)).toDF("embedding", "label")
    val asm = Models.assembleFromArray(df, "embedding", "label")
    assert(asm.columns.toSeq == Seq("features", "label"))
    assert(asm.head().getAs[org.apache.spark.ml.linalg.Vector](0).size == 2)
  }

  test("M6 grid-search CV returns valid held-out metrics") {
    val asm = Models.assemble(clfData.limit(120), "label")
    val out = Models.gridSearchRF(spark, asm, isClassification = true, numFolds = 2).collect()
    val acc = out.filter(_.getString(1) == "accuracy").head.getDouble(2)
    assert(acc > 0.8 && acc <= 1.0)
  }

  test("M6 GBT grid arm: CV-selected GBT beats the default-params GBT on held-out data") {
    // noise-free nonlinear signal: boosting improves monotonically with
    // iterations here, so the grid (which contains a longer run than the
    // 20-iteration default) must win on the held-out split
    val df = (0 until 300).map { i =>
      val x = i / 5.0
      (x, math.sin(x / 2.0) * 10.0 + 0.5 * x)
    }.toDF("x", "y")
    val asm = Models.assemble(df, "y")
    val (train, test) = Models.split(asm)
    val default = new org.apache.spark.ml.regression.GBTRegressor().fit(train)
    val defaultR2 = Models.evaluateRegressor(default.transform(test))("r2")
    val out = Models.gridSearchGBT(spark, asm, isClassification = false,
      numFolds = 2, stepSizes = Array(0.1, 0.3), maxIters = Array(20, 80)).collect()
    assert(out.map(_.getString(0)).toSet == Set("gbt_cv"))
    assert(out.map(_.getString(1)).toSet == Set("mae", "mse", "r2"))
    val cvR2 = out.filter(_.getString(1) == "r2").head.getDouble(2)
    assert(cvR2 > defaultR2,
      s"CV-selected GBT (r2=$cvR2) should beat default GBT (r2=$defaultR2)")
    assert(cvR2 > 0.9 && cvR2 <= 1.0)
  }

  test("kmeansAssign partitions embeddings; more clusters never cost more") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (assign4, cost4) = Models.kmeansAssign(emb, "vec_id", "embedding", 4)
    val (_, cost2) = Models.kmeansAssign(emb, "vec_id", "embedding", 2)
    val clusters = assign4.select("cluster").distinct().count()
    assert(clusters == 4, s"expected 4 clusters, got $clusters")
    assert(assign4.count() == emb.count())
    assert(cost4 < cost2, s"k=4 cost $cost4 should beat k=2 cost $cost2")
    // deterministic under the fixed seed
    val (again, _) = Models.kmeansAssign(emb, "vec_id", "embedding", 4)
    assert(assign4.orderBy("id").collect().toSeq == again.orderBy("id").collect().toSeq)
  }
}
