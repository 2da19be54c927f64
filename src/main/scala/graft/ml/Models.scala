package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.{DecisionTreeRegressor, GBTRegressor, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ML training & evaluation (SURVEY §2.6, M1–M9).
  *
  * Reference: `Data_integration and harmonization.py:55-120` —
  * `train_models` fits Decision Tree / Random Forest / XGBoost on an 80/20
  * split (`random_state=42`), optionally grid-searched with
  * `GridSearchCV(cv=3)` (RF: n_estimators×max_depth, XGB:
  * learning_rate×n_estimators, DIH.py:73-81), and `evaluate_model` reports
  * accuracy + weighted precision/recall/F1 (classification) or
  * MAE/MSE/R² (regression).
  *
  * Spark mapping: XGBoost is not on the offline classpath, so the
  * gradient-boosted-tree family is covered by `GBTClassifier`/`GBTRegressor`
  * (same model family; GBTClassifier is binary-only, multiclass wraps in
  * `OneVsRest`). `randomSplit` is Bernoulli-per-row, so proportions are
  * approximate — cross-library RNG cannot hash-match sklearn, which is why
  * ML is excluded from the SQL oracle (SURVEY §5.4): tests assert metric
  * ranges and better-than-baseline, not golden numbers.
  */
object Models {

  /** M9 — target-column validation (`DIH.py:56-57`). */
  def validateTarget(df: DataFrame, target: String): Unit =
    require(df.columns.contains(target),
      s"Target column '$target' not found in the dataset.")

  /** M1 — feature/target split (`DIH.py:59-60`): assemble every numeric
    * column except the target into `features`, cast target to `label`.
    */
  def assemble(df: DataFrame, target: String): DataFrame = {
    validateTarget(df, target)
    val featCols = df.schema.fields.collect {
      case f if f.name != target && f.dataType.isInstanceOf[NumericType] => f.name
    }
    require(featCols.nonEmpty, "no numeric feature columns")
    new VectorAssembler().setInputCols(featCols).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(df)
      .withColumn("label", col(target).cast(DoubleType))
      .select("features", "label")
  }

  /** M1 variant for embedding tables: features from an `array<float>`
    * column via `array_to_vector` (no per-row UDF; vectorized).
    */
  def assembleFromArray(df: DataFrame, arrayCol: String, target: String): DataFrame = {
    validateTarget(df, target)
    df.select(array_to_vector(col(arrayCol)).as("features"),
      col(target).cast(DoubleType).as("label"))
  }

  /** M2 — 80/20 train/test split, seed 42 (`DIH.py:62`). */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed = 42)
    (train, test)
  }

  /** M7 — classification metrics (`DIH.py:108-114`): accuracy + weighted
    * precision/recall/F1 on the prediction frame. One metrics object (one
    * pass over the predictions) serves all four; each value is the field the
    * evaluator's `evaluate` reads for that metric name.
    */
  def evaluateClassifier(predictions: DataFrame): Map[String, Double] = {
    val m = new MulticlassClassificationEvaluator().getMetrics(predictions)
    Map("accuracy" -> m.accuracy, "weightedPrecision" -> m.weightedPrecision,
      "weightedRecall" -> m.weightedRecall, "weightedFMeasure" -> m.weightedFMeasure(1.0))
  }

  /** Confusion matrix from a predictions frame: one grouped count over
    * (label, prediction) — map-side combined, classes² output rows. The
    * per-class drill-down companion to [[evaluateClassifier]]'s scalar
    * weighted metrics.
    */
  def confusionMatrix(predictions: DataFrame): DataFrame =
    predictions.groupBy(col("label"), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "prediction")

  /** M8 — regression metrics (`DIH.py:115-120`): MAE, MSE, R², from one
    * metrics object (one pass over the predictions).
    */
  def evaluateRegressor(predictions: DataFrame): Map[String, Double] = {
    val m = new RegressionEvaluator().getMetrics(predictions)
    Map("mae" -> m.meanAbsoluteError, "mse" -> m.meanSquaredError, "r2" -> m.r2)
  }

  /** The reference's three-model zoo (`DIH.py:65-67`), classification
    * flavor. `numTrees`/`maxIter` are the sklearn/xgboost defaults scaled
    * down via parameters where a caller needs a faster loop.
    */
  def classifiers(numClasses: Int, rfTrees: Int = 100, gbtIter: Int = 20): Seq[(String, PipelineStage)] = {
    val gbt: PipelineStage =
      if (numClasses <= 2) new GBTClassifier().setMaxIter(gbtIter)
      else new OneVsRest().setClassifier(new GBTClassifier().setMaxIter(gbtIter))
    Seq(
      "decision_tree" -> new DecisionTreeClassifier(),
      "random_forest" -> new RandomForestClassifier().setNumTrees(rfTrees),
      "gbt" -> gbt)
  }

  def regressors(rfTrees: Int = 100, gbtIter: Int = 20): Seq[(String, PipelineStage)] = Seq(
    "decision_tree" -> new DecisionTreeRegressor(),
    "random_forest" -> new RandomForestRegressor().setNumTrees(rfTrees),
    "gbt" -> new GBTRegressor().setMaxIter(gbtIter))

  /** M3/M4/M5 + M7/M8 — `train_models` (`DIH.py:55-104`) without tuning:
    * fit each model on the 80% split, evaluate on the 20% split, return a
    * tidy (model, metric, value) frame.
    */
  def trainModels(spark: SparkSession, assembled: DataFrame,
      isClassification: Boolean, rfTrees: Int = 100, gbtIter: Int = 20,
      include: Set[String] = Set("decision_tree", "random_forest", "gbt")): DataFrame = {
    val (train, test) = split(assembled)
    train.cache(); test.cache()
    // the class count only shapes the GBT arm (binary or one-vs-rest):
    // without that arm its countDistinct query is not run
    val numClasses =
      if (isClassification && include("gbt"))
        train.select(countDistinct(col("label"))).head().getLong(0).toInt
      else 2
    val models: Seq[(String, PipelineStage)] =
      (if (isClassification) classifiers(numClasses, rfTrees, gbtIter)
       else regressors(rfTrees, gbtIter)).filter(m => include(m._1))
    val rows = models.flatMap { case (name, stage) =>
      val fitted = new Pipeline().setStages(Array(stage)).fit(train)
      val preds = fitted.transform(test)
      val metrics = if (isClassification) evaluateClassifier(preds) else evaluateRegressor(preds)
      metrics.toSeq.sortBy(_._1).map { case (m, v) => (name, m, v) }
    }
    train.unpersist(); test.unpersist()
    import spark.implicits._
    // a handful of rows: sorted here, not by a range-sampled orderBy
    rows.sortBy(r => (r._1, r._2)).toDF("model", "metric", "value")
  }

  /** M6, the random-forest arm (`DIH.py:73-76`): 3-fold CrossValidator
    * over the reference's RF grid (numTrees ∈ {50,100,200} × maxDepth ∈
    * {unlimited→30,10,20}), best model then evaluated on the held-out TEST
    * split — exactly the reference's protocol (best_estimator_ predicts
    * X_test, DIH.py:86-89), not the CV score. The gradient-boosting arm is
    * [[gridSearchGBT]].
    */
  def gridSearchRF(spark: SparkSession, assembled: DataFrame,
      isClassification: Boolean, numFolds: Int = 3): DataFrame = {
    val (train, test) = split(assembled)
    val (estimator, grid, evaluator) =
      if (isClassification) {
        val rf = new RandomForestClassifier()
        (rf,
          new ParamGridBuilder()
            .addGrid(rf.numTrees, Array(50, 100, 200))
            .addGrid(rf.maxDepth, Array(30, 10, 20))
            .build(),
          new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      } else {
        val rf = new RandomForestRegressor()
        (rf,
          new ParamGridBuilder()
            .addGrid(rf.numTrees, Array(50, 100, 200))
            .addGrid(rf.maxDepth, Array(30, 10, 20))
            .build(),
          new RegressionEvaluator().setMetricName("r2"))
      }
    cvSelectAndScore(spark, train, test, estimator, grid, evaluator,
      isClassification, numFolds, "random_forest_cv")
  }

  /** M6, the gradient-boosting arm — the reference also grids XGBoost
    * (`DIH.py:77-81`: learning_rate ∈ {0.01,0.1} × n_estimators ∈
    * {50,100,200}); the Spark GBT analogue grids stepSize × maxIter with
    * the same 3-fold CV, best model evaluated on the held-out TEST split
    * (the `best_estimator_` protocol, `DIH.py:86-89`). Classification is
    * binary (GBTClassifier's contract; the reference's multiclass XGBoost
    * path has no OneVsRest-gridable Spark analogue — ParamGridBuilder
    * cannot reach through OneVsRest to the inner classifier's params).
    * `stepSizes`/`maxIters` default to the reference grid; callers on a
    * tight loop (tests) pass a smaller one — boosting is sequential, so
    * maxIter dominates wall-clock.
    */
  def gridSearchGBT(spark: SparkSession, assembled: DataFrame,
      isClassification: Boolean, numFolds: Int = 3,
      stepSizes: Array[Double] = Array(0.01, 0.1),
      maxIters: Array[Int] = Array(50, 100, 200)): DataFrame = {
    val (train, test) = split(assembled)
    val (estimator, grid, evaluator) =
      if (isClassification) {
        val gbt = new GBTClassifier()
        (gbt: PipelineStage,
          new ParamGridBuilder()
            .addGrid(gbt.stepSize, stepSizes)
            .addGrid(gbt.maxIter, maxIters)
            .build(),
          new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      } else {
        val gbt = new GBTRegressor()
        (gbt: PipelineStage,
          new ParamGridBuilder()
            .addGrid(gbt.stepSize, stepSizes)
            .addGrid(gbt.maxIter, maxIters)
            .build(),
          new RegressionEvaluator().setMetricName("r2"))
      }
    cvSelectAndScore(spark, train, test, estimator, grid, evaluator,
      isClassification, numFolds, "gbt_cv")
  }

  /** Shared CV tail for the M6 arms: k-fold select over the grid on the
    * TRAIN split, refit-on-full-train (CrossValidator's bestModel), score
    * on the held-out test split.
    */
  private def cvSelectAndScore(spark: SparkSession, train: DataFrame,
      test: DataFrame, estimator: PipelineStage,
      grid: Array[org.apache.spark.ml.param.ParamMap],
      evaluator: AnyRef, isClassification: Boolean, numFolds: Int,
      modelName: String): DataFrame = {
    val cv = new CrossValidator()
      .setEstimator(estimator.asInstanceOf[org.apache.spark.ml.Estimator[_]])
      .setEstimatorParamMaps(grid)
      .setEvaluator(evaluator.asInstanceOf[org.apache.spark.ml.evaluation.Evaluator])
      .setNumFolds(numFolds)
      .setParallelism(4)
      .setSeed(42)
    val model = cv.fit(train)
    val preds = model.transform(test)
    val metrics = if (isClassification) evaluateClassifier(preds) else evaluateRegressor(preds)
    import spark.implicits._
    metrics.toSeq.sortBy(_._1).map { case (m, v) => (modelName, m, v) }
      .toDF("model", "metric", "value").orderBy("metric")
  }

  /** Unsupervised tier: k-means over an array<float> embedding column.
    * Seeded (deterministic within Spark; not oracle-gated — k-means||
    * init RNG does not transfer across libraries, SURVEY §5.4). Returns
    * (id, cluster) plus the trained model's training cost for quality
    * assertions.
    */
  def kmeansAssign(df: DataFrame, idCol: String, arrayCol: String,
      k: Int, seed: Long = 42L): (DataFrame, Double) = {
    val feat = df.select(col(idCol).as("id"),
      array_to_vector(col(arrayCol).cast(ArrayType(DoubleType))).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(20)
    val model = km.fit(feat)
    val cost = model.summary.trainingCost
    (model.transform(feat).select(col("id"), col("prediction").as("cluster")), cost)
  }
}
