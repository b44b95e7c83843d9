package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{GBTClassifier, LinearSVC, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{Evaluator, MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{GBTRegressor, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidatorModel, FoldParallelCrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M3-M9 — the AutoML workflow (SURVEY.md §2.6): grid-search CV over
  * a model-zoo registry, refit-on-all, persistence, evaluation.
  *
  * Faithful protocol mapping of the reference
  * (auto_machine_learning.py:11-57):
  *  - model zoo ≈ `get_model_parameters` registry: XGBoost → MLlib
  *    GBT (same algorithm family; xgboost4j isn't resolvable offline),
  *    RF / SVM present but default-off exactly like the reference's
  *    commented-out zoo (auto_machine_learning.py:63-76);
  *  - grid 18 combos × 5 folds, argmax CV metric, winner refit on the
  *    full train set — `FoldParallelCrossValidator` (Spark's
  *    `CrossValidator` with a concurrent `fit`) does the refit;
  *  - scaler fit on train only, reused at test time — it lives inside
  *    the Pipeline so `CrossValidatorModel.transform(test)` replays
  *    train-time statistics (data_analysis.py:160 semantics);
  *  - equivalence is protocol + metric-level, not bit-level
  *    (SURVEY.md §8.7): fold assignment and tree internals differ.
  *
  * Scale: the reference fits its 90 fold fits one by one. Spark's own
  * `CrossValidator` walks the folds in turn and fans out only the
  * combos inside one fold, so a 1-combo grid ran fully serial. Here all
  * `numFolds × |grid|` fold fits share one pool of `parallelism`
  * threads, and a 1-combo grid's refit runs alongside them (its winner
  * is known up front). The cost is memory: every fold with a fit in
  * flight keeps its (train, validation) pair cached — up to
  * `numFolds` copies of the input instead of one — each released when
  * that fold's last fit ends (SURVEY.md §3 entry 2).
  */
object AutoML {

  sealed trait Mode { def label: String }
  case object Regression extends Mode { val label = "regression" }
  case object Classification extends Mode { val label = "classification" }

  final case class ZooEntry(name: String, estimator: PipelineStage,
                            grid: Array[ParamMap], enabled: Boolean)

  /** Reference grids: n_estimators {10,50,100} → maxIter,
    * max_depth {3,5,10} → maxDepth, learning_rate {0.1,0.01} →
    * stepSize (auto_machine_learning.py:77-84). `quick` shrinks to a
    * 2-combo grid for interactive/test runs. */
  def modelZoo(mode: Mode, quick: Boolean = false): Seq[ZooEntry] = {
    def gbtGrid(iters: Seq[Int], depths: Seq[Int], steps: Seq[Double],
                est: PipelineStage) = est match {
      case g: GBTRegressor =>
        new ParamGridBuilder().addGrid(g.maxIter, iters)
          .addGrid(g.maxDepth, depths).addGrid(g.stepSize, steps).build()
      case g: GBTClassifier =>
        new ParamGridBuilder().addGrid(g.maxIter, iters)
          .addGrid(g.maxDepth, depths).addGrid(g.stepSize, steps).build()
      case _ => Array(ParamMap.empty)
    }
    val (iters, depths, steps) =
      if (quick) (Seq(5), Seq(3), Seq(0.1))
      else (Seq(10, 50, 100), Seq(3, 5, 10), Seq(0.1, 0.01))
    // quick mode also trains stochastically (Friedman-style 0.5 row
    // subsampling, seeded) with coarser split histograms — standard
    // GBT hyperparameters, ~2× per-fit cost; the full grid keeps the
    // reference-shaped defaults.
    val (subsample, bins) = if (quick) (0.5, 16) else (1.0, 32)
    mode match {
      case Regression =>
        val gbt = new GBTRegressor().setFeaturesCol("features_scaled")
          .setLabelCol("label").setSeed(42)
          .setSubsamplingRate(subsample).setMaxBins(bins)
        val rf = new RandomForestRegressor().setFeaturesCol("features_scaled")
          .setLabelCol("label").setSeed(42)
        Seq(
          ZooEntry("gbt", gbt, gbtGrid(iters, depths, steps, gbt), enabled = true),
          ZooEntry("rf", rf,
            new ParamGridBuilder().addGrid(rf.numTrees, Seq(10, 50))
              .addGrid(rf.maxDepth, Seq(3, 5)).build(),
            enabled = false)) // default-off, like the reference's zoo
      case Classification =>
        val gbt = new GBTClassifier().setFeaturesCol("features_scaled")
          .setLabelCol("label").setSeed(42)
          .setSubsamplingRate(subsample).setMaxBins(bins)
        val rf = new RandomForestClassifier().setFeaturesCol("features_scaled")
          .setLabelCol("label").setSeed(42)
        val svc = new LinearSVC().setFeaturesCol("features_scaled")
          .setLabelCol("label")
        Seq(
          ZooEntry("gbt", gbt, gbtGrid(iters, depths, steps, gbt), enabled = true),
          ZooEntry("rf", rf,
            new ParamGridBuilder().addGrid(rf.numTrees, Seq(10, 50))
              .addGrid(rf.maxDepth, Seq(3, 5)).build(),
            enabled = false),
          ZooEntry("svc", svc,
            new ParamGridBuilder().addGrid(svc.regParam, Seq(0.1, 1.0)).build(),
            enabled = false)) // linear kernel only; RBF has no MLlib eq.
    }
  }

  def evaluator(mode: Mode): Evaluator = mode match {
    // GridSearchCV scoring neg-MSE ≡ argmin RMSE (rankings agree)
    case Regression => new RegressionEvaluator()
      .setLabelCol("label").setMetricName("rmse")
    case Classification => new MulticlassClassificationEvaluator()
      .setLabelCol("label").setMetricName("f1")
  }

  final case class Trained(zooName: String, model: CrossValidatorModel,
                           cvMetric: Double, featureNames: Seq[String])

  /** M3 — per-zoo-entry CV, pick the best family by CV metric
    * (argmax for f1, argmin for rmse), exactly the reference's
    * best_score_ selection loop (auto_machine_learning.py:29-44). */
  def train(df: DataFrame, labelCol: String, featureCols: Seq[String],
            mode: Mode, numFolds: Int = 5, parallelism: Int = 8,
            quick: Boolean = false): Trained = {
    // Training data re-reads its source for every fold-fit unless
    // pinned, and a single-file parquet scan arrives as ONE partition
    // — tree-stats aggregation would then use one core however many
    // the cluster has. Partition count is sized by ROWS, not cores:
    // every tree level is a barriered stats job, so tasks below
    // ~64k rows pay more scheduling than compute (measured 8.4→7.0 s
    // at 600k rows going 32→8 partitions); at real data scale the
    // row-count term takes over, capped at 2× the parallelism. `base`
    // is persisted BEFORE the sizing count so the source is scanned
    // exactly once, and the count doubles as cache materialization.
    val sc = df.sparkSession.sparkContext
    val base = df
      .withColumn("label", col(labelCol).cast("double"))
      .select(("label" +: featureCols).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val parts = math.max(1, math.min(sc.defaultParallelism * 2,
      (base.count() / 64000L).toInt + 1))
    val prepared = base
      .repartition(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features_raw")
    val scaler = new StandardScaler().setInputCol("features_raw")
      .setOutputCol("features_scaled").setWithMean(true).setWithStd(true)
    val candidates =
      try modelZoo(mode, quick).filter(_.enabled).map { entry =>
        val pipeline = new Pipeline()
          .setStages(Array(assembler, scaler, entry.estimator))
        val cv = new FoldParallelCrossValidator()
          .setEstimator(pipeline)
          .setEvaluator(evaluator(mode))
          .setEstimatorParamMaps(entry.grid)
          .setNumFolds(numFolds)
          .setParallelism(parallelism)
          .setSeed(42)
        val model = cv.fit(prepared)
        // The winning grid combo's CV metric: rmse is minimized,
        // f1 maximized — avgMetrics.max would report the WORST combo
        // for regression.
        val best = mode match {
          case Regression     => model.avgMetrics.min
          case Classification => model.avgMetrics.max
        }
        Trained(entry.name, model, best, featureCols)
      }
      finally { // even on a failed fit
        prepared.unpersist(blocking = false)
        base.unpersist(blocking = false)
      }
    mode match {
      case Regression     => candidates.minBy(_.cvMetric)
      case Classification => candidates.maxBy(_.cvMetric)
    }
  }

  /** M8 + D7-D9 — transform test and compute the metric report; the
    * prediction is row-aligned by construction. */
  def evaluate(trained: Trained, testDf: DataFrame, labelCol: String,
               threshold: Option[Double]): DataFrame = {
    val prepared = testDf.withColumn("label", col(labelCol).cast("double"))
    val predictions = trained.model.transform(prepared)
    graft.stats.EvalMetrics.report(predictions, col("label"),
      col("prediction"), threshold.getOrElse(Double.NaN))
  }

  /** Classifier evaluation: the 0/1 label and prediction feed the
    * confusion directly (positive class = 1) — the P8 `< threshold`
    * re-binarization in [[evaluate]] would invert the classes on
    * already-binary columns. */
  def evaluateClassification(trained: Trained, testDf: DataFrame,
                             labelCol: String): DataFrame = {
    val prepared = testDf.withColumn("label", col(labelCol).cast("double"))
    val predictions = trained.model.transform(prepared)
    graft.stats.EvalMetrics.classificationReport(predictions,
      col("label"), col("prediction"))
  }

  /** M7 — train-score report: the refit winner's metric on its own
    * training data (reference auto_machine_learning.py:47-53). */
  def trainScore(trained: Trained, trainDf: DataFrame, labelCol: String,
                 mode: Mode): Double = {
    val prepared = trainDf.withColumn("label", col(labelCol).cast("double"))
    evaluator(mode).evaluate(trained.model.transform(prepared))
  }

  /** D10 — feature importances zipped with assembler input order
    * (the J3 positional alignment, driver-side), sorted desc. */
  def featureImportances(trained: Trained): Seq[(String, Double)] = {
    val stages = trained.model.bestModel.asInstanceOf[PipelineModel].stages
    val imps = stages.last match {
      case m: org.apache.spark.ml.regression.GBTRegressionModel => m.featureImportances
      case m: org.apache.spark.ml.classification.GBTClassificationModel => m.featureImportances
      case m: org.apache.spark.ml.regression.RandomForestRegressionModel => m.featureImportances
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel => m.featureImportances
      case other => throw new IllegalArgumentException(
        s"model ${other.getClass.getSimpleName} exposes no importances")
    }
    trained.featureNames.zip(imps.toArray).sortBy(-_._2)
  }

  /** M9 — task-scoped persistence (deliberately not the reference's
    * global `best_model/model.pkl`, SURVEY.md §8.6). */
  def save(trained: Trained, dir: String): Unit =
    trained.model.write.overwrite().save(dir)

  def loadOrTrain(dir: String, trainFn: () => Trained): Trained = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(path))
      Trained("loaded", CrossValidatorModel.load(dir), Double.NaN, Nil)
    else {
      val t = trainFn(); save(t, dir); t
    }
  }

  /** M6 — time-series learner: W2 windows flattened to fixed-length
    * vectors feeding the same CV machinery (GBT-on-windows is the
    * documented substitute for the reference's never-trained LSTM,
    * SURVEY.md §8.4). Sweeps look_back ∈ {2,3,4} (W3) and keeps the
    * best CV metric. */
  def trainTimeSeries(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                      featureCols: Seq[String], labelCol: String,
                      lookBacks: Seq[Int] = Seq(2, 3, 4),
                      quick: Boolean = true): (Int, Trained) = {
    val results = lookBacks.map { lb =>
      val windowed = graft.ts.TimeSeries.flattenedWindows(
        df, groupCol, orderCols, featureCols, labelCol, lb)
      val flatCols = (0 until lb * featureCols.size).map(i => s"f$i")
      val flat = windowed.select(
        col("label").cast("double").as("y") +:
          flatCols.zipWithIndex.map { case (name, i) =>
            element_at(col("features_flat"), i + 1).as(name)
          }: _*)
      lb -> train(flat, "y", flatCols, Regression, numFolds = 3,
        quick = quick)
    }
    results.minBy(_._2.cvMetric)
  }
}
