package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, LinearRegressionModel}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, FoldParallelCrossValidator, ParamGridBuilder}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.api.{AnalysisSession, TaskConfig}
import graft.ml.AutoML

/** End-to-end golden test: the README protocol (reference
  * README.md:25-61) replayed on a synthetic C-MAPSS-shaped frame —
  * upload → clean → options → train → evaluate @ threshold.
  */
class AutoMLSpec extends SparkSpec {
  import spark.implicits._

  /** 3 engines × 60 cycles; RUL = cycles remaining; sensors carry
    * deterministic signal + pseudo-noise. One column is all-null
    * (exercises P1), one is constant (like op_setting_3). */
  private def cmapss() = {
    val rows = for {
      engine <- 1 to 3
      cycle <- 1 to 60
    } yield {
      val rul = 60 - cycle
      val noise = math.sin(engine * 7.0 + cycle * 1.3) * 0.1
      (engine, cycle, 100.0 - rul * 0.8 + noise, 50.0 + rul * 0.3 - noise,
        1.0, Option.empty[Double], rul.toDouble)
    }
    rows.toDF("engine_no", "time_in_cycles", "sensor_2", "sensor_7",
      "op_setting_3", "sensor_16", "RUL")
  }

  test("README protocol: clean → train → evaluate with threshold") {
    val base = AnalysisSession(TaskConfig("cmapss"))
      .withTrainFrame(cmapss().filter($"engine_no" <= 2))
      .preAnalyze
    assert(base.config.nanColumns == Seq("sensor_16")) // P1 found the all-null col

    val configured = base
      .setSupervisedOptions("RUL",
        excluded = Seq("engine_no", "time_in_cycles", "op_setting_3"))
      .startMl("regression")
    assert(configured.featureCols == Seq("sensor_2", "sensor_7"))

    val trained = configured.confirmTraining(quick = true)
    val testDf = cmapss().filter($"engine_no" === 3)
      .drop("sensor_16", "engine_no", "time_in_cycles", "op_setting_3")
    val report = trained.uploadTest(testDf).evaluate(Some(20.0)).head()

    val rmse = report.getAs[Double]("rmse")
    assert(!rmse.isNaN && rmse < 10.0) // strong signal → must learn it
    val total = report.getAs[Long]("tp") + report.getAs[Long]("fp") +
      report.getAs[Long]("fn") + report.getAs[Long]("tn")
    assert(total == 60) // confusion counts cover every test row
    assert(report.getAs[Double]("f1") > 0.8) // threshold=20: RUL<20 detectable

    val imps = trained.importances
    assert(imps.map(_._1).toSet == Set("sensor_2", "sensor_7"))
    assert(imps == imps.sortBy(-_._2)) // sorted desc (D10)

    // M7: train-score on the refit winner's own training data
    val ts = AutoML.trainScore(trained.trained.get,
      cmapss().filter($"engine_no" <= 2), "RUL", AutoML.Regression)
    assert(!ts.isNaN && ts < rmse + 5.0) // train rmse ≲ test rmse

    // D4: per-group line data, ordered (one projection for all groups)
    val tsConfigured = base.setSupervisedOptions("RUL",
      excluded = Seq("op_setting_3"), isTimeSeries = true,
      groupBy = Some("engine_no"))
    val series = tsConfigured.seriesOf("sensor_2", Seq($"time_in_cycles"))
      .collect()
    assert(series.map(_.getInt(0)).distinct.sorted.toSeq == Seq(1, 2))
    val cycles = series.filter(_.getInt(0) == 1).map(_.getInt(1)).toSeq
    assert(cycles == cycles.sorted) // ordered within group
  }

  test("M3/M4 protocol: full grid is 18 combos (3 iters × 3 depths × 2 steps)") {
    val zoo = AutoML.modelZoo(AutoML.Regression, quick = false)
    assert(zoo.map(_.name) == Seq("gbt", "rf"))
    assert(zoo.find(_.name == "gbt").get.grid.length == 18)
    assert(zoo.find(_.name == "gbt").get.enabled)
    assert(!zoo.find(_.name == "rf").get.enabled) // default-off, like reference
    val clfZoo = AutoML.modelZoo(AutoML.Classification, quick = false)
    assert(clfZoo.map(_.name) == Seq("gbt", "rf", "svc"))
    assert(clfZoo.count(_.enabled) == 1)
  }

  test("M5: the default-off rf zoo entry trains when enabled explicitly") {
    val rf = AutoML.modelZoo(AutoML.Regression, quick = true)
      .find(_.name == "rf").get
    val df = cmapss().filter($"engine_no" <= 2)
      .withColumn("label", $"RUL".cast("double"))
    val feats = Array("sensor_2", "sensor_7")
    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(feats).setOutputCol("features_raw"),
      new StandardScaler().setInputCol("features_raw")
        .setOutputCol("features_scaled").setWithMean(true).setWithStd(true),
      rf.estimator))
    val model = pipeline.fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("prediction"))
    assert(out.count() > 0)
    assert(rf.grid.length == 4) // 2 numTrees × 2 maxDepth
  }

  test("model persistence round-trip (M9 memoization, task-scoped)") {
    val dir = tempDir("graft-model").toString + "/m"
    val df = cmapss().filter($"engine_no" <= 2)
    var trainCalls = 0
    def trainFn(): AutoML.Trained = {
      trainCalls += 1
      AutoML.train(df, "RUL", Seq("sensor_2", "sensor_7"),
        AutoML.Regression, numFolds = 2, quick = true)
    }
    val first = AutoML.loadOrTrain(dir, trainFn _)
    val second = AutoML.loadOrTrain(dir, trainFn _)
    assert(trainCalls == 1) // second call short-circuits to load
    val pred1 = first.model.transform(
      df.withColumn("label", $"RUL".cast("double")))
      .agg(sum("prediction")).head().getDouble(0)
    val pred2 = second.model.transform(
      df.withColumn("label", $"RUL".cast("double")))
      .agg(sum("prediction")).head().getDouble(0)
    assert(pred1 == pred2) // loaded model reproduces predictions
  }

  test("time-series path: windowed GBT substitute picks a look_back") {
    val df = cmapss().filter($"engine_no" <= 2).drop("sensor_16")
    val (lookBack, trained) = AutoML.trainTimeSeries(
      df, "engine_no", Seq(col("time_in_cycles")),
      Seq("sensor_2", "sensor_7"), "RUL", lookBacks = Seq(2, 3))
    assert(Seq(2, 3).contains(lookBack))
    assert(trained.model.avgMetrics.nonEmpty)
  }

  test("classification mode trains and evaluates (fixes reference no-op)") {
    val df = cmapss().withColumn("failing",
      when($"RUL" < 20, 1.0).otherwise(0.0))
      .drop("RUL", "sensor_16")
    val trained = AutoML.train(df.filter($"engine_no" <= 2), "failing",
      Seq("sensor_2", "sensor_7"), AutoML.Classification,
      numFolds = 2, quick = true)
    val preds = trained.model.transform(
      df.filter($"engine_no" === 3).withColumn("label", $"failing"))
    val acc = preds.filter($"prediction" === $"label").count().toDouble /
      preds.count()
    assert(acc > 0.9)

    // the classification report's positive class is label=1 (NOT the
    // P8-inverted complement): tp must equal the directly-counted
    // (label=1, pred=1) rows
    val rep = AutoML.evaluateClassification(trained,
      df.filter($"engine_no" === 3), "failing").head()
    val directTp = preds.filter($"label" === 1.0 && $"prediction" === 1.0).count()
    assert(rep.getAs[Long]("tp") == directTp)
    assert(rep.getAs[Long]("tp") + rep.getAs[Long]("fp") +
      rep.getAs[Long]("fn") + rep.getAs[Long]("tn") == preds.count())
  }

  // ---- FoldParallelCrossValidator: the one CV path of AutoML.train ----

  private val sensors = Array("sensor_2", "sensor_7")

  /** cmapss() with a 0/1 `failing` label, a double `label` for `mode`
    * and a row `id` (0 until 180). */
  private def labelled(mode: AutoML.Mode) = cmapss().drop("sensor_16")
    .withColumn("failing", when($"RUL" < 20, 1.0).otherwise(0.0))
    .withColumn("label", (if (mode == AutoML.Regression) $"RUL" else $"failing")
      .cast("double"))
    .withColumn("id", ($"engine_no" - 1) * 60 + $"time_in_cycles" - 1)

  for (mode <- Seq(AutoML.Regression, AutoML.Classification); combos <- Seq(1, 2))
    test(s"fold-parallel CV equals Spark's CrossValidator: ${mode.label}, $combos-combo grid") {
      val df = labelled(mode)
      val gbt = AutoML.modelZoo(mode, quick = true).find(_.name == "gbt").get.estimator
      val depth = gbt match {
        case g: GBTRegressor => g.maxDepth
        case g: GBTClassifier => g.maxDepth
      }
      val pipeline = new Pipeline().setStages(Array(
        new VectorAssembler().setInputCols(sensors).setOutputCol("features_raw"),
        new StandardScaler().setInputCol("features_raw")
          .setOutputCol("features_scaled").setWithMean(true).setWithStd(true),
        gbt))
      val grid = new ParamGridBuilder().addGrid(depth, Seq(3, 2).take(combos)).build()
      def fit(cv: CrossValidator) = cv.setEstimator(pipeline)
        .setEvaluator(AutoML.evaluator(mode)).setEstimatorParamMaps(grid)
        .setNumFolds(3).setParallelism(4).setSeed(42).fit(df)
      val reference = fit(new CrossValidator())
      val ours = fit(new FoldParallelCrossValidator())

      def bits(m: CrossValidatorModel) =
        m.avgMetrics.toSeq.map(java.lang.Double.doubleToLongBits)
      assert(ours.avgMetrics.length == combos)
      assert(bits(ours) == bits(reference))
      def predictions(m: CrossValidatorModel) =
        m.transform(df).orderBy("id").select("prediction").collect().toSeq
      assert(predictions(ours) == predictions(reference))

      val dir = tempDir("graft-fpcv").toString + "/m"
      ours.write.save(dir)
      val loaded = CrossValidatorModel.load(dir)
      def grids(m: CrossValidatorModel) = m.getEstimatorParamMaps.toSeq
        .map(_.toSeq.map(p => (p.param.parent, p.param.name, p.value)).toSet)
      assert(loaded.getNumFolds == 3)
      assert(grids(loaded) == grids(ours))
      assert(bits(loaded) == bits(ours))
      assert(predictions(loaded) == predictions(ours))
    }

  for (combos <- Seq(1, 2))
    test(s"fold-parallel CV rethrows a failing fold fit and leaves no cache behind ($combos-combo grid)") {
      val df = new VectorAssembler().setInputCols(sensors).setOutputCol("features")
        .transform(labelled(AutoML.Regression))
      val lr = new FailsWithoutRowZero()
      val cv = new FoldParallelCrossValidator().setEstimator(lr)
        .setEvaluator(new RegressionEvaluator())
        .setEstimatorParamMaps(new ParamGridBuilder()
          .addGrid(lr.regParam, Seq(0.0, 0.1).take(combos)).build())
        .setNumFolds(3).setParallelism(4).setSeed(42)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.size
      val e = intercept[IllegalStateException](cv.fit(df))
      assert(e.getMessage == FailsWithoutRowZero.Message)
      assert(sc.getPersistentRDDs.size == before)
    }

  test("fold fits and the refit run every job under the caller's local properties") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.properties)
    }
    val label = "graft.spec.label"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("automl-spec", "fold fan-out")
      sc.setLocalProperty(label, "fanout")
      try {
        AutoML.train(cmapss(), "RUL", sensors.toSeq, AutoML.Regression,
          numFolds = 3, parallelism = 4, quick = true)
        assert(sc.getLocalProperty(label) == "fanout") // caller's own props kept
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty(label, null)
      }
      // Listener events arrive in order: once the sentinel job is seen,
      // every training job has been seen.
      sc.setLocalProperty(label, "sentinel")
      try sc.parallelize(1 to 2).count()
      finally sc.setLocalProperty(label, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_.getProperty(label) == "sentinel") &&
        System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)

    val jobs = seen.asScala.toSeq.takeWhile(_.getProperty(label) != "sentinel")
    assert(seen.asScala.exists(_.getProperty(label) == "sentinel"))
    assert(jobs.size >= 4) // at least one job per fold fit and the refit
    jobs.foreach { p =>
      assert(p.getProperty(label) == "fanout")
      assert(p.getProperty("spark.jobGroup.id") == "automl-spec")
      assert(p.getProperty("spark.job.description") == "fold fan-out")
    }
  }
}

/** Linear regression that throws when its training set lacks row
  * `id = 0` — true of exactly one cross-validation fold, and of no
  * refit on the full set. Top-level so `defaultCopy` can build it. */
class FailsWithoutRowZero(override val uid: String) extends LinearRegression(uid) {
  def this() = this(Identifiable.randomUID("failsWithoutRowZero"))
  override protected def train(dataset: Dataset[_]): LinearRegressionModel = {
    if (dataset.filter("id = 0").isEmpty) throw new IllegalStateException(FailsWithoutRowZero.Message)
    super.train(dataset)
  }
}

object FailsWithoutRowZero {
  val Message = "training set without row 0"
}
