package graftbench

import org.apache.spark.sql.functions._

import graft.api.{AnalysisSession, TaskConfig}

/** `automl_ts`: the paper's own workflow through `api.AnalysisSession`,
  * one session per request, on a C-MAPSS-FD001-shaped run-to-failure
  * table. Each route is one operation; training is the time-series
  * trainer with one look-back (see the note at that step). Routes that
  * hand their work to another module eagerly carry a child span of
  * that module; routes that return a plan are billed to `api` for
  * planning and to the module that built the plan for its execution. */
final class AutomlTs(data: String) extends Workload {
  private val train = s"$data/train_FD001.csv"
  private val testCsv = s"$data/test_FD001.csv"
  private val orderCols = Seq(col("time_in_cycles"))
  private val group = "engine_no"
  private val label = "RUL"
  private val idCols = Seq("dataset", "unit_serial")
  /** FD001's third operating setting is a constant 100; an FD001 user
    * excludes it with the id columns. (Left in, `correlations` throws
    * DIVIDE_BY_ZERO under ANSI mode on the constant column.) */
  private val excluded = idCols :+ "op_setting_3"
  private val feature = "sensor_11"
  /** P8 positive class: RUL below this many cycles. */
  private val threshold = 30.0
  private val lookBack = 3

  def setup(ctx: Ctx): Unit = ()

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def pass(ctx: Ctx): Unit = {
    import ctx.{check, op, span}
    val spark = ctx.spark
    var s = AnalysisSession(TaskConfig(s"req${ctx.pass}"))
    def step(name: String, layer: String)(f: AnalysisSession => AnalysisSession)
            (chk: AnalysisSession => Unit = _ => ()): Boolean =
      op("api", name)(span(layer, name)(f(s)))(chk).map(s = _).isDefined

    // a failed route ends the request: later routes need its result
    val ready =
      step("upload", "sources")(_.upload(spark, train))() &&
      op("api", "displayData") {
        val df = s.displayData
        span("api", "displayData.collect")(df.collect())
      }(r => check(r.length == 5, s"displayData returned ${r.length} rows")).isDefined &&
      step("preAnalyze", "clean")(_.preAnalyze)(n =>
        check(n.config.nanColumns == Seq("sensor_null"),
          s"all-NULL columns ${n.config.nanColumns}")) &&
      step("setSupervisedOptions", "clean")(_.setSupervisedOptions(label, excluded,
        isTimeSeries = true, groupBy = Some(group)))(n =>
        check(n.config.excludedFeatures == excluded, "excluded columns not dropped"))
    if (!ready) return

    val rows = s.train.get
    val feats = s.featureCols
    op("api", "histogramOf") {
      val df = s.histogramOf(feature)
      span("stats", "histogram")(df.collect())
    }(r => check(r.nonEmpty, "empty histogram"))
    op("api", "correlations") {
      val df = s.correlations
      span("stats", "corrWithLong")(df.collect())
    }(r => check(r.nonEmpty, "no correlations"))
    op("api", "acfOf") {
      val df = s.acfOf(feature, orderCols)
      span("stats", "acf")(df.collect())
    }(r => check(r.nonEmpty, "empty ACF"))
    op("api", "seriesOf") {
      val df = s.seriesOf(feature, orderCols)
      span("api", "seriesOf.noop")(noop(df))
    }(_ => ())
    op("ts", "rollingFeatures") {
      noop(graft.ts.RollingFeatures.features(rows, group, orderCols, feature))
    }(_ => ())

    // The `confirmTraining` route sweeps three look-backs (12 GBT fits,
    // ~26 s warm at 4 cores), more than one run's time budget, so the
    // request calls the same time-series trainer with one look-back
    // (3 CV folds + refit) and keeps the model in the session, as the
    // route does.
    val model = op("ml", "trainTimeSeries") {
      graft.ml.AutoML.trainTimeSeries(rows, group, orderCols, feats, label,
        lookBacks = Seq(lookBack), quick = true)._2
    }(t => check(t.featureNames.size == lookBack * feats.size,
      s"model has ${t.featureNames.size} features"))
    if (model.isEmpty) return
    val trained = model.get
    s = s.startMl("regression").copy(trained = model)

    var testRows = 0L
    op("api", "uploadTest") {
      val raw = span("sources", "csvWithRowId")(
        graft.sources.Tables.csvWithRowId(spark, testCsv))
      val flat = span("ts", "flattenedWindows")(
        graft.ts.TimeSeries.flattenedWindows(raw, group, orderCols, feats,
          label, lookBack))
      s.uploadTest(flat.select(col("label").cast("double").as(label) +:
        trained.featureNames.zipWithIndex.map { case (n, i) =>
          element_at(col("features_flat"), i + 1).as(n)
        }: _*))
    } { n =>
      testRows = n.test.get.count()
      check(testRows > 0, "empty test split")
    }.foreach(s = _)
    op("api", "evaluate") {
      val df = s.evaluate(Some(threshold))
      span("ml", "evaluate")(df.collect().head)
    } { r =>
      val tiles = Seq("tp", "fp", "fn", "tn").map(r.getAs[Long](_)).sum
      check(tiles == testRows, s"confusion totals $tiles != test rows $testRows")
      val rmse = r.getAs[Double]("rmse")
      check(!rmse.isNaN && !rmse.isInfinite && rmse > 0, s"rmse $rmse")
      ctx.record("model_rmse", rmse)
    }
    op("api", "importances")(span("ml", "featureImportances")(s.importances)) { imp =>
      check(imp.map(_._1).toSet == trained.featureNames.toSet,
        "importances do not cover the features")
      check(imp.forall(x => !x._2.isNaN && x._2 >= 0), "bad importance")
    }
  }
}
