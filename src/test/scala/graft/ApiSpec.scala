package graft

import org.apache.spark.sql.functions._
import graft.api.{AnalysisSession, TaskConfig}

/** Route-level behavior of the AnalysisSession facade beyond the
  * AutoMLSpec end-to-end run. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def session() = AnalysisSession(TaskConfig("t"))
    .withTrainFrame(Seq(
      (3L, 30.0, "c", 3.0), (1L, 10.0, "a", 1.0), (2L, 20.0, "b", 2.0),
      (4L, 40.0, "d", 4.0), (5L, 50.0, "e", 5.0), (6L, 60.0, "f", 6.0))
      .toDF("_row_id", "x", "s", "y"))

  test("displayData: first 5 rows by _row_id (reference head())") {
    val rows = session().displayData.collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("correlations: numeric features only, label excluded") {
    val s = session().setSupervisedOptions("y", Nil)
    val corr = s.correlations.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 's' is non-numeric; '_row_id' is bookkeeping — both excluded
    assert(corr.keySet == Set("x"))
    assert(corr("x") == 1.0) // x and y are perfectly correlated
  }

  test("correlations: a constant numeric feature gets a NULL r") {
    val s = AnalysisSession(TaskConfig("t"))
      .withTrainFrame(Seq((1L, 10.0, 100.0, 1.0), (2L, 20.0, 100.0, 2.0),
        (3L, 30.0, 100.0, 3.5)).toDF("_row_id", "x", "k", "y"))
      .setSupervisedOptions("y", Nil)
    val corr = s.correlations.collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(corr("k").isEmpty) // pandas corrwith: NaN
    assert(corr("x").isDefined)
  }

  test("histogramOf returns bins covering all rows") {
    val h = session().histogramOf("x").agg(sum("cnt")).head().getLong(0)
    assert(h == 6)
  }

  test("scatterOf projects (feature, label) pairs") {
    val s = session().setSupervisedOptions("y", Nil)
    val sc = s.scatterOf("x").collect()
    assert(sc.length == 6 && sc.head.schema.fieldNames.toSeq == Seq("x", "y"))
  }

  test("config accumulates through the route sequence") {
    val s = session().preAnalyze
      .setSupervisedOptions("y", Seq("s"), isTimeSeries = true,
        groupBy = Some("g"))
      .startMl("regression")
    assert(s.config.label.contains("y"))
    assert(s.config.excludedFeatures == Seq("s"))
    assert(s.config.isTimeSeries && s.config.groupBy.contains("g"))
    assert(s.config.mode.contains("regression"))
  }
}
