package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.AnalyticsQueries

/** Edge semantics for the analytics/statistics query family, on
  * hand-computed fixtures: funnel stage ordering is STRICT, retention
  * bucketing is pure epoch-day arithmetic, KS and chi-square hit
  * their degenerate and zero-observed-cell cases, AR(1) matches the
  * by-hand OLS solution, and a constant series decomposes to zero
  * seasonality. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** Write a fixture table as `<dir>/<name>.parquet` and return dir. */
  private def fixtureDir(tables: (String, DataFrame)*): String = {
    val dir = tempDir("graft_analytics").toString
    tables.foreach { case (n, df) => df.write.parquet(s"$dir/$n.parquet") }
    dir
  }

  private def eventsDf(rows: Seq[(Long, Long, Long, String, Double)]) =
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))

  test("funnel: later-stage events before the prior stage do not convert") {
    val d = fixtureDir("events" -> eventsDf(Seq(
      // user 1: full funnel, but with decoys breaking strict order
      (1L, 10L, 1L, "view", 0.0),
      (2L, 5L, 1L, "click", 0.0),     // before first view — no conversion
      (3L, 20L, 1L, "click", 0.0),    // converts (20 > 10)
      (4L, 15L, 1L, "purchase", 0.0), // before converting click — no
      (5L, 30L, 1L, "purchase", 0.0), // converts (30 > 20)
      // user 2: click with no view — never enters the funnel
      (6L, 10L, 2L, "click", 0.0),
      // user 3: view only
      (7L, 10L, 3L, "view", 0.0))))
    val r = AnalyticsQueries.funnelSteps(spark, d).head()
    assert(r.getLong(0) == 2)   // n_view: users 1 and 3
    assert(r.getLong(1) == 1)   // n_click: user 1 only
    assert(r.getLong(2) == 1)   // n_purchase: user 1
    assert(r.getDouble(3) == 0.5) // view_to_click
  }

  test("retention: cohort and offset are epoch-day integer arithmetic") {
    val us = (day: Long) => day * 86400000000L + 5L
    val d = fixtureDir("events" -> eventsDf(Seq(
      (1L, us(0), 1L, "view", 0.0), (2L, us(8), 1L, "view", 0.0),
      (3L, us(7), 2L, "view", 0.0))))
    val got = AnalyticsQueries.retentionCohorts(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // user 1: cohort week 0, active at offsets 0 and 1; user 2: cohort week 1
    assert(got == Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (1L, 0L) -> 1L))
  }

  private def lineitemDf(rows: Seq[(Double, String)]) =
    rows.toDF("l_quantity", "l_returnflag")

  test("KS: identical samples give D=0, disjoint samples give D=1") {
    val same = fixtureDir("lineitem" -> lineitemDf(
      Seq(1.0, 2.0, 3.0).flatMap(v => Seq(v -> "R", v -> "A"))))
    val r0 = AnalyticsQueries.ksTest(spark, same).head()
    assert(r0.getDouble(2) == 0.0 && !r0.getBoolean(4))
    // 10 vs 10 so the large-sample critical value (0.607) is below D=1
    val apart = fixtureDir("lineitem" -> lineitemDf(
      (1 to 10).map(v => v.toDouble -> "R") ++
        (21 to 30).map(v => v.toDouble -> "A")))
    val r1 = AnalyticsQueries.ksTest(spark, apart).head()
    assert(r1.getDouble(2) == 1.0 && r1.getBoolean(4))
  }

  test("chi2: zero-observed grid cells still contribute their expected count") {
    // 2x2 with (B,Y) absent: hand-computed chi2 = 1.5, df = 1, V = 0.5
    val rows = Seq.fill(2)(("A", "X")) ++ Seq.fill(2)(("A", "Y")) ++
      Seq.fill(2)(("B", "X"))
    val d = fixtureDir("orders" ->
      rows.toDF("o_orderstatus", "o_orderpriority"))
    val r = AnalyticsQueries.chi2Independence(spark, d).head()
    assert(r.getLong(0) == 6 && r.getLong(1) == 1)
    assert(r.getDouble(2) == 1.5)
    assert(r.getDouble(3) == 0.5)
  }

  test("chi2: uniform table is exactly independent (chi2 = 0)") {
    val rows = for { st <- Seq("A", "B"); pr <- Seq("X", "Y") } yield (st, pr)
    val d = fixtureDir("orders" ->
      rows.toDF("o_orderstatus", "o_orderpriority"))
    assert(AnalyticsQueries.chi2Independence(spark, d).head().getDouble(2) == 0.0)
  }

  test("AR(1): matches the by-hand OLS fit; constant series is filtered") {
    // series 1,3,2,5,4: pairs x=[1,3,2,5], y=[3,2,5,4]
    // phi = 2/35, intercept = 468/140, forecast = intercept + phi*4
    val mk = (uid: Long, vals: Seq[Double]) =>
      vals.zipWithIndex.map { case (v, i) => (uid * 100 + i, i.toLong * 1000L, uid, "view", v) }
    val d = fixtureDir("events" -> eventsDf(
      mk(1L, Seq(1.0, 3.0, 2.0, 5.0, 4.0)) ++
        mk(2L, Seq(7.0, 7.0, 7.0, 7.0, 7.0)))) // zero lag variance
    val rows = AnalyticsQueries.ar1Forecast(spark, d).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L)
    val r = rows.head
    assert(r.getLong(1) == 4)
    assert(r.getDouble(2) == 0.057143)  // round(2/35, 6)
    assert(r.getDouble(3) == 3.342857)  // round(468/140, 6)
    assert(r.getDouble(4) == 3.571429)
  }

  test("label propagation: two triangles joined by a bridge split into " +
    "two communities; driver and distributed paths agree") {
    import graft.operators.LabelPropagation
    // triangles {1,2,3} and {10,11,12} bridged by 3-10
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    def labelsOf(limit: Long) =
      LabelPropagation.propagate(pairs, "a", "b", iters = 3,
        smallGraphEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsOf(Long.MaxValue) // driver path
    val dist = labelsOf(0L)             // distributed path
    assert(local == dist)
    // each triangle converges to one label, and the two differ
    assert(local(1L) == local(2L) && local(2L) == local(3L))
    assert(local(10L) == local(11L) && local(11L) == local(12L))
    assert(local(1L) != local(10L))
  }

  test("seasonal: a constant daily series decomposes to zero seasonality") {
    val d = fixtureDir("events" -> eventsDf(
      (0L until 14L).map(day => (day, day * 86400000000L + 7L, 1L, "view", 3.0))))
    val got = AnalyticsQueries.seasonalDow(spark, d).collect()
    assert(got.nonEmpty && got.forall(_.getDouble(2) == 0.0))
  }

  test("seq patterns: a→b needs SOME a strictly before SOME b; " +
    "support floor cuts; min/max reduction is order-correct") {
    // user 1: view(10) → click(20)      ⇒ view→click
    // user 2: click(5) → view(15) → click(25)
    //   ⇒ click→view AND view→click (the 25-click is after the view:
    //   min(view)=15 < max(click)=25 — an only-first-occurrence
    //   implementation would miss it)
    // user 3: purchase(7) only          ⇒ no patterns
    val d = fixtureDir("events" -> eventsDf(Seq(
      (1L, 10L, 1L, "view", 0.0), (2L, 20L, 1L, "click", 0.0),
      (3L, 5L, 2L, "click", 0.0), (4L, 15L, 2L, "view", 0.0),
      (5L, 25L, 2L, "click", 0.0),
      (6L, 7L, 3L, "purchase", 0.0))))
    val got = graft.queries.TrainingDataQueries.seqPatterns(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("view", "click")) == (2L, 666666L)) // 2 of 3 users
    assert(got(("click", "view")) == (1L, 333333L))
    assert(!got.contains(("click", "purchase")))
    assert(!got.contains(("view", "view"))) // self-pairs excluded
  }
}
