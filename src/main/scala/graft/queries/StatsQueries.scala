package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.Cleaning
import graft.ml.Scalers
import graft.sources.Tables
import graft.stats.{Acf, Correlation, EvalMetrics, Histogram}
import graft.ts.TimeSeries
import QUtil._

/** Queries exercising the reference's descriptive-stat, time-series
  * and scaling operators (SURVEY.md §2.2/§2.4/§2.5/§2.6) against the
  * DuckDB oracle. */
object StatsQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // ---- D1: auto-binned histograms -------------------------------------
  def histQuantity(s: SparkSession, d: String): DataFrame =
    Histogram.histogram(t(s, d, "lineitem"), "l_quantity")

  def histPrice(s: SparkSession, d: String): DataFrame =
    Histogram.histogram(t(s, d, "lineitem"), "l_extendedprice")

  // ---- D2: scatter feed (projection, deterministic sample) ------------
  def scatterSample(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_orderkey") % 500 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))

  val scatterOracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_orderkey % 500 = 0""".stripMargin

  // ---- D3: corrwith ----------------------------------------------------
  private val corrFeatures = Seq("l_quantity", "l_discount", "l_tax")

  def corrLineitem(s: SparkSession, d: String): DataFrame =
    Correlation.corrWithLong(t(s, d, "lineitem"), corrFeatures, "l_extendedprice")

  val corrOracle: String = corrFeatures
    .map(f =>
      s"SELECT '$f' AS feature, ROUND(corr($f, l_extendedprice), 6) AS r FROM lineitem")
    .mkString(" UNION ALL ")

  // ---- D5: per-group ACF ----------------------------------------------
  def acfEvents(s: SparkSession, d: String): DataFrame =
    Acf.acf(t(s, d, "events"), "user_id",
      Seq(col("ts"), col("event_id")), "value", nLags = 10)

  /** The same ACF through the custom TypedImperativeAggregate — one
    * shuffle instead of two; checked against the identical oracle so
    * the two formulations are pinned to each other AND to DuckDB. */
  def acfEventsAgg(s: SparkSession, d: String): DataFrame =
    Acf.acfViaAggregate(t(s, d, "events"), "user_id",
      unix_micros(col("ts")), "value", nLags = 10,
      ord2Col = col("event_id"))

  /** The reference's per-column histogram loop (data_analysis.py:47)
    * over every numeric measure — each column auto-binned with its own
    * Sturges/FD spec, computed via the O(1)-scans multi-column path
    * (one stats pass, one combined quantile sort, one binning pass —
    * job count independent of column count). */
  def histAll(s: SparkSession, d: String): DataFrame =
    Histogram.histogramAll(t(s, d, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  val histAllOracle: String =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => s"SELECT '$c' AS column_name, bin, cnt FROM (" +
        graft.stats.Histogram.oracleSql("lineitem", c) + ")")
      .mkString(" UNION ALL ")

  /** Full pairwise Pearson matrix over four measures — all six pairs
    * in ONE aggregate pass (the reference computes correlations one
    * Python call at a time; here the scan count is independent of the
    * number of pairs). */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield round(corr(col(cols(i)), col(cols(j))), 6)
      .as(s"${cols(i).stripPrefix("l_")}_${cols(j).stripPrefix("l_")}")
    li.agg(pairs.head, pairs.tail: _*)
  }

  val corrMatrixOracle: String =
    """SELECT
      |  ROUND(CORR(l_quantity, l_extendedprice), 6) AS quantity_extendedprice,
      |  ROUND(CORR(l_quantity, l_discount), 6) AS quantity_discount,
      |  ROUND(CORR(l_quantity, l_tax), 6) AS quantity_tax,
      |  ROUND(CORR(l_extendedprice, l_discount), 6) AS extendedprice_discount,
      |  ROUND(CORR(l_extendedprice, l_tax), 6) AS extendedprice_tax,
      |  ROUND(CORR(l_discount, l_tax), 6) AS discount_tax
      |FROM lineitem""".stripMargin

  // ---- D4: per-group time-series line data ----------------------------
  /** One pass for all groups × the feature — projection + sort, not
    * the reference's G×F filter-scans (data_analysis.py:64-66). */
  def groupSeries(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("user_id") < 5)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))

  val groupSeriesOracle: String =
    """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      |FROM events WHERE user_id < 5""".stripMargin

  // ---- D6-D9: metric report over a deterministic baseline model -------
  /** Groupwise-mean predictor (decimal-exact, so both engines derive
    * the identical prediction) then the full metric report — the
    * shape of M8+D7-D9 without a fitted model in the loop. */
  def evalMetrics(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val pred = li.groupBy("l_returnflag", "l_linestatus")
      .agg((sum(dec4(col("l_quantity"))).cast("double") / count(lit(1))).as("pred"))
    val joined = li.join(broadcast(pred), Seq("l_returnflag", "l_linestatus"))
    EvalMetrics.report(joined, col("l_quantity"), col("pred"), threshold = 25.0)
  }

  val evalMetricsOracle: String =
    """WITH p AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS pred
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (
      |  SELECT l_quantity AS y, pred,
      |    CASE WHEN l_quantity < 25.0 THEN 1 ELSE 0 END AS yb,
      |    CASE WHEN pred < 25.0 THEN 1 ELSE 0 END AS pb
      |  FROM lineitem JOIN p USING (l_returnflag, l_linestatus)),
      |c AS (
      |  SELECT ROUND(SQRT(AVG(POW(pred - y, 2))), 6) AS rmse,
      |    ROUND(AVG(ABS(pred - y)), 6) AS mae,
      |    ROUND(MIN(y), 6) AS y_min, ROUND(MAX(y), 6) AS y_max,
      |    CAST(SUM(CASE WHEN yb = 1 AND pb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN yb = 0 AND pb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN yb = 1 AND pb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN yb = 0 AND pb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM j)
      |SELECT rmse, mae, y_min, y_max, tp, fp, fn, tn,
      |  ROUND(CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
      |  ROUND(CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
      |  ROUND(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE 2.0 * tp / (2 * tp + fp + fn) END, 6) AS f1
      |FROM c""".stripMargin

  // ---- P1: all-null column audit --------------------------------------
  /** Per-column non-null counts (the aggregate behind
    * `dropAllNullColumns`), emitted as rows so the oracle can check
    * the exact numbers the drop decision uses. */
  def nullAudit(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").drop("ts") // ts re-derived; audit raw columns
    val counts = ev.select(ev.columns.map(c => count(col(c)).as(c)).toSeq: _*)
    val stackExpr = ev.columns
      .map(c => s"'$c', $c").mkString(s"stack(${ev.columns.length}, ", ", ", ") as (column_name, n_nonnull)")
    counts.selectExpr(stackExpr)
  }

  val nullAuditOracle: String =
    Seq("event_id", "user_id", "event_type", "value", "props")
      .map(c => s"SELECT '$c' AS column_name, COUNT($c) AS n_nonnull FROM events")
      .mkString(" UNION ALL ")

  // ---- P7: distinct values --------------------------------------------
  def distinctEventTypes(s: SparkSession, d: String): DataFrame =
    Cleaning.distinctValues(t(s, d, "events"), "event_type")

  val distinctOracle: String = "SELECT DISTINCT event_type FROM events"

  // ---- W1: ordered per-group split ------------------------------------
  private val lookBack = 4

  def splitCounts(s: SparkSession, d: String): DataFrame = {
    val split = TimeSeries.orderedSplit(t(s, d, "events"), "user_id",
      Seq(col("ts"), col("event_id")), lookBack)
    split.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("split").isin("train", "both"), 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split").isin("test", "both"), 1L).otherwise(0L)).as("n_test"))
  }

  val splitCountsOracle: String =
    s"""WITH r AS (
       |  SELECT user_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n
       |  FROM events)
       |SELECT user_id, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN rn <= FLOOR(0.8 * n) THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN rn > FLOOR(0.8 * n) - $lookBack THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |FROM r GROUP BY user_id""".stripMargin

  // ---- W2: sliding-window featurizer ----------------------------------
  /** Window count + content checksums per group. The Spark side runs
    * the real nested-window operator (collect_list of structs); the
    * oracle derives the same numbers from lag/lead identities —
    * window[0].value ≡ lag(value, lookBack−1), label ≡ lead(value). */
  def windowStats(s: SparkSession, d: String): DataFrame = {
    val win = TimeSeries.slidingWindows(t(s, d, "events"), "user_id",
      Seq(col("ts"), col("event_id")),
      featureCols = Seq("value", "event_type"), labelCol = "value",
      lookBack = lookBack)
    win.groupBy("user_id").agg(
      count(lit(1)).as("n_windows"),
      moneySum(dec6(element_at(col("window"), 1).getField("value"))).as("sum_first"),
      moneySum(dec6(col("label"))).as("sum_label"))
  }

  val windowStatsOracle: String =
    s"""WITH r AS (
       |  SELECT user_id, value,
       |    LAG(value, ${lookBack - 1}) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS first_v,
       |    LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS label
       |  FROM events)
       |SELECT user_id, COUNT(*) AS n_windows,
       |  CAST(CAST(SUM(CAST(first_v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_first,
       |  CAST(CAST(SUM(CAST(label AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_label
       |FROM r WHERE first_v IS NOT NULL AND label IS NOT NULL
       |GROUP BY user_id""".stripMargin

  // ---- rolling / lag features (TS feature engineering) ----------------
  def rollingFeatures(s: SparkSession, d: String): DataFrame =
    graft.ts.RollingFeatures.features(
      t(s, d, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value")),
      "user_id", Seq(col("ts"), col("event_id")), "value",
      windows = Seq(3, 10))
      .withColumnRenamed("value", "value")
      .select(col("user_id"), col("event_id"), col("value").as("value"),
        col("lag_1"), col("diff_1"),
        col("roll_mean_3"), col("roll_min_3"), col("roll_max_3"),
        col("roll_count_3"),
        col("roll_mean_10"), col("roll_min_10"), col("roll_max_10"),
        col("roll_count_10"))

  val rollingOracle: String = graft.ts.RollingFeatures.oracleSql(
    "events", "user_id", "value", Seq(3, 10), "user_id < 3")

  /** Hourly LOCF resample of three users' event series — irregular
    * stream → fixed grid, the alignment step before fixed-step
    * windowing (W2). Oracle = DuckDB generate_series + ASOF. */
  def resampleLocf(s: SparkSession, d: String): DataFrame =
    graft.ts.Resample.locf(
      t(s, d, "events").filter(col("user_id") < 3)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value")),
      "user_id", "us", "value", stepUs = 3600000000L)

  val resampleLocfOracle: String =
    """WITH b AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    MAX(value) AS value
      |  FROM events WHERE user_id < 3 AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id,
      |    MIN(us) - (MIN(us) % 3600000000) AS gmin,
      |    MAX(us) - (MAX(us) % 3600000000) AS gmax
      |  FROM b GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(gmin, gmax, 3600000000)) AS grid_us
      |  FROM r)
      |SELECT g.user_id, g.grid_us, b.value
      |FROM grid g ASOF LEFT JOIN b
      |  ON g.user_id = b.user_id AND b.us <= g.grid_us""".stripMargin

  /** Linear-interpolation variant of the resample — each grid point
    * blends its surrounding observations via one backward + one
    * forward as-of join. */
  def resampleInterp(s: SparkSession, d: String): DataFrame =
    graft.ts.Resample.interpolate(
      t(s, d, "events").filter(col("user_id") < 3)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value")),
      "user_id", "us", "value", stepUs = 3600000000L)

  val resampleInterpOracle: String =
    """WITH b AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    MAX(value) AS value
      |  FROM events WHERE user_id < 3 AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id,
      |    MIN(us) - (MIN(us) % 3600000000) AS gmin,
      |    MAX(us) - (MAX(us) % 3600000000) AS gmax
      |  FROM b GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(gmin, gmax, 3600000000)) AS grid_us
      |  FROM r),
      |p AS (
      |  SELECT g.user_id, g.grid_us, b.value AS v_prev, b.us AS t_prev
      |  FROM grid g ASOF LEFT JOIN b
      |    ON g.user_id = b.user_id AND b.us <= g.grid_us),
      |f AS (
      |  SELECT p.user_id, p.grid_us, p.v_prev, p.t_prev,
      |    b2.value AS v_next, b2.us AS t_next
      |  FROM p ASOF LEFT JOIN b b2
      |    ON p.user_id = b2.user_id AND b2.us >= p.grid_us)
      |SELECT user_id, grid_us,
      |  ROUND(CASE WHEN t_next = t_prev THEN v_prev
      |    ELSE v_prev + (v_next - v_prev) * (grid_us - t_prev) / (t_next - t_prev)
      |    END, 6) AS value
      |FROM f""".stripMargin

  /** EWMA recurrence per user series (α = 0.3). The oracle folds the
    * same recurrence over a prefix-list window with `list_reduce`
    * (seed = first element, exactly the mapPartitions seeding), so
    * even this order-dependent op is hash-matched, not rows-only. */
  def ewmaSeries(s: SparkSession, d: String): DataFrame =
    graft.ts.RollingFeatures.ewma(
      t(s, d, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")),
      "user_id", Seq(col("ts"), col("event_id")), "value",
      alpha = 0.3, idCol = "event_id")

  val ewmaOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, value,
      |    list(value) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id
      |      ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM events WHERE user_id < 3)
      |SELECT user_id, event_id, value AS x,
      |  ROUND(list_reduce(pfx, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
      |FROM o""".stripMargin

  /** Holt linear-trend smoothing ([[graft.ts.RollingFeatures.holt]],
    * α=0.5 β=0.3): two-variable level+trend recurrence — a window
    * frame can't express it, `list_reduce` can't carry a pair, so the
    * oracle replays EVERY step with a linear recursive CTE (per-group
    * recursion on the row index, identical IEEE expressions; the
    * `1−α`/`1−β` weights are double subtractions in SQL too). */
  def holtSeries(s: SparkSession, d: String): DataFrame =
    graft.ts.RollingFeatures.holt(
      t(s, d, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")),
      "user_id", Seq(col("ts"), col("event_id")), "value",
      alpha = 0.5, beta = 0.3, idCol = "event_id")

  val holtOracle: String =
    """WITH RECURSIVE o AS (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events WHERE user_id < 3),
      |h(user_id, rn, event_id, x, l, b) AS (
      |  SELECT user_id, rn, event_id, value, value, CAST(0.0 AS DOUBLE)
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.rn, o.event_id, o.value,
      |    0.5 * o.value
      |      + (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (h.l + h.b),
      |    0.3 * (0.5 * o.value
      |        + (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (h.l + h.b)
      |        - h.l)
      |      + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * h.b
      |  FROM h JOIN o ON o.user_id = h.user_id AND o.rn = h.rn + 1)
      |SELECT user_id, event_id, x, ROUND(l, 6) AS level,
      |  ROUND(b, 6) AS trend, ROUND(l + b, 6) AS forecast
      |FROM h""".stripMargin

  // ---- M1/M2: sklearn-exact scalers -----------------------------------
  def standardizeStats(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_discount")
    val li = t(s, d, "lineitem")
    val scaled = Scalers.fitStandard(li, cols).transform(li)
    // `+ 0.0` canonicalizes IEEE -0.0 to 0.0 (the mean of a z-scored
    // column); the driver's byte-hash gate distinguishes signed zeros.
    def r6(c: Column, name: String): Column = (round(c, 6) + lit(0.0)).as(name)
    scaled.agg(
      r6(avg(col("l_quantity")), "q_mean"),
      r6(stddev_pop(col("l_quantity")), "q_std"),
      r6(min(col("l_quantity")), "q_min"),
      r6(max(col("l_quantity")), "q_max"),
      r6(avg(col("l_discount")), "d_mean"),
      r6(stddev_pop(col("l_discount")), "d_std"),
      r6(min(col("l_discount")), "d_min"),
      r6(max(col("l_discount")), "d_max"))
  }

  val standardizeOracle: String =
    """WITH s AS (
      |  SELECT AVG(l_quantity) mq, STDDEV_POP(l_quantity) sq,
      |    AVG(l_discount) md, STDDEV_POP(l_discount) sd
      |  FROM lineitem),
      |z AS (
      |  SELECT (l_quantity - mq) / sq AS zq, (l_discount - md) / sd AS zd
      |  FROM lineitem, s)
      |SELECT ROUND(AVG(zq), 6) + 0 AS q_mean, ROUND(STDDEV_POP(zq), 6) + 0 AS q_std,
      |  ROUND(MIN(zq), 6) + 0 AS q_min, ROUND(MAX(zq), 6) + 0 AS q_max,
      |  ROUND(AVG(zd), 6) + 0 AS d_mean, ROUND(STDDEV_POP(zd), 6) + 0 AS d_std,
      |  ROUND(MIN(zd), 6) + 0 AS d_min, ROUND(MAX(zd), 6) + 0 AS d_max
      |FROM z""".stripMargin

  def minMaxStats(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val scaled = Scalers.fitMinMax(li, Seq("l_extendedprice")).transform(li)
    scaled.agg(
      round(avg(col("l_extendedprice")), 6).as("p_mean"),
      round(min(col("l_extendedprice")), 6).as("p_min"),
      round(max(col("l_extendedprice")), 6).as("p_max"))
  }

  val minMaxOracle: String =
    """WITH s AS (SELECT MIN(l_extendedprice) lo, MAX(l_extendedprice) hi FROM lineitem),
      |z AS (SELECT (l_extendedprice - lo) / (hi - lo) AS zp FROM lineitem, s)
      |SELECT ROUND(AVG(zp), 6) AS p_mean, ROUND(MIN(zp), 6) AS p_min,
      |  ROUND(MAX(zp), 6) AS p_max FROM z""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d1_hist_quantity", histQuantity,
      Some(Histogram.oracleSql("lineitem", "l_quantity"))),
    Q("d1_hist_price", histPrice,
      Some(Histogram.oracleSql("lineitem", "l_extendedprice"))),
    Q("d2_scatter_sample", scatterSample, Some(scatterOracle)),
    Q("d4_group_series", groupSeries, Some(groupSeriesOracle)),
    Q("d3_corr_lineitem", corrLineitem, Some(corrOracle)),
    Q("d1_hist_all", histAll, Some(histAllOracle)),
    Q("d3_corr_matrix", corrMatrix, Some(corrMatrixOracle)),
    Q("d5_acf_events", acfEvents,
      Some(Acf.oracleSql("events", "user_id", "value", 10))),
    Q("d5_acf_agg", acfEventsAgg,
      Some(Acf.oracleSql("events", "user_id", "value", 10))),
    Q("d7_eval_metrics", evalMetrics, Some(evalMetricsOracle)),
    Q("p1_null_audit", nullAudit, Some(nullAuditOracle)),
    Q("p7_distinct_event_types", distinctEventTypes, Some(distinctOracle)),
    Q("w1_split_counts", splitCounts, Some(splitCountsOracle)),
    Q("w2_window_stats", windowStats, Some(windowStatsOracle)),
    Q("ts_rolling_features", rollingFeatures, Some(rollingOracle)),
    Q("ts_ewma", ewmaSeries, Some(ewmaOracle)),
    Q("ts_holt_trend", holtSeries, Some(holtOracle)),
    Q("ts_resample_locf", resampleLocf, Some(resampleLocfOracle)),
    Q("ts_resample_interp", resampleInterp, Some(resampleInterpOracle)),
    Q("m1_standardize_stats", standardizeStats, Some(standardizeOracle)),
    Q("m2_minmax_stats", minMaxStats, Some(minMaxOracle)))
}
