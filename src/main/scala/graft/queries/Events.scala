package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QUtil._

/** Event-time operators over the `events` table: tumbling / sliding
  * windows, gap-based sessionization, JSON property extraction.
  *
  * The reference has no streaming (SURVEY.md §2.5) — these are the
  * batch formulations; `graft.streaming.EventsStream` carries the
  * Structured Streaming variants of the same aggregations.
  *
  * Timestamp discipline: `events.ts` is nanosecond-precision in the
  * parquet files; Spark truncates to microseconds on read, so every
  * oracle casts `ts` to microsecond TIMESTAMP first. Window keys are
  * emitted as epoch-second BIGINTs, never raw timestamps, to dodge
  * cross-engine timestamp encodings.
  */
object Events {

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")

  /** Tumbling 1-day windows per event type. At scale this is a single
    * map-side-combinable aggregate — the window key is a pure
    * projection, no shuffle beyond the final groupBy. */
  def tumbling(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("win_start", (floor(unix_micros(col("ts")) / 86400000000L) * 86400L).cast("long"))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n_events"),
        moneySum(dec6(col("value"))).as("sum_value"))

  val tumblingOracle: String =
    """SELECT CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) * 86400 AS BIGINT) AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding windows: 1 hour long, every 30 minutes — each event lands
    * in exactly 2 windows. Uses Spark's built-in `window()` (which
    * expands slide assignments without a join); key re-emitted as
    * epoch seconds. */
  def sliding(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(dec6(col("value"))).as("sum_value"))
      .select(col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val slidingOracle: String =
    """WITH e AS (
      |  SELECT event_type, CAST(value AS DECIMAL(18,6)) v,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 1800000000) * 1800 AS BIGINT) AS w1
      |  FROM events)
      |SELECT win_start, event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM (SELECT event_type, v, UNNEST([w1, w1 - 1800]) AS win_start FROM e)
      |GROUP BY win_start, event_type""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap), computed
    * with lag + running sum inside a per-user window — one shuffle on
    * user_id, linear per partition, no driver-side state. Semantics
    * match Spark's `session_window`: a gap of *exactly* 30 minutes
    * starts a new session. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val withGap = ev(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap.groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"))
  }

  /** NB: the running sum MUST repeat the (us, event_id) ORDER BY — a
    * bare `ROWS UNBOUNDED PRECEDING` leaves the accumulation order
    * unspecified and DuckDB then numbers sessions arbitrarily
    * (surfaced as a 1-session diff at sf0.1). */
  val sessionizeOracle: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM m),
      |per_sess AS (
      |  SELECT user_id, sess_id, COUNT(*) AS sess_events FROM sess GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(sess_events) AS BIGINT) AS n_events,
      |  MAX(sess_events) AS max_session_events
      |FROM per_sess GROUP BY user_id""".stripMargin

  /** The same sessionization through Spark's native `session_window`
    * operator — checked against the identical oracle as the
    * lag/cumsum form (the two must agree: a gap of exactly 30 min
    * starts a new session in both). */
  def sessionizeBuiltin(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"))

  /** JSON property extraction (`events.props` is a JSON string).
    * Spark side uses the codegen'd `get_json_object`; the oracle uses
    * a regex so it cannot depend on DuckDB's JSON extension. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        r6(sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))

  val jsonExtractOracle: String =
    """WITH j AS (
      |  SELECT event_type,
      |    CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  ROUND(CAST(CAST(SUM(k) AS VARCHAR) AS DOUBLE) / COUNT(k), 6) AS avg_k
      |FROM j GROUP BY event_type""".stripMargin

  /** Schema-full JSON parsing via `from_json` (vs `get_json_object`'s
    * path extraction): parse once into a typed struct, then project. */
  def jsonStruct(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    ev(s, d)
      .withColumn("j", from_json(col("props"), schema))
      .groupBy("event_type")
      .agg(count(col("j.k")).as("n_parsed"),
        min(col("j.k")).as("min_k"), max(col("j.k")).as("max_k"))
  }

  val jsonStructOracle: String =
    """WITH j AS (
      |  SELECT event_type,
      |    CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n_parsed, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM j GROUP BY event_type""".stripMargin

  /** Exact per-group quantiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both (n−1)p linear interpolation). */
  def quantilesByType(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy("event_type").agg(
      round(expr("percentile(value, 0.25)"), 6).as("p25"),
      round(expr("percentile(value, 0.5)"), 6).as("p50"),
      round(expr("percentile(value, 0.75)"), 6).as("p75"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"))

  val quantilesOracle: String =
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.25), 6) AS p25,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.75), 6) AS p75,
      |  ROUND(quantile_cont(value, 0.95), 6) AS p95
      |FROM events GROUP BY event_type""".stripMargin

  /** Winsorization (percentile clipping) per group — the outlier
    * treatment ML feature prep applies before scaling: values clipped
    * into the group's exact [p05, p95] band (the same
    * `percentile` ≡ `quantile_cont` parity as the quantile query),
    * with the clipped-row counts and the winsorized mean reported.
    * Clipped values round to 6 dp BEFORE the decimal sum so the mean
    * is associative and boundary-safe cross-engine. One aggregate for
    * the edges (broadcast back) + one pass to clip — two shuffles of
    * group-sized state at any scale. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val edges = ev(s, d).groupBy(col("event_type").as("et"))
      .agg(expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    val clipped = ev(s, d)
      .join(broadcast(edges), col("event_type") === col("et"))
      .withColumn("cv", round(least(greatest(col("value"), col("lo")),
        col("hi")), 6))
    clipped.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        r6(sum(dec6(col("cv"))).cast("double") / count(lit(1)))
          .as("winsorized_mean"))
  }

  val winsorizeOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS lo,
      |    quantile_cont(value, 0.95) AS hi
      |  FROM events GROUP BY event_type)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high,
      |  ROUND(CAST(CAST(SUM(CAST(ROUND(LEAST(GREATEST(value, lo), hi), 6)
      |    AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
      |    AS winsorized_mean
      |FROM events JOIN e USING (event_type)
      |GROUP BY event_type""".stripMargin

  /** Pivot: per-user event-type counts as columns (the D9 pivot
    * pattern generalized). Fixed pivot values keep the single-pass
    * plan (no distinct-scan) and a stable schema. */
  def pivotCounts(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    ev(s, d)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  val pivotOracle: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events GROUP BY user_id""".stripMargin

  /** Funnel: per user, first signup and the first purchase at-or-after
    * it — two conditional aggregates and one broadcastable self-join,
    * no per-user iteration. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val signups = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("signup_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
    signups
      .join(purchases, Seq("user_id"), "left")
      .groupBy("user_id", "signup_us")
      .agg(min(when(col("us") >= col("signup_us"), col("us")))
        .as("first_purchase_us"))
      .withColumn("converted",
        when(col("first_purchase_us").isNotNull, 1).otherwise(0))
      .withColumn("delay_us", col("first_purchase_us") - col("signup_us"))
  }

  val funnelOracle: String =
    """WITH s AS (
      |  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS signup_us
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT s.user_id, s.signup_us,
      |    MIN(CASE WHEN p.us >= s.signup_us THEN p.us END) AS first_purchase_us
      |  FROM s LEFT JOIN p ON s.user_id = p.user_id
      |  GROUP BY s.user_id, s.signup_us)
      |SELECT user_id, signup_us, first_purchase_us,
      |  CASE WHEN first_purchase_us IS NOT NULL THEN 1 ELSE 0 END AS converted,
      |  first_purchase_us - signup_us AS delay_us
      |FROM j""".stripMargin

  /** Day-of-week × hour activity profile. Both derived with pure
    * epoch arithmetic (1970-01-01 was a Thursday, hence the +4) so
    * the two engines share IEEE semantics exactly — calendar
    * functions differ in week-start conventions across dialects. */
  def dowHourly(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("dow", ((floor(col("us") / 86400000000L) + 4) % 7).cast("long"))
      // `%` (truncated modulo) matches the oracle's DuckDB `%` for
      // any sign; pmod would diverge on pre-1970 (negative) epochs.
      .withColumn("hr", floor((col("us") % 86400000000L) / 3600000000L).cast("long"))
      .groupBy("dow", "hr")
      .agg(count(lit(1)).as("n_events"),
        moneySum(dec6(col("value"))).as("sum_value"))

  val dowHourlyOracle: String =
    """SELECT
      |  CAST((FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) + 4) % 7 AS BIGINT) AS dow,
      |  CAST(FLOOR((epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) / 3600000000) AS BIGINT) AS hr,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Cohort retention: users bucketed by first-seen day; distinct
    * active users per (cohort day, day offset). Two aggregations and
    * one join, all keyed on user_id — a single co-partitioned shuffle
    * at scale. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("user_id"),
      floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
    val cohorts = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val retentionOracle: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day
      |  FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Cardinality sketching certified: exact distinct counts (the
    * DuckDB oracle recomputes them) plus engine-witnessed booleans
    * that the HLL++ estimates land within the sketch's design error
    * (rsd 0.05 → |est−exact|/exact ≤ 0.05; deterministic for fixed
    * input). The raw estimates are engine-specific so they certify
    * rather than print; PropertySpec bounds them numerically. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    ev(s, d).agg(
      countDistinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("user_id")).as("au"),
      countDistinct(col("event_id")).as("exact_events"),
      approx_count_distinct(col("event_id")).as("ae"))
      .select(col("exact_users"), col("exact_events"),
        (abs(col("au") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("approx_users_ok"),
        (abs(col("ae") - col("exact_events")).cast("double") /
          col("exact_events") <= 0.05).as("approx_events_ok"))

  val approxDistinctOracle: String =
    """SELECT COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(DISTINCT event_id) AS exact_events,
      |  TRUE AS approx_users_ok, TRUE AS approx_events_ok
      |FROM events""".stripMargin

  /** RE-AGGREGATABLE sketches — the 100 TB cardinality pattern:
    * build one DataSketches HLL per (day, type) partition, then
    * union the BINARY sketches for any rollup without rescanning the
    * raw data. Certified: per-day exact sums and the TRUE all-days
    * distinct count are recomputed by the oracle; the merged-sketch
    * estimate certifies within 5% of the true rollup (engine-
    * witnessed boolean — a broken union flips it). Raw sketch bytes
    * stay engine-specific; PropertySpec bounds the estimate
    * numerically. */
  def hllDailyMerge(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
      .withColumn("day", floor(unix_micros(col("ts")) / 86400000000L).cast("long"))
    val daily = e.groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sketch"),
        countDistinct(col("user_id")).as("exact_day_users"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("est_users_all_days"),
        sum(col("exact_day_users")).as("sum_daily_exact"),
        count(lit(1)).as("n_days"))
    val truth = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users_all_days"))
    merged.join(truth, "event_type")
      .select(col("event_type"), col("n_days"), col("sum_daily_exact"),
        col("exact_users_all_days"),
        (abs(col("est_users_all_days") - col("exact_users_all_days"))
          .cast("double") / col("exact_users_all_days") <= 0.05)
          .as("merged_est_ok"))
  }

  val hllDailyMergeOracle: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, COUNT(DISTINCT user_id) AS du
      |  FROM e GROUP BY 1, 2)
      |SELECT d.event_type, COUNT(*) AS n_days,
      |  CAST(SUM(d.du) AS BIGINT) AS sum_daily_exact,
      |  t.exact_users_all_days, TRUE AS merged_est_ok
      |FROM daily d JOIN (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users_all_days
      |  FROM e GROUP BY 1) t USING (event_type)
      |GROUP BY d.event_type, t.exact_users_all_days""".stripMargin

  /** RE-AGGREGATABLE quantile sketches — the percentile twin of
    * [[hllDailyMerge]], via the custom mergeable [[graft.functions.KllSketch]]
    * (Spark 4 has no persistable/re-mergeable quantile state): one
    * BINARY sketch per (day, type), merged per type, then p50/p90
    * rank queries over the merged sketch. Certified: n_values and
    * n_days are exact (oracle recomputes), and the TRUE normalized
    * rank of each estimate — count(value <= est)/n, computed by a
    * second pass in-engine — must land within the k=256 sketch's 5%
    * design error (a broken compaction or merge flips the witness).
    * Raw estimates are engine-specific; ExtensionsSpec bounds them
    * numerically. */
  def quantileDailyMerge(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KllSketch
    val e = ev(s, d)
      .filter(col("value").isNotNull)
      .withColumn("day", floor(unix_micros(col("ts")) / 86400000000L).cast("long"))
    val daily = e.groupBy("day", "event_type")
      .agg(KllSketch.agg(col("value")).as("sketch"))
    val merged = daily.groupBy("event_type")
      .agg(KllSketch.mergeAgg(col("sketch")).as("sk"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_days"),
        KllSketch.quantileOf(col("sk"), 0.5).as("p50_est"),
        KllSketch.quantileOf(col("sk"), 0.9).as("p90_est"))
    e.join(broadcast(merged), "event_type")
      .groupBy("event_type", "n_days")
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p90_est"), 1L).otherwise(0L)).as("r90"))
      .select(col("event_type"), col("n_days"), col("n_values"),
        (abs(col("r50").cast("double") / col("n_values") - 0.5) <= 0.05)
          .as("p50_rank_ok"),
        (abs(col("r90").cast("double") / col("n_values") - 0.9) <= 0.05)
          .as("p90_rank_ok"))
  }

  val quantileDailyMergeOracle: String =
    """SELECT event_type,
      |  COUNT(DISTINCT CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT)) AS n_days,
      |  COUNT(*) AS n_values, TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin

  /** Exact heavy hitters: the 3 most frequent integer-rounded values
    * per event type, ties broken by value — the deterministic twin of
    * approximate top-k sketches. One groupBy + a rank window over the
    * (small) per-group aggregate. */
  def topValuesByType(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("val").asc)
    ev(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), round(col("value"), 0).as("val"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select("event_type", "rank", "val", "cnt")
  }

  val topValuesOracle: String =
    """WITH g AS (
      |  SELECT event_type, ROUND(value, 0) AS val, COUNT(*) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY cnt DESC, val ASC) AS INT) AS rank, val, cnt
      |FROM g QUALIFY rank <= 3""".stripMargin

  /** Forecast backtest with a seasonal-naive baseline — the
    * evaluation harness a time-series AutoML needs before any model
    * earns its keep: predict each event's value as the value 7
    * observations earlier (same entity), score MAE per entity over
    * the rows where the lag exists. One window pass; per-row double
    * ops are deterministic, the MAE sum is decimal-exact. */
  def seasonalBaseline(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("pred", lag(col("value"), 7).over(w))
      .filter(col("pred").isNotNull && col("value").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_scored"),
        round(moneySum(dec6(abs(col("value") - col("pred")))) /
          count(lit(1)), 6).as("mae"))
      .filter(col("n_scored") >= 3)
  }

  val seasonalBaselineOracle: String =
    """WITH p AS (
      |  SELECT user_id, value,
      |    LAG(value, 7) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pred
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_scored,
      |  ROUND(CAST(CAST(SUM(CAST(ABS(value - pred) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mae
      |FROM p WHERE pred IS NOT NULL AND value IS NOT NULL
      |GROUP BY user_id HAVING COUNT(*) >= 3""".stripMargin

  /** OHLC resample — downsampling a tick stream to 1-hour bars per
    * event type: open/close are the first/last values in (ts,
    * event_id) order (deterministic ties), high/low/volume are plain
    * aggregates. One window pass + one groupBy, both sharing the
    * (type, bucket) partitioning. */
  def ohlcResample(s: SparkSession, d: String): DataFrame =
    // single map-side-combinable aggregate: open/close via
    // min_by/max_by on the (us, event_id) tuple — deterministic ties,
    // zero sorts (the window-rank formulation sorts every partition
    // twice before aggregating)
    ev(s, d)
      .filter(col("value").isNotNull)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bucket", (floor(col("us") / 3600000000L) * 3600L).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(
        min_by(col("value"), struct(col("us"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("close"),
        moneySum(dec6(col("value"))).as("volume"),
        count(lit(1)).as("n_ticks"))

  val ohlcOracle: String =
    """WITH b AS (
      |  SELECT event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000) * 3600 AS BIGINT) AS bucket,
      |    event_id
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT event_type, bucket, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
      |      ORDER BY us, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
      |      ORDER BY us DESC, event_id DESC) AS rn_d
      |  FROM b)
      |SELECT event_type, bucket,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS volume,
      |  COUNT(*) AS n_ticks
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Typed cogroup: clicks and purchases meet per user WITHOUT a join
    * blow-up — `KeyValueGroupedDataset.cogroup` delivers both sides'
    * iterators for each key after one co-partitioned shuffle. State
    * per key is O(1): one pass over purchases finds the first
    * purchase time, then clicks stream past it. (A join would
    * materialize clicks × purchase-rows before aggregating.) */
  def cogroupClickPurchase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = ev(s, d).select(col("user_id").cast("long"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val clicks = e.filter(col("event_type") === "click")
      .select($"user_id", $"us").as[(Long, Long)]
      .groupByKey(_._1)
    val purchases = e.filter(col("event_type") === "purchase")
      .select($"user_id", $"us").as[(Long, Long)]
      .groupByKey(_._1)
    clicks.cogroup(purchases) { (user, cs, ps) =>
      var firstP = Long.MaxValue
      var nP = 0L
      ps.foreach { p => nP += 1; if (p._2 < firstP) firstP = p._2 }
      var nC = 0L
      var nBefore = 0L
      cs.foreach { c => nC += 1; if (c._2 < firstP) nBefore += 1 }
      Iterator.single((user, nC, nP, nBefore))
    }.toDF("user_id", "n_clicks", "n_purchases", "clicks_before_first_purchase")
  }

  val cogroupOracle: String =
    """WITH c AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |fp AS (SELECT user_id, MIN(us) AS first_p, COUNT(*) AS n_p
      |       FROM p GROUP BY user_id),
      |cc AS (SELECT c.user_id, COUNT(*) AS n_c,
      |         COUNT(CASE WHEN fp.first_p IS NULL OR c.us < fp.first_p
      |           THEN 1 END) AS n_before
      |       FROM c LEFT JOIN fp USING (user_id) GROUP BY c.user_id)
      |SELECT COALESCE(cc.user_id, fp.user_id) AS user_id,
      |  COALESCE(cc.n_c, 0) AS n_clicks,
      |  COALESCE(fp.n_p, 0) AS n_purchases,
      |  COALESCE(cc.n_before, 0) AS clicks_before_first_purchase
      |FROM cc FULL OUTER JOIN fp ON cc.user_id = fp.user_id""".stripMargin

  /** Gaps-and-islands: maximal runs of consecutive same-type events
    * per user (the rn − rn_per_type difference trick — an island is
    * where the two row numbers advance in lockstep). Reports runs of
    * length ≥ 3. Two window passes over ONE user_id shuffle. */
  def gapIslands(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    ev(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("island",
        row_number().over(byUser) - row_number().over(byUserType))
      .groupBy("user_id", "event_type", "island")
      .agg(count(lit(1)).as("run_len"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .filter(col("run_len") >= 3)
      .select("user_id", "event_type", "run_len", "start_us", "end_us")
  }

  val gapIslandsOracle: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |    - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS island
      |  FROM events)
      |SELECT user_id, event_type, COUNT(*) AS run_len,
      |  MIN(us) AS start_us, MAX(us) AS end_us
      |FROM r GROUP BY user_id, event_type, island
      |HAVING COUNT(*) >= 3""".stripMargin

  /** Count–Min frequency sketching certified: per-type CMS over
    * rounded values (Spark's own `count_min_sketch` aggregate, read
    * back through the custom [[graft.functions.CmsEstimate]]), probed
    * at the exact top-3 heavy hitters per type. The exact counts are
    * oracle-recomputed; the witnesses pin the CMS guarantee —
    * estimate never undercounts, and overcounts by at most ε·N
    * (ε = 0.001, N = per-type rows). The frequency member of the
    * sketch trio (HLL cardinality / KLL quantiles / CMS counts), all
    * three re-aggregatable binaries. */
  def cmsFrequency(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("value").isNotNull)
      .withColumn("val", round(col("value"), 0).cast("long"))
    val sketches = e.groupBy("event_type")
      .agg(expr("count_min_sketch(val, 0.001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n_type"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("val").asc)
    val top = e.groupBy("event_type", "val")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
    top.join(broadcast(sketches), "event_type")
      .withColumn("est", graft.functions.CmsEstimate(col("cms"), col("val")))
      .select(col("event_type"), col("rank"), col("val"), col("cnt"),
        (col("est") >= col("cnt")).as("cms_lower_ok"),
        (col("est") <= col("cnt") + ceil(col("n_type") * 0.001))
          .as("cms_eps_ok"))
  }

  val cmsFrequencyOracle: String =
    """WITH g AS (
      |  SELECT event_type, CAST(ROUND(value, 0) AS BIGINT) AS val,
      |    COUNT(*) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY cnt DESC, val ASC) AS INT) AS rank, val, cnt,
      |  TRUE AS cms_lower_ok, TRUE AS cms_eps_ok
      |FROM g QUALIFY rank <= 3""".stripMargin

  /** One-pass uniform k-sample of event ids per type via the custom
    * mergeable ReservoirSample aggregate — O(k) state at every stage.
    * Certified: per-type sample size must be exactly min(k, n_type)
    * and every sampled id must belong to that type's event-id set
    * (`membership_ok`, an anti-join witness) — both adjudicable by
    * the oracle since n_type is SQL-computable. WHICH ids land in the
    * sample depends on the input partitioning (as for any parallel
    * reservoir), so sample content is pinned by ExtensionsSpec, not
    * the oracle. */
  def reservoirPerType(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val sampled = e.groupBy("event_type")
      .agg(graft.functions.ReservoirSample(col("event_id"), 100, 42L)
        .as("sampled_ids"),
        count(lit(1)).as("n_events"))
    val exploded = sampled.select(col("event_type"),
      explode(col("sampled_ids")).as("event_id"))
    val foreign = exploded.join(e.select("event_type", "event_id"),
      Seq("event_type", "event_id"), "left_anti")
      .groupBy("event_type").agg(count(lit(1)).as("n_foreign"))
    sampled.join(foreign, Seq("event_type"), "left")
      .select(col("event_type"), size(col("sampled_ids")).as("n_sampled"),
        col("n_events"),
        (coalesce(col("n_foreign"), lit(0L)) === 0).as("membership_ok"))
  }

  val reservoirOracle: String =
    """SELECT event_type,
      |  CAST(LEAST(100, COUNT(*)) AS INT) AS n_sampled,
      |  COUNT(*) AS n_events, TRUE AS membership_ok
      |FROM events GROUP BY event_type""".stripMargin

  /** Behavioral path mining: the 10 most common event-type TRIGRAMS
    * across user journeys. Each user's ordered sequence forms via
    * `array_sort(collect_list(struct(...)))` — deterministic without
    * a window sort; trigram MULTISET (not the distinct shingle set
    * WordShingles produces for Jaccard) via sequence+transform; one
    * explode + count + TakeOrdered top-k. */
  def pathTrigrams(s: SparkSession, d: String): DataFrame = {
    val seqs = ev(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(transform(
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")).as("path"))
    val p = col("path")
    val trigrams = when(size(p) >= 3,
      transform(sequence(lit(1), size(p) - 2), i =>
        concat_ws(" ", element_at(p, i), element_at(p, i + 1),
          element_at(p, i + 2))))
      .otherwise(array().cast("array<string>"))
    val w = Window.orderBy(col("cnt").desc, col("trigram").asc)
    seqs
      .select(explode(trigrams).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("trigram").asc).limit(10)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "trigram", "cnt")
  }

  val pathTrigramsOracle: String =
    """WITH seqs AS (
      |  SELECT user_id,
      |    list(event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
      |      AS path
      |  FROM events GROUP BY user_id),
      |tri AS (
      |  SELECT unnest(CASE WHEN len(path) >= 3
      |    THEN list_transform(generate_series(1, len(path) - 2),
      |      i -> path[i] || ' ' || path[i+1] || ' ' || path[i+2])
      |    ELSE [] END) AS trigram
      |  FROM seqs),
      |c AS (SELECT trigram, COUNT(*) AS cnt FROM tri GROUP BY trigram)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, trigram ASC) AS INT)
      |    AS rank, trigram, cnt
      |FROM c QUALIFY rank <= 10""".stripMargin

  /** Dynamic pivot — the two-phase form for when the column set
    * isn't known ahead (see [[graft.operators.DynamicPivot]]: bounded
    * domain discovery, fail-fast above the cap, deterministic sorted
    * schema). Day-of-week × event-type counts. */
  def pivotDynamic(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
      .withColumn("dow",
        ((floor(unix_micros(col("ts")) / 86400000000L) + 4) % 7).cast("long"))
    graft.operators.DynamicPivot.pivot(e, Seq("dow"), "event_type",
      count(lit(1)), fill = Some(0L))
  }

  val pivotDynamicOracle: String =
    """SELECT
      |  CAST((FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) + 4) % 7 AS BIGINT) AS dow,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
      |FROM events GROUP BY 1""".stripMargin

  /** Exact rolling 7-day active users (WAU) per day — rolling
    * DISTINCT can't be window-aggregated, so each (user, active-day)
    * pair explodes into the 7 report days it covers and the rolling
    * distinct becomes a plain per-day countDistinct: one dedup, one
    * bounded 7× explode, one aggregate — every stage distributed. */
  def wauExact(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .distinct()
    val bounds = broadcast(daily.agg(min(col("day")).as("lo"),
      max(col("day")).as("hi")))
    daily
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .crossJoin(bounds)
      .filter(col("report_day").between(col("lo"), col("hi")))
      .groupBy("report_day")
      .agg(countDistinct(col("user_id")).as("wau"))
  }

  val wauOracle: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day
      |  FROM events),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
      |cov AS (
      |  SELECT user_id, UNNEST(generate_series(day, day + 6)) AS report_day
      |  FROM e)
      |SELECT report_day, COUNT(DISTINCT user_id) AS wau
      |FROM cov, b WHERE report_day BETWEEN lo AND hi
      |GROUP BY report_day""".stripMargin

  /** Robust per-type anomaly report ([[graft.stats.Robust.madOutliers]]):
    * median/MAD with the k·1.4826 rule — the screen that survives the
    * masking that breaks z-scores. Both medians exact (`percentile` ≡
    * `quantile_cont`, the equivalence the quantile queries pin); the
    * outlier threshold is the same IEEE product in both engines. */
  def anomalyMad(s: SparkSession, d: String): DataFrame =
    graft.stats.Robust.madOutliers(ev(s, d), "event_type", "value")

  val anomalyMadOracle: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, ABS(value - med) AS absdev, med
      |  FROM events e JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n,
      |  ROUND(MIN(d.med), 6) AS med, ROUND(MIN(m.mad), 6) AS mad,
      |  CAST(SUM(CASE WHEN d.absdev >
      |      CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * m.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  ROUND(MAX(d.absdev), 6) AS max_absdev
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY 1""".stripMargin

  /** Audience-overlap estimation from mergeable sketches — the
    * segment-intersection question ("how many users both click AND
    * purchase?") answered WITHOUT a distinct-pair scan: HLL sketches
    * support union natively, so the intersection comes by
    * inclusion–exclusion |A∩B| = est(A)+est(B)−est(A∪B). At 100 TB
    * the two per-segment sketches are map-side aggregates a few KB
    * each; the exact twin (count distinct over the semi-joined user
    * sets) is gate-SF certification cost. Inclusion–exclusion error
    * compounds three estimates, so the witness bound is looser than
    * the single-sketch 5%: 15%, measured ≤ 7% at both gate SFs. */
  def hllOverlap(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val a = e.filter(col("event_type") === "click")
    val b = e.filter(col("event_type") === "purchase")
    val sk = a.agg(hll_sketch_agg(col("user_id")).as("ska"))
      .crossJoin(b.agg(hll_sketch_agg(col("user_id")).as("skb")))
      .crossJoin(e.filter(col("event_type").isin("click", "purchase"))
        .agg(hll_sketch_agg(col("user_id")).as("skab")))
      .select(
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(col("skab")).as("est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
    val exact = a.select("user_id").intersect(b.select("user_id"))
      .agg(count(lit(1)).as("exact_overlap"))
      .crossJoin(a.agg(countDistinct(col("user_id")).as("exact_a")))
      .crossJoin(b.agg(countDistinct(col("user_id")).as("exact_b")))
    sk.crossJoin(exact)
      .select(col("exact_a"), col("exact_b"), col("exact_overlap"),
        (abs(col("est_overlap") - col("exact_overlap"))
          / col("exact_overlap") <= 0.15).as("overlap_est_ok"),
        (abs(col("est_a") - col("exact_a")) / col("exact_a") <= 0.05)
          .as("a_est_ok"),
        (abs(col("est_b") - col("exact_b")) / col("exact_b") <= 0.05)
          .as("b_est_ok"))
  }

  val hllOverlapOracle: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT (SELECT COUNT(*) FROM a) AS exact_a,
      |  (SELECT COUNT(*) FROM b) AS exact_b,
      |  (SELECT COUNT(*) FROM a SEMI JOIN b USING (user_id))
      |    AS exact_overlap,
      |  TRUE AS overlap_est_ok, TRUE AS a_est_ok, TRUE AS b_est_ok""".stripMargin

  val all: Seq[Q] = Seq(
    Q("events_anomaly_mad", anomalyMad, Some(anomalyMadOracle)),
    Q("events_hll_overlap", hllOverlap, Some(hllOverlapOracle)),
    Q("events_tumbling_window", tumbling, Some(tumblingOracle)),
    Q("events_wau_exact", wauExact, Some(wauOracle)),
    Q("events_pivot_dynamic", pivotDynamic, Some(pivotDynamicOracle)),
    Q("events_path_trigrams", pathTrigrams, Some(pathTrigramsOracle)),
    Q("events_top_values", topValuesByType, Some(topValuesOracle)),
    Q("events_cms_frequency", cmsFrequency, Some(cmsFrequencyOracle)),
    Q("events_cogroup_funnel", cogroupClickPurchase, Some(cogroupOracle)),
    Q("events_gap_islands", gapIslands, Some(gapIslandsOracle)),
    Q("ts_ohlc_resample", ohlcResample, Some(ohlcOracle)),
    Q("ts_seasonal_baseline", seasonalBaseline, Some(seasonalBaselineOracle)),
    Q("events_sliding_window", sliding, Some(slidingOracle)),
    Q("events_sessionize", sessionize, Some(sessionizeOracle)),
    Q("events_sessionize_builtin", sessionizeBuiltin, Some(sessionizeOracle)),
    Q("events_json_extract", jsonExtract, Some(jsonExtractOracle)),
    Q("events_json_struct", jsonStruct, Some(jsonStructOracle)),
    Q("events_quantiles_by_type", quantilesByType, Some(quantilesOracle)),
    Q("ml_winsorize", winsorize, Some(winsorizeOracle)),
    Q("events_pivot_counts", pivotCounts, Some(pivotOracle)),
    Q("events_funnel", funnel, Some(funnelOracle)),
    Q("events_dow_hourly", dowHourly, Some(dowHourlyOracle)),
    Q("events_retention", retention, Some(retentionOracle)),
    Q("events_approx_distinct", approxDistinct, Some(approxDistinctOracle)),
    Q("events_hll_daily_merge", hllDailyMerge, Some(hllDailyMergeOracle)),
    Q("events_quantile_daily_merge", quantileDailyMerge,
      Some(quantileDailyMergeOracle)),
    Q("events_reservoir_sample", reservoirPerType, Some(reservoirOracle)))
}
