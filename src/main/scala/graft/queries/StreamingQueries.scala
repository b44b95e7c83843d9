package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream
import QUtil._

/** Structured Streaming queries IN the correctness gate: each runs a
  * real streaming job (readStream → transform → memory sink) over the
  * events parquet as a bounded replay (`Trigger.AvailableNow`), then
  * returns the sink table — which the DuckDB oracle checks against
  * the equivalent batch SQL. This pins the batch/stream equivalence
  * the engine claims (SURVEY §2.5) inside the driver gate itself, not
  * just in StreamingSpec.
  *
  * Output-mode discipline: gate queries use `complete` for windowed
  * aggregations (every window emitted at termination — bounded replay
  * ≡ batch exactly; `append` would hold back windows newer than the
  * final watermark). The production append-mode forms with
  * watermark eviction stay pinned by StreamingSpec — same transforms,
  * different sink mode.
  */
object StreamingQueries {

  /** One-pass cardinality estimate (partial HLL aggs, no shuffle of
    * data rows) — the "engine already counts distincts cheaply" half
    * of the derivation. */
  private def approxKeys(df: DataFrame,
                         key: org.apache.spark.sql.Column): Long =
    df.agg(approx_count_distinct(key)).head().getLong(0)

  /** Streaming tumbling 1-day windows per type (complete mode) — the
    * streaming twin of `events_tumbling_window`; the oracle is the
    * same batch SQL shape. */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
    // state keys = (day window, type)
    val keys = approxKeys(graft.sources.Tables.load(s, d, "events"),
      concat_ws("/", date_trunc("day", col("ts")), col("event_type")))
    val agg = ev
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(dec6(col("value"))).as("sum_value"))
      .select(col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
    EventsStream.startMemorySink(agg, "st_tumbling", "complete",
      stateKeys = Some(keys), availableNow = true).awaitTermination()
    s.table("st_tumbling")
  }

  val streamTumblingOracle: String =
    """SELECT CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) * 86400 AS BIGINT) AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Streaming exact dedup-on-arrival, witnessed end-to-end: the
    * stream is the events source UNIONED WITH ITSELF (every event
    * delivered twice — the redelivery scenario dedupStream exists
    * for), deduped by event_id within the watermark, then counted per
    * type in batch. A broken dedup doubles the counts; the oracle
    * recomputes the per-type counts from the single batch table. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val once = EventsStream.readEvents(s, path)
    val twice = once.unionByName(EventsStream.readEvents(s, path))
    val deduped = EventsStream.dedupStream(twice, "event_id")
      .select("event_id", "event_type")
    // state keys = distinct event ids seen within the watermark
    val keys = approxKeys(graft.sources.Tables.load(s, d, "events"),
      col("event_id"))
    EventsStream.startMemorySink(deduped, "st_dedup",
      stateKeys = Some(keys), availableNow = true).awaitTermination()
    s.table("st_dedup")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct"))
  }

  val streamDedupOracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT event_id) AS n_distinct
      |FROM events GROUP BY event_type""".stripMargin

  /** Streaming NEAR-dup-on-arrival ([[EventsStream.neardupStream]]),
    * witnessed end-to-end: the doc stream is the documents source
    * unioned with a RE-CRAWL of itself — every doc re-delivered 10
    * minutes later under a new id with reversed word order and
    * uppercased text (different bytes, same content — the scenario
    * exact dedup misses and the fingerprint key exists for) — then
    * fingerprint-deduped within the watermark. Exactly one arrival
    * per content fingerprint survives, so the batch twin is one
    * DISTINCT over the md5 fingerprints of the single documents
    * table: count, min and max of the surviving fingerprint SET are
    * all pinned (md5 hex strings compare identically in both
    * engines). A broken near-dup key doubles the count; a dropped
    * original flips min/max. */
  def streamNeardup(s: SparkSession, d: String): DataFrame = {
    val sch = graft.sources.Tables.load(s, d, "documents").schema
    // single-file table → parent dir + pathGlobFilter (the streaming
    // file source only accepts directories — readEvents' discipline)
    def src() = s.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id").cast("long")))
    val recrawl = src()
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text",
        upper(concat_ws(" ", reverse(split(trim(col("text")), "\\s+")))))
      .withColumn("ts", col("ts") + expr("INTERVAL 10 MINUTES"))
    val deduped = EventsStream
      .neardupStream(src().unionByName(recrawl), "text", "ts")
      .select("fp")
    // state keys = distinct content fingerprints within the watermark
    val keys = approxKeys(graft.sources.Tables.load(s, d, "documents"),
      graft.scaleops.TextAnalysis.fingerprint(col("text")))
    EventsStream.startMemorySink(deduped, "st_neardup",
      stateKeys = Some(keys), availableNow = true).awaitTermination()
    s.table("st_neardup")
      .agg(count(lit(1)).as("n_survivors"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
  }

  val streamNeardupOracle: String =
    """WITH fp AS (
      |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fp
      |  FROM documents)
      |SELECT COUNT(*) AS n_survivors, COUNT(*) AS n_distinct_fp,
      |  MIN(fp) AS min_fp, MAX(fp) AS max_fp
      |FROM fp""".stripMargin

  /** Stream-stream interval join (purchases × preceding-hour clicks,
    * dual watermarks) under bounded replay, aggregated per purchase —
    * the streaming twin of `range_join_clicks`' pair semantics,
    * reduced to per-type totals so the append-mode inner join's
    * emit-on-match rows land in a deterministic shape. */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
    val joined = EventsStream.purchaseClickJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"))
    // join state buffers ROWS (both sides, within the watermark
    // horizon), so the estimate is row volume, not key cardinality
    val stateRows = graft.sources.Tables.load(s, d, "events")
      .filter(col("event_type").isin("purchase", "click")).count()
    EventsStream.startMemorySink(joined, "st_ssjoin",
      stateKeys = Some(stateRows), availableNow = true).awaitTermination()
    s.table("st_ssjoin")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases_matched"),
        moneySum(dec6(col("click_value"))).as("sum_click_value"))
  }

  val streamIntervalJoinOracle: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events WHERE event_type = 'click')
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p.event_id) AS n_purchases_matched,
      |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sum_click_value
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us""".stripMargin

  /** The custom mergeable KLL aggregate RUNNING IN A STREAM: per-type
    * quantile sketches build incrementally across micro-batches
    * (complete mode; TypedImperativeAggregate state merges across
    * triggers exactly as across partitions), then the sketch's p50/p90
    * certify against the batch truth with the same 5% rank-error
    * witness as `events_quantile_daily_merge`. */
  def streamQuantile(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KllSketch
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
      .filter(col("value").isNotNull)
    val agg = ev.groupBy("event_type")
      .agg(KllSketch.agg(col("value")).as("sk"))
      .select(col("event_type"),
        KllSketch.quantileOf(col("sk"), 0.5).as("p50_est"),
        KllSketch.quantileOf(col("sk"), 0.9).as("p90_est"))
    // state keys = event types (each carrying one O(k·log n) sketch)
    val keys = approxKeys(graft.sources.Tables.load(s, d, "events"),
      col("event_type"))
    EventsStream.startMemorySink(agg, "st_kll", "complete",
      stateKeys = Some(keys), availableNow = true).awaitTermination()
    val batch = graft.sources.Tables.load(s, d, "events")
      .filter(col("value").isNotNull)
    batch.join(broadcast(s.table("st_kll")), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p90_est"), 1L).otherwise(0L)).as("r90"))
      .select(col("event_type"), col("n_values"),
        (abs(col("r50").cast("double") / col("n_values") - 0.5) <= 0.05)
          .as("p50_rank_ok"),
        (abs(col("r90").cast("double") / col("n_values") - 0.9) <= 0.05)
          .as("p90_rank_ok"))
  }

  val streamQuantileOracle: String =
    """SELECT event_type, COUNT(*) AS n_values,
      |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin

  /** The Spark-4 arbitrary-state API (`transformWithState` +
    * RocksDB state store) IN the gate: per-user gap sessionization via
    * a typed `StatefulProcessor` emitting CLOSED sessions (a session
    * closes when a ≥30-min-later event arrives; each user's final
    * session stays open in state and never emits — exactly the
    * unbounded-stream contract). The oracle replays the lag/cumsum
    * batch sessionization and DROPS each user's last session, so the
    * certified equivalence is the real open/closed split, not a
    * bounded-replay artifact. StreamingSpec separately pins tws ≡
    * flatMapGroupsWithState row-for-row. */
  def streamTwsSessions(s: SparkSession, d: String): DataFrame = {
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
    // state keys = users (one ValueState entry each)
    val keys = approxKeys(graft.sources.Tables.load(s, d, "events"),
      col("user_id"))
    val sessions = EventsStream.twsSessions(ev)
      .toDF("user_id", "sess_events")
    EventsStream.startMemorySink(sessions, "st_tws", stateKeys = Some(keys),
      rocksDb = true, availableNow = true).awaitTermination()
    s.table("st_tws")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_closed_sessions"),
        sum(col("sess_events")).as("n_events_closed"),
        max(col("sess_events")).as("max_closed_session_events"))
  }

  /** EVENT-TIME sessionization IN the gate
    * ([[EventsStream.twsSessionsEventTime]], r13): the watermark —
    * not wall-clock — closes sessions, so the drained stream equals
    * the FULL batch gap-sessionization (the processing-time tws row
    * can only certify closed-so-far; this row certifies every
    * session, final open ones included, because a staged sentinel
    * flush pushes the watermark past every per-key max+gap expiry —
    * the production analogue of a stream that keeps flowing). The
    * oracle is the complete sessionization with NO last-session
    * exclusion. */
  def streamEtsSessions(s: SparkSession, d: String): DataFrame = {
    val sentinelUser = 9999999999L
    // staged temp dirs (one holds a FULL copy of events.parquet) are
    // deleted on exit — a warm bench reps this row several times per
    // sitting, and the pre-r14 leak accumulated full-size copies of
    // the events table under /tmp (r13 ADVICE)
    var staged: List[java.nio.file.Path] = Nil
    try {
      val batchEv = graft.sources.Tables.load(s, d, "events")
      // one scan for both driver-side scalars (r15: was two separate
      // jobs — max ts for the sentinel, HLL keys for the state
      // partition count; same aggregates, same values, one pass)
      val hdr = batchEv.agg(max(unix_micros(col("ts"))),
        approx_count_distinct(col("user_id"))).head()
      // max(ts) is NULL on an empty events table — fail with a clear
      // message instead of an NPE from getLong (ADVICE r15)
      require(!hdr.isNullAt(0),
        s"stream_ets_sessions: events table at $d is empty (max ts is null)")
      val maxUs = hdr.getLong(0)
      val keys = hdr.getLong(1)
      val expectTotal = graft.queries.Events.sessionize(s, d)
        .agg(sum(col("n_sessions"))).head().getLong(0)
      // stage: the events parquet + one sentinel flush row whose ts
      // sits past every (max + gap + delay) so the final watermark
      // covers every timer expiry
      val dir = java.nio.file.Files.createTempDirectory("graft-ets-gate")
      staged ::= dir
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        dir.resolve("events.parquet"))
      val sch = s.read.parquet(s"$d/events.parquet").schema
      val sentinelTsUs = maxUs + 1800000000L + 7200000000L + 3600000000L
      val vals: Array[Any] = sch.fields.map { f =>
        import org.apache.spark.sql.types._
        (f.name, f.dataType) match {
          case ("user_id", LongType) => sentinelUser
          case ("user_id", IntegerType) => Int.MaxValue
          case ("ts", LongType) => sentinelTsUs * 1000L // nanos
          case ("ts", TimestampType) =>
            new java.sql.Timestamp(sentinelTsUs / 1000L)
          // unadjusted (pandas-style) parquet timestamps read as NTZ
          case ("ts", TimestampNTZType) =>
            java.time.LocalDateTime.ofEpochSecond(
              sentinelTsUs / 1000000L,
              ((sentinelTsUs % 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          case (_, LongType) => 0L
          case (_, IntegerType) => 0
          case (_, DoubleType) => 0.0
          case (_, FloatType) => 0.0f
          case (_, BooleanType) => false
          case (_, StringType) => ""
          case (_, TimestampType) => new java.sql.Timestamp(0L)
          case (_, TimestampNTZType) =>
            java.time.LocalDateTime.ofEpochSecond(0L, 0,
              java.time.ZoneOffset.UTC)
          case _ => null
        }
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft-ets-flush")
      staged ::= tmp
      s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(vals: _*)), sch)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir.toFile, "zz_flush.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      val ev = EventsStream.readEvents(s, dir.toString)
      val q = EventsStream.startMemorySink(
        EventsStream.twsSessionsEventTime(ev, delay = "2 hours")
          .toDF("user_id", "sess_events"),
        "st_ets", stateKeys = Some(keys), rocksDb = true)
      // event-time timers fire in the no-data batch AFTER the
      // watermark advances — processAllAvailable can return before
      // it, so poll the sink against the known batch total. 50 ms
      // grain (r15): the sink count is a driver-local memory-table
      // scan, so a finer poll costs ~nothing and shaves the
      // up-to-250 ms post-completion wait the old grain added.
      val deadline = System.currentTimeMillis() + 120000L
      var drained = -1L
      while (drained < expectTotal &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(50L)
        drained = s.table("st_ets")
          .filter(col("user_id") =!= sentinelUser).count()
      }
      q.stop()
    } finally {
      // the memory-sink result is fully materialized in st_ets, so
      // the staged inputs can go now; best-effort — a deletion
      // failure must not mask the row's result (or a primary
      // exception from the try block)
      for (p <- staged) {
        try graft.sources.Artifacts.deleteRecursively(p)
        catch {
          case e: java.io.IOException =>
            System.err.println(s"[stream_ets] staged-input cleanup failed for $p: $e")
        }
      }
    }
    s.table("st_ets")
      .filter(col("user_id") =!= sentinelUser)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"))
  }

  /** The gap-sessionization CTEs both session oracles start from:
    * `g` (each event's previous ts per user), `m` (new-session flag at
    * a gap of 30 min or more), `sess` (running session id). */
  private val sessionCtes: String =
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
      |""".stripMargin

  val streamEtsSessionsOracle: String = sessionCtes +
    """per_sess AS (
      |  SELECT user_id, sess_id, COUNT(*) AS sess_events
      |  FROM sess GROUP BY user_id, sess_id)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(sess_events) AS BIGINT) AS n_events,
      |  MAX(sess_events) AS max_session_events
      |FROM per_sess GROUP BY user_id""".stripMargin

  val streamTwsSessionsOracle: String = sessionCtes +
    """per_sess AS (
      |  SELECT user_id, sess_id, COUNT(*) AS sess_events,
      |    MAX(sess_id) OVER (PARTITION BY user_id) AS last_sess
      |  FROM sess GROUP BY user_id, sess_id)
      |SELECT user_id, COUNT(*) AS n_closed_sessions,
      |  CAST(SUM(sess_events) AS BIGINT) AS n_events_closed,
      |  MAX(sess_events) AS max_closed_session_events
      |FROM per_sess WHERE sess_id < last_sess GROUP BY user_id""".stripMargin

  /** Streaming CUSUM IN the gate: the per-user (s⁺, s⁻) recurrence
    * carried by `transformWithState` over the event stream, baseline
    * means decimal-exact from the batch table (stream-static join).
    * The oracle is the SAME list_reduce replay that certifies the
    * batch `ts_cusum_changes` — so the certified statement is
    * "streaming state fold ≡ batch fold ≡ DuckDB fold", one
    * trajectory pinned across all three execution models. */
  def streamCusum(s: SparkSession, d: String): DataFrame = {
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
      .filter(col("user_id") < 3 && col("value").isNotNull)
    val batch = graft.sources.Tables.load(s, d, "events")
      .filter(col("user_id") < 3 && col("value").isNotNull)
    // identical decimal-exact mean as the batch cusum operator
    val mu = batch.groupBy("user_id").agg(
      (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(lit(1))).as("mu"))
    val out = EventsStream.cusumStream(ev, mu, slack = 5.0, threshold = 50.0)
      .toDF("user_id", "event_id", "x", "cusum_pos", "cusum_neg", "alarm")
    EventsStream.startMemorySink(out, "st_cusum", stateKeys = Some(3L),
      rocksDb = true, availableNow = true).awaitTermination()
    s.table("st_cusum")
  }

  val streamCusumOracle: String = graft.ts.RollingFeatures.cusumOracleSql(
    "events", "user_id", "value", 5.0, 50.0,
    "user_id < 3 AND value IS NOT NULL")

  /** Native `session_window` gap sessionization (30-min inactivity
    * gap) per user, in a bounded streaming replay — the built-in
    * operator twin of `stream_tws_sessions` (which pins the same
    * semantics hand-built on transformWithState; a user of either
    * surface gets the same sessions). Complete mode emits every
    * merged session at termination ≡ batch. Session bounds are exact
    * micros: start = first event, end = last event + gap, and the
    * merge rule is touch-inclusive (a gap of EXACTLY 30 min still
    * MERGES — measured, StreamingSpec boundary test; only a strictly
    * larger gap starts a new session), so the oracle's islands SQL
    * uses a strict > on the lag difference. */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    val ev = EventsStream.readEvents(s, s"$d/events.parquet")
    // state keys ≈ distinct (user, half-hour) buckets — the session
    // count upper bound the store must hold in complete mode
    val keys = approxKeys(graft.sources.Tables.load(s, d, "events"),
      concat_ws("/", col("user_id"),
        floor(unix_micros(col("ts")) / lit(1800000000L))))
    val agg = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(dec6(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n_events"), col("sum_value"))
    EventsStream.startMemorySink(agg, "st_session_win", "complete",
      stateKeys = Some(keys), availableNow = true).awaitTermination()
    s.table("st_session_win")
  }

  val streamSessionWindowOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |m AS (
      |  SELECT user_id, us, value,
      |    CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |      OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |g AS (
      |  SELECT user_id, us, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, MIN(us) AS sess_start,
      |  MAX(us) + 1800000000 AS sess_end, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid""".stripMargin

  val all: Seq[Q] = Seq(
    Q("stream_session_window", streamSessionWindow, Some(streamSessionWindowOracle)),
    Q("stream_cusum", streamCusum, Some(streamCusumOracle)),
    Q("stream_tumbling_window", streamTumbling, Some(streamTumblingOracle)),
    Q("stream_dedup_counts", streamDedup, Some(streamDedupOracle)),
    Q("stream_neardup_counts", streamNeardup, Some(streamNeardupOracle)),
    Q("stream_interval_join", streamIntervalJoin, Some(streamIntervalJoinOracle)),
    Q("stream_quantile_sketch", streamQuantile, Some(streamQuantileOracle)),
    Q("stream_tws_sessions", streamTwsSessions, Some(streamTwsSessionsOracle)),
    Q("stream_ets_sessions", streamEtsSessions, Some(streamEtsSessionsOracle)))
}
