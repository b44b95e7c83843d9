package graft

import graft.queries.Events
import graft.streaming.EventsStream

/** Drives the Structured Streaming variants with the static parquet
  * source and checks they agree with their batch formulations — the
  * invariant that makes one logical codebase serve both modes. */
class StreamingSpec extends SparkSpec {

  /** File stream sources need a directory — stage the single events
    * parquet into one (simulating a landing zone receiving files). */
  private lazy val streamDir: String = {
    val dir = tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling counts equal the batch tumbling query") {
    val stream = EventsStream.readEvents(spark, streamDir)
    assert(stream.isStreaming)
    val q = EventsStream.startMemorySink(
      EventsStream.tumblingCounts(stream), "tumbling_out", "complete")
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("tumbling_out")
      .select("win_start", "event_type", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Events.tumbling(spark, sf)
      .select("win_start", "event_type", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join equals the batch range join") {
    import org.apache.spark.sql.functions._
    val stream = EventsStream.readEvents(spark, streamDir)
    val joined = EventsStream.purchaseClickJoin(
      stream.filter(col("event_type") === "purchase"),
      stream.filter(col("event_type") === "click"))
    val q = EventsStream.startMemorySink(joined, "ssjoin_out", "append")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin_out")
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = graft.sources.Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        unix_micros(col("ts")).as("c_us"))
    val batch = p.join(c, Seq("user_id"))
      .filter(col("c_us") >= col("p_us") - 3600000000L &&
        col("c_us") <= col("p_us"))
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup drops a replayed batch of events") {
    import org.apache.spark.sql.functions._
    // stage the same file TWICE — a replayed landing-zone delivery
    val dir = tempDir("graft-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_b.parquet"))
    val stream = EventsStream.readEvents(spark, dir.toString)
    val q = EventsStream.startMemorySink(
      EventsStream.dedupStream(stream, "event_id"), "dedup_out", "append")
    q.processAllAvailable(); q.stop()
    val total = spark.table("dedup_out").count()
    val distinctIds = spark.table("dedup_out")
      .select(countDistinct(col("event_id"))).head().getLong(0)
    val batchRows = graft.sources.Tables.load(spark, sf, "events").count()
    assert(total == batchRows)   // every duplicate row dropped
    assert(distinctIds == batchRows)
  }

  test("streaming near-dup drops a re-crawled batch of docs (changed " +
    "bytes, same content) and keeps one arrival per fingerprint") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // landing zone: originals, then a re-crawl with reversed word
    // order + different case + new ids — near-dups, not byte dups
    val dir = tempDir("graft-neardup")
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "hello world again"),
      (3L, "hello world again"), // natural in-batch duplicate of 2
      (4L, "something else entirely")).toDF("doc_id", "text")
    // the file source lists FLAT files — stage each delivery as a
    // single parquet file (coalesced write, part file moved up)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-neardup-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      val it = new scala.collection.Iterator[java.nio.file.Path] {
        def hasNext = part.hasNext; def next() = part.next()
      }
      val pf = it.find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(pf, dir.resolve(name))
    }
    stage(docs, "a.parquet")
    stage(docs.select((col("doc_id") + 100).as("doc_id"),
      upper(concat_ws(" ", reverse(split(col("text"), " ")))).as("text")),
      "b.parquet")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.toString)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val q = EventsStream.startMemorySink(
      EventsStream.neardupStream(stream, "text", "ts"),
      "neardup_out", "append")
    q.processAllAvailable(); q.stop()
    val out = spark.table("neardup_out")
    // 3 distinct fingerprints survive (docs 2/3 share one; the whole
    // re-crawl and the in-batch duplicate all drop)
    assert(out.count() == 3)
    assert(out.select(countDistinct(col("fp"))).head().getLong(0) == 3)
    // every surviving fp equals the batch fingerprint of the originals
    val batchFps = docs.select(
      graft.scaleops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct().as[String].collect().toSet
    assert(out.select("fp").as[String].collect().toSet == batchFps)
  }

  test("AvailableNow: stream to a parquet sink with checkpoint, then read back") {
    val outDir = tempDir("graft-sink-out")
    val stream = EventsStream.readEvents(spark, streamDir)
    val q = EventsStream.tumblingCounts(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; with a bounded
    // source every window but the last is closed
    val emitted = spark.read.parquet(s"$outDir/data")
    val batch = Events.tumbling(spark, sf)
      .select("win_start", "event_type", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = emitted.select("win_start", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, v) => assert(batch(k) == v) } // subset, equal
  }

  test("stateful flatMapGroupsWithState sessions: closed + open = batch total") {
    val stream = EventsStream.readEvents(spark, streamDir)
    val q = EventsStream.startMemorySink(
      EventsStream.statefulSessions(stream).toDF("user_id", "sess_events"),
      "stateful_out", "append")
    q.processAllAvailable(); q.stop()

    val closed = spark.table("stateful_out").count()
    val users = Events.sessionize(spark, sf).count() // one open session each
    val batchTotal = Events.sessionize(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_sessions")).head().getLong(0)
    assert(closed + users == batchTotal)
  }

  test("transformWithState sessions equal the flatMapGroupsWithState twin") {
    // the modern API needs the RocksDB state store: startMemorySink
    // sets it only across start() and restores the caller's value, and
    // the query still runs on it (the stream cloned the session)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    assert(!prev.exists(_.contains("RocksDB")))
    val q = EventsStream.startMemorySink(
      EventsStream.twsSessions(EventsStream.readEvents(spark, streamDir))
        .toDF("user_id", "sess_events"),
      "tws_out", rocksDb = true)
    assert(spark.conf.getOption(key) == prev)
    q.processAllAvailable(); q.stop()
    val q2 = EventsStream.startMemorySink(
      EventsStream.statefulSessions(EventsStream.readEvents(spark, streamDir))
        .toDF("user_id", "sess_events"),
      "fmgws_out", "append")
    q2.processAllAvailable(); q2.stop()
    val tws = spark.table("tws_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fmgws = spark.table("fmgws_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(tws.nonEmpty && tws == fmgws)
  }

  test("timer-evicting tws sessions DRAIN the state: closed + evicted " +
    "equals the batch gap-sessionization total, events conserved") {
    import org.apache.spark.sql.functions._
    // NOTE: with TimeMode.ProcessingTime the engine keeps running
    // micro-batches while timers are pending, so
    // processAllAvailable() never latches — poll the sink against
    // a deadline instead (the timers fire on their own)
    // evictMs must comfortably exceed any plausible inter-micro-batch
    // stall on a loaded CI box: a timer that fires while a key still
    // has events in flight splits that session and the strict
    // equality below fails flakily (r12 ADVICE). 15 s >> one
    // micro-batch; the poll loop below exits as soon as the last
    // timers fire, so the test only pays ~evictMs once.
    val q = EventsStream.startMemorySink(
      EventsStream.twsSessionsEvicting(
        EventsStream.readEvents(spark, streamDir), evictMs = 15000L)
        .toDF("user_id", "sess_events"),
      "tws_evict_out", rocksDb = true)
    val sess = Events.sessionize(spark, sf)
    val batchTotal = sess.agg(sum("n_sessions")).head().getLong(0)
    val deadline = System.currentTimeMillis() + 120000L
    var drained = spark.table("tws_evict_out").count()
    while (drained < batchTotal && System.currentTimeMillis() < deadline) {
      Thread.sleep(500L)
      drained = spark.table("tws_evict_out").count()
    }
    q.stop()
    // drained: the gap-closed sessions arrived with the data; every
    // user's final open session was EMITTED by its eviction timer
    // and the state cleared — closed + evicted equals the batch
    // total exactly, nothing dangles (the 100 TB TTL claim) and
    // nothing double-fires (strict equality, not >=)
    val out = spark.table("tws_evict_out")
    assert(out.count() == batchTotal,
      s"drained=${out.count()}, want $batchTotal")
    // event conservation: every event landed in exactly one session
    val nEvents = graft.sources.Tables.load(spark, sf, "events").count()
    assert(out.agg(sum("sess_events")).head().getLong(0) == nEvents)
    // per-user session counts equal the batch sessionization's
    val streamedPerUser = out.groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchPerUser = sess.select("user_id", "n_sessions").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedPerUser == batchPerUser)
  }

  test("EVENT-TIME session timers: drained output equals the batch " +
    "gap-sessionization EXACTLY on an out-of-order multi-file fixture " +
    "(replayable semantics — no wall-clock in the close decision)") {
    import org.apache.spark.sql.functions._
    // fixture: time-chunk the events into 3 files, then DEFER the
    // last hour of each chunk into the following file — real
    // cross-batch disorder, bounded by 1h < the 2h watermark delay
    // so nothing is late-dropped; a 4th sentinel file pushes the
    // watermark past every (max + gap) expiry, standing in for the
    // production stream that keeps flowing
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      .sortBy(_._2.getTime)
    val tsMs = ev.map(_._2.getTime)
    val (minMs, maxMs) = (tsMs.min, tsMs.max)
    val cut1 = minMs + (maxMs - minMs) / 3
    val cut2 = minMs + 2 * (maxMs - minMs) / 3
    val hourMs = 3600000L
    def fileOf(ms: Long): Int = {
      val base = if (ms < cut1) 0 else if (ms < cut2) 1 else 2
      // within an hour below a cut -> deferred to the next file
      if (base == 0 && ms >= cut1 - hourMs) 1
      else if (base == 1 && ms >= cut2 - hourMs) 2
      else base
    }
    val sentinelUser = 10000000L
    val gapMs = 1800000L
    val sentinelMs = maxMs + gapMs + 2 * hourMs + hourMs
    val dir = tempDir("graft-ets")
    import spark.implicits._
    for (f <- 0 to 3) {
      val rows =
        if (f == 3) Seq((sentinelUser, new java.sql.Timestamp(sentinelMs)))
        else ev.filter(r => fileOf(r._2.getTime) == f).toSeq
      val tmp = tempDir(s"graft-etsw$f")
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir.toFile, f"f$f%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() - (10 - f) * 10000L)
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = EventsStream.startMemorySink(
      EventsStream.twsSessionsEventTime(stream, delay = "2 hours")
        .toDF("user_id", "sess_events"),
      "ets_out", rocksDb = true)
    val sess = Events.sessionize(spark, sf)
    val batchTotal = sess.agg(sum("n_sessions")).head().getLong(0)
    val deadline = System.currentTimeMillis() + 120000L
    var drained = 0L
    while (drained < batchTotal && System.currentTimeMillis() < deadline) {
      Thread.sleep(500L)
      drained = spark.table("ets_out")
        .filter(col("user_id") =!= sentinelUser).count()
    }
    q.stop()
    val out = spark.table("ets_out")
      .filter(col("user_id") =!= sentinelUser)
    // every session closed exactly once, events conserved, and the
    // per-user session-size MULTISET equals the batch twin's — the
    // event-time close decision reproduces gap semantics exactly
    // even with cross-batch disorder
    assert(out.count() == batchTotal,
      s"drained=${out.count()}, want $batchTotal")
    val nEvents = graft.sources.Tables.load(spark, sf, "events").count()
    assert(out.agg(sum("sess_events")).head().getLong(0) == nEvents)
    val streamedPerUser = out.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max("sess_events").as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val batchPerUser = sess
      .select("user_id", "n_sessions", "max_session_events").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamedPerUser == batchPerUser)
  }

  test("EVENT-TIME sessions: a continuously active key emits its " +
    "watermark-proven PREFIX session without any timer firing (state " +
    "holds only the undecided tail — r13 ADVICE)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // One key, three sessions, one file per session. The sliding
    // timer (max+gap) NEVER fires before the sentinel: each new
    // file re-slides it past the watermark. Pre-r14 the sink stayed
    // empty until the sentinel drain; with prefix emission session
    // A (2 events at hours 0.0/0.1) must appear once file 2's batch
    // runs (watermark there = file-1 max 5.1h − 2h delay = 3.1h ≥
    // A-end 0.1h + gap 0.5h).
    val h = 3600000L
    val files = Seq(
      Seq(0L, (0.1 * h).toLong),            // session A (2 events)
      Seq(5 * h, (5.1 * h).toLong),         // session B (2 events)
      Seq(10 * h))                          // session C (1 event)
    val dir = tempDir("graft-ets-prefix")
    def writeFile(idx: Int, user: Long, ts: Seq[Long]): Unit = {
      val tmp = tempDir(s"graft-etsp$idx")
      ts.map(ms => (user, new java.sql.Timestamp(ms)))
        .toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir.toFile, f"f$idx%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // strictly ascending mtimes pin the per-trigger file order
      dst.setLastModified(System.currentTimeMillis() - (10 - idx) * 10000L)
      ()
    }
    files.zipWithIndex.foreach { case (ts, i) => writeFile(i, 1L, ts) }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = EventsStream.startMemorySink(
      EventsStream.twsSessionsEventTime(stream, delay = "2 hours")
        .toDF("user_id", "sess_events"),
      "ets_prefix", rocksDb = true)
    try {
      q.processAllAvailable()
      // prefix path, not a timer: session A emitted while the key
      // is still active and B + C remain undecided in state
      val early = spark.table("ets_prefix").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(early.toSeq == Seq((1L, 2L)),
        s"want only prefix session A (2 events), got ${early.toSeq}")
      // sentinel flush drains the rest via the timer path
      writeFile(3, 999L, Seq(20 * h))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 60000L
      while (spark.table("ets_prefix").filter(col("user_id") === 1L)
        .count() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(250L)
    } finally q.stop()
    val all = spark.table("ets_prefix").filter(col("user_id") === 1L)
      .collect().map(r => r.getLong(1)).sorted.toSeq
    assert(all == Seq(1L, 2L, 2L), s"drained sessions: $all")
  }

  test("EVENT-TIME sessions SOAK: across a 3,000-event replay of one " +
    "continuously active key, buffered state stays bounded by the " +
    "watermark lag + open tail, never the history (r14 verdict #4)") {
    import org.apache.spark.sql.functions._
    EventsStream.SessionEventTimeProcessor.maxTail.reset()
    EventsStream.SessionEventTimeProcessor.instrument = true
    try {
      import spark.implicits._
      // One user, 300 sessions of 10 events at 1-min spacing, session
      // period 45 min (inter-session gap 36 min > the 30-min close
      // gap), 5 sessions per file → 60 micro-batches. The sliding
      // (max+gap) timer NEVER fires mid-replay — every batch re-slides
      // it past the watermark — so WITHOUT prefix trimming the buffer
      // reaches 3,000 events. The bounded-state invariant: after any
      // batch the tail holds only events the watermark cannot yet
      // prove closed, i.e. a span ≤ delay (1 h) + per-batch event-time
      // step (225 min) + gap (30 min) + session length (9 min) ≈ 324
      // min ≈ 7.2 session periods ≈ 72 events.
      val m = 60000L
      val nSessions = 300
      val perFile = 5
      def sessionTs(sess: Int): Seq[Long] =
        (0 until 10).map(j => (sess * 45L + j) * m)
      val dir = tempDir("graft-ets-soak")
      def writeFile(idx: Int, user: Long, ts: Seq[Long]): Unit = {
        val tmp = tempDir(s"graft-etss$idx")
        ts.map(ms => (user, new java.sql.Timestamp(ms)))
          .toDF("user_id", "ts").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir.toFile, f"f$idx%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis() - (200 - idx) * 10000L)
        ()
      }
      val nFiles = nSessions / perFile
      for (fi <- 0 until nFiles)
        writeFile(fi, 1L,
          (fi * perFile until (fi + 1) * perFile).flatMap(sessionTs))
      val schema = spark.read.parquet(dir.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val q = EventsStream.startMemorySink(
        EventsStream.twsSessionsEventTime(stream, delay = "1 hour")
          .toDF("user_id", "sess_events"),
        "ets_soak", rocksDb = true)
      try {
        q.processAllAvailable()
        // sentinel flush drains the undecided tail via the timer path
        writeFile(nFiles, 999L, Seq(nSessions * 45L * m + 86400000L))
        q.processAllAvailable()
        val deadline = System.currentTimeMillis() + 60000L
        while (spark.table("ets_soak").filter(col("user_id") === 1L)
          .count() < nSessions && System.currentTimeMillis() < deadline)
          Thread.sleep(250L)
      } finally q.stop()
      // correctness of the replay itself: all 300 sessions, 10 events
      // each — nothing lost or split by the trimming
      val sess = spark.table("ets_soak").filter(col("user_id") === 1L)
        .collect().map(_.getLong(1)).toSeq
      assert(sess.length == nSessions && sess.forall(_ == 10L),
        s"want $nSessions sessions of 10, got ${sess.length} " +
          s"(distinct sizes ${sess.distinct.sorted})")
      // THE bounded-state witness: max post-trim tail across all 60
      // batches. 3,000 = unbounded buffering; ≈72 = the watermark-lag
      // bound; 110 allows slack for watermark update cadence.
      val maxTail = EventsStream.SessionEventTimeProcessor.maxTail.get()
      assert(maxTail > 0L, "instrumentation never fired")
      assert(maxTail <= 110L,
        s"buffered tail reached $maxTail events — state is tracking " +
          "history, not the watermark-lag bound")
    } finally EventsStream.SessionEventTimeProcessor.instrument = false
  }

  test("streaming CUSUM equals the batch mapPartitions fold row-for-row") {
    import org.apache.spark.sql.functions._
    val batch = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("user_id") < 3 && col("value").isNotNull)
    val mu = batch.groupBy("user_id").agg(
      (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(lit(1))).as("mu"))
    val q = EventsStream.startMemorySink(
      EventsStream.cusumStream(
        EventsStream.readEvents(spark, streamDir)
          .filter(col("user_id") < 3 && col("value").isNotNull),
        mu, slack = 5.0, threshold = 50.0)
        .toDF("user_id", "event_id", "x", "cusum_pos", "cusum_neg", "alarm"),
      "cusum_out", rocksDb = true)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).sorted.toSeq
    val streamed = rows(spark.table("cusum_out")
      .select("user_id", "event_id", "x", "cusum_pos", "cusum_neg", "alarm"))
    val batchTwin = rows(graft.ts.RollingFeatures.cusum(
      graft.sources.Tables.load(spark, sf, "events")
        .filter(col("user_id") < 3 && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")),
      "user_id", Seq(col("ts"), col("event_id")), "value",
      slack = 5.0, threshold = 50.0, idCol = "event_id")
      .select(col("user_id"), col("event_id"), col("x"),
        col("cusum_pos"), col("cusum_neg"), col("alarm")))
    assert(streamed.nonEmpty && streamed == batchTwin)
  }

  test("cusum stream: a late file delivered after a later one fails " +
    "loudly with the replay contract, never a silent wrong trajectory") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val watch = tempDir("graft-cusum-ooo")
    def land(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val tmp = tempDir("graft-cusum-tmp")
      rows.toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, watch.resolve(name))
    }
    // the LATE half of the day lands first…
    land("01.parquet", Seq((1L, 2000000L, 10L, 1.0), (1L, 3000000L, 11L, 2.0)))
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).parquet(watch.toString)
    val baseline = Seq((1L, 0.0)).toDF("user_id", "mu")
    val q = EventsStream.startMemorySink(
      EventsStream.cusumStream(stream, baseline, slack = 0.0,
        threshold = 100.0)
        .toDF("user_id", "event_id", "x", "cusum_pos", "cusum_neg", "alarm"),
      "cusum_ooo_out", rocksDb = true)
    q.processAllAvailable() // folds the late file
    // …then the EARLY file arrives: replaying it would rewrite
    // history the fold already consumed
    land("02.parquet", Seq((1L, 1000000L, 9L, 5.0)))
    val e = intercept[Exception] { q.processAllAvailable(); q.stop() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("CUSUM replay contract") ||
      chain(e).contains("replay contract"),
      s"expected the ordered-replay contract in the failure, got: ${chain(e).take(500)}")
  }

  test("streaming session windows agree with the batch lag/cumsum sessionization") {
    val stream = EventsStream.readEvents(spark, streamDir)
    val q = EventsStream.startMemorySink(
      EventsStream.sessionCounts(stream), "sessions_out", "complete")
    q.processAllAvailable(); q.stop()

    val streamedSessions = spark.table("sessions_out").count()
    val batchSessions = Events.sessionize(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_sessions")).head().getLong(0)
    assert(streamedSessions == batchSessions)
  }

  test("session_window boundary: an exact-gap pair still MERGES (touch-inclusive)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gap = 1800000000L // 30 min in micros
    // user 1: exact-gap pair → ONE session (Spark merges on touch —
    // the oracle's islands SQL must use a strict >, not >=);
    // user 2: gap + 1 µs → TWO sessions
    val dir = tempDir("graft_sw").toString
    Seq((1L, 0L, 1L, "view", 1.0), (2L, gap, 1L, "view", 1.0),
      (3L, 0L, 2L, "view", 1.0), (4L, gap + 1L, 2L, "view", 1.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    val got = graft.queries.StreamingQueries.streamSessionWindow(spark, dir)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }
}
