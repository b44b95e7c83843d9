package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * [[local]] runs `local[cpus]` (`SPARK_GRAFT_CPUS`, default 32) with
  * shuffle partitions sized to those cores rather than Spark's legacy
  * 200, and AQE on; on a cluster the same settings carry over. It is
  * the one session builder of every main and of the benchmark
  * harness, so the correctness gate (`Verify`) certifies the
  * configuration the bench times.
  */
object Sessions {

  /** Entries of the JVM-wide whole-stage codegen class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * Spark keys generated classes by source text in an LRU, and one
    * steady-state benchmark pass re-plans more distinct shapes than
    * 100: about 370 classes per `curation` pass and about 182 per
    * `automl_ts` pass. At 100 every class was evicted before its next
    * use, so each timed pass paid about 240 (`curation`) and 180
    * (`automl_ts`) Janino compiles, each followed by interpreted
    * execution until the JIT caught up again. 512 is 1.25x the larger
    * working set, rounded up to a power of two; at 512 a timed pass
    * compiles 10 (`curation`, classes whose text changes per pass)
    * and 0 (`automl_ts`) classes. The cost is heap: cached classes
    * and their bytecode stay live. The conf is static:
    * `CodeGenerator` reads it once, at the first compile in the JVM. */
  val CodegenCacheEntries = 512

  /** A session builder carrying the confs every graft session shares:
    * JVM-wide [[CodegenCacheEntries]], and
    * `spark.sql.legacy.parquet.nanosAsLong`, which the readers
    * (`sources.Tables.load`, `streaming.EventsStream.readEvents`)
    * expect: `events.ts` is TIMESTAMP(NANOS), which Spark 4 rejects
    * unless it is read as a long. Static confs take effect from
    * whichever session first uses them in a JVM, so [[local]] and the
    * test suites' own builders all start here. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Release block-manager residue a finished query leaves behind.
    *
    * `localCheckpoint` marks its RDD persisted but nothing ever calls
    * `unpersist` on it — `spark.catalog.clearCache()` only drops
    * DataFrame cache entries, so checkpoint blocks stay pinned until
    * the plan object is GC'd AND the async ContextCleaner gets to it.
    * Across a 100+-query session in one JVM those pinned blocks crowd
    * the unified memory region and later queries pay for it in spills
    * and GC (BENCH_r04 read 4–10× over the per-query warm truth for
    * exactly this reason). Between queries nothing can recompute a
    * finished query's RDDs, so dropping every persistent RDD is safe.
    */
  def releaseResidue(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
  }

  /** Width-before-weight repartition with an EXPLICIT partition
    * count (r15, measured): `repartition(col)` alone is
    * REPARTITION_BY_COL, one of the shuffle origins AQE's
    * byte-based coalescing may rewrite — and a bytes-small
    * compute-dense frame (shingle explode, n-gram scoring, n² vector
    * scoring) coalesces to 1-2 partitions at bench SFs
    * (parallelismFirst targets max(bytes/parallelism, 1 MB), and
    * these frames are ~1 MB), putting the heavy map back on one core
    * — the exact regression the width repartition exists to prevent
    * (text_dup_spans: every heavy stage measured tasks=1 at sf0.1).
    * REPARTITION_BY_NUM is never coalesced; defaultParallelism
    * scales with the deployment. Only for per-row-HEAVY maps — AQE's
    * coalescing is the right default everywhere else. */
  def widen(df: org.apache.spark.sql.DataFrame,
            key: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
            appName: String = "graft"): SparkSession = {
    val spark = builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // TypedImperativeAggregate (KLL/CMS/HLL/reservoir/top-k) runs
      // in ObjectHashAggregateExec, whose in-memory group cap
      // defaults to 128 — the 129th distinct key per partition
      // degrades the whole aggregate to sort-based, paying the full
      // per-partition sort the aggregate exists to avoid (measured:
      // the knn-graph top-k agg over 20k groups ran SLOWER than the
      // window it replaced). 256k groups × the O(k)-bounded buffers
      // these aggs keep (≤ ~400 B) is ~100 MB per task — well inside
      // executor budget; beyond that the sort fallback is the
      // memory-safe behavior and stays enabled.
      // CONSTRAINT (session-global setting): the ~400 B sizing holds
      // for top-k/sketch buffers but NOT for reservoir_sample with a
      // large k grouped by a high-cardinality key (k·16 B per group ×
      // 256k groups can exceed task memory before the sort fallback
      // engages). Grouped reservoir use keeps k ≤ ~1k or lowers this
      // threshold per-query via .config on a derived session.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (256 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
