package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults are tuned for the harness box (local[32],
  * 128 GiB); on a real cluster the same settings translate directly:
  * AQE on, shuffle partitions sized to the parallelism actually
  * available rather than Spark's legacy 200. [[local]] is the one
  * session builder of every main, so the correctness gate (`Verify`)
  * certifies the configuration the bench times.
  */
object Sessions {

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
    val spark = SparkSession.builder()
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
