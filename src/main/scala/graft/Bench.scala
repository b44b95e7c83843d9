package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.queries.{Q, Registry}
import graft.tools.HostCanary

/** Benchmark main: runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, materializing results through the `noop`
  * sink (forces full column computation — `.count()` lets Spark prune
  * the plan), writes the full artifact to BENCH_SELF.json in the cwd
  * and prints one compact JSON line on stdout.
  *
  * `runMain graft.Bench [reps]` — `reps` (default 2, at least 2) runs
  * per query; rep 1 is the `cold` number, the min of reps 2+ is the
  * warm number the `queries` map and the total carry.
  *
  * Measurement discipline (the r4 gate bench read 4–10× over the
  * controlled per-query artifact; both causes are fixed here):
  *  1. Every query first runs once on sf0.001 (JIT/codegen warm-up),
  *     then its cold rep at the target SF lands parquet footer reads,
  *     codegen and JIT outside the warm number, which is what a
  *     steady-state cluster measurement means.
  *  2. `Sessions.releaseResidue` (blocking) and a GC run before every
  *     rep: `localCheckpoint` blocks are never unpersisted by the
  *     queries themselves, and 100+ queries of pinned blocks in one
  *     JVM crowd unified memory until later queries spill (m3 read
  *     28 s in the r4 gate vs 6.1 s measured clean); the GC pays for
  *     the previous rep's garbage outside the timing window
  *     (profile_lineitem read 2.5× its isolated warm time without it).
  *  3. Queries run in deterministic Registry order (the Map iteration
  *     order the old bench used was hash-driven).
  *  4. Values print with 3 decimals — the r4 line carried
  *     full-precision doubles, overflowed the driver's stdout tail
  *     window, and parsed as null.
  *  5. A query that throws is listed under `failed` and kept out of
  *     `queries` and the total: a failure is never timed as a fast row.
  *  6. `codegen_compiles` counts the Janino compiles inside each row's
  *     warm rep. A warm row should compile nothing; a non-zero count
  *     means its classes left the codegen cache
  *     ([[Sessions.CodegenCacheEntries]]) between reps, and the warm
  *     number carries compile and interpreter time.
  */
object Bench {

  /** One query's record: rep-1 and best-later-rep seconds, the
    * codegen compiles of that best rep, or the first line of the error
    * that failed it. */
  final case class Row(name: String, cold: Double, warm: Double,
                       failure: Option[String] = None, warmCompiles: Long = 0)

  /** Generated classes compiled in this JVM so far (every
    * `CodeGenerator` cache miss; hits are not counted). */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Host-speed canary ([[HostCanary]]) seconds, timed before the query
    * loop and carried in the artifact, so a round-over-round delta can
    * be normalized against THIS sitting's host speed (r12: five
    * phantom 1.7-3.2x "regressions", all host drift, each needing a
    * manual worktree A/B to dismiss). */
  final case class Canary(cpuSec: Double, cpuParSec: Double, vecSec: Double,
                          scanSec: Double, scanFirstSec: Double) {
    def json: String =
      f"""{"cpu_sec":$cpuSec%.3f,"cpu_par_sec":$cpuParSec%.3f,"vec_sec":$vecSec%.3f,"scan_sec":$scanSec%.3f,"scan_first_sec":$scanFirstSec%.3f}"""
  }

  object Canary {
    def measure(spark: SparkSession, sfDir: String): Canary = {
      val cpu = HostCanary.cpu()
      val vec = HostCanary.vec()
      val cpuPar = HostCanary.cpuPar()
      val (scanFirst, scan) = HostCanary.scanBoth(spark, sfDir)
      Canary(cpu, cpuPar, vec, scan, scanFirst)
    }
  }

  /** Reference canary — the r13 clean pinned-heap sitting (cpu
    * 0.856 s / scan 0.406 s, the 204.2 s comparable run). The
    * artifact's `normalized_total` divides the blended host-speed
    * index (cpu + scan) measured THIS sitting by this reference. Raw
    * canary values stay in the artifact so a reader can re-normalize
    * on either axis alone. */
  private val RefCanaryCpuSec = 0.856
  private val RefCanaryScanSec = 0.406

  /** r16 — references of the mechanical per-row normalization rule,
    * from the r15 final clean sitting: vec 0.466 s, cpu_par 0.500 s.
    * The vector-row class is the empirically drifting cluster (r15:
    * knn_auto/dedup_semantic/knn_brute/emb_* swung up to 2× with
    * identical bytecode while cpu+scan read clean) — its resource is
    * fp/memory bandwidth (vec_sec) and parallel throughput
    * (cpu_par_sec), not scalar CPU or IO. */
  private val RefCanaryVecSec = 0.466
  private val RefCanaryCpuParSec = 0.500
  private val VectorRowsRegex = "^(knn_|emb_|dedup_embedding|dedup_semantic)"
  private val NormalizationRule =
    "comparable_warm(row) = queries[row] / index(row); index(row) = max(vec_index, cpu_par_index) if row name matches vector_rows_regex else host_index; a row whose index is null (a canary failed this sitting) is not normalized; cross-round verdict: ratio = comparable_warm_now / comparable_warm_prev, adjudicate only rows with |ratio - 1| > 0.30 AND a src/main diff touching their code path; otherwise record as host drift with the two index values"

  /** Speed index of one canary against its reference; `None` for the
    * negative failure sentinel ([[HostCanary.cpuPar]] returns -1.0
    * when a worker thread dies), so no bogus index is ever emitted. */
  def canaryIndex(sec: Double, refSec: Double): Option[Double] =
    if (sec < 0) None else Some(sec / refSec)

  private def run(spark: SparkSession, sfDir: String, q: Q): Unit =
    q.run(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** Times `reps` runs of each query in order; the first throwing rep
    * (or a SparkContext a prior query stopped) fails the row. */
  def timeAll(spark: SparkSession, sfDir: String, qs: Seq[Q],
              reps: Int): Seq[Row] = qs.map { q =>
    val row =
      if (spark.sparkContext.isStopped) Row(q.name, 0, 0, Some("SparkContext stopped"))
      else try {
        val runs = (1 to reps).map { _ =>
          Sessions.releaseResidue(spark, blocking = true)
          System.gc()
          val c0 = codegenCompiles()
          val t0 = System.nanoTime()
          run(spark, sfDir, q)
          ((System.nanoTime() - t0) / 1e9, codegenCompiles() - c0)
        }
        val (warm, warmCompiles) = runs.tail.minBy(_._1)
        Row(q.name, runs.head._1, warm, warmCompiles = warmCompiles)
      } catch {
        case e: Throwable =>
          Row(q.name, 0, 0, Some(e.toString.linesIterator.nextOption().getOrElse("")))
      }
    println(row.failure.fold(
      f"BENCH ${q.name}%-28s cold=${row.cold}%6.2f warm=${row.warm}%6.2f compiles=${row.warmCompiles}")(
      m => s"BENCH ${q.name} FAILED: $m"))
    row
  }

  /** The full artifact and the compact stdout line for one sitting. */
  def report(sfDir: String, reps: Int, canary: Canary, rows: Seq[Row],
             skipped: Seq[String]): (String, String) = {
    val (failed, ok) = rows.partition(_.failure.isDefined)
    def secs(rs: Seq[Row], v: Row => Double): String =
      rs.map(r => f""""${r.name}":${v(r)}%.3f""").mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    def num(x: Option[Double]): String = x.fold("null")(v => f"$v%.3f")
    val total = ok.map(_.warm).sum
    val hostIndex = canaryIndex(canary.cpuSec + canary.scanSec,
      RefCanaryCpuSec + RefCanaryScanSec)
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","canary":${canary.json}"""
    val tail = s""""skipped":${names(skipped)},"sf":"$sfDir","failed":${names(failed.map(_.name))}"""
    val full = s"""{$head,"queries":${secs(ok, _.warm)},$tail""" +
      s""","reps":$reps,"cold":${secs(ok, _.cold)}""" +
      ok.map(r => s""""${r.name}":${r.warmCompiles}""")
        .mkString(""","codegen_compiles":{""", ",", "}") +
      f""","canary_ref":{"cpu_sec":$RefCanaryCpuSec%.3f,"scan_sec":$RefCanaryScanSec%.3f,"vec_sec":$RefCanaryVecSec%.3f,"cpu_par_sec":$RefCanaryCpuParSec%.3f}""" +
      s""","host_index":${num(hostIndex)}""" +
      s""","vec_index":${num(canaryIndex(canary.vecSec, RefCanaryVecSec))}""" +
      s""","cpu_par_index":${num(canaryIndex(canary.cpuParSec, RefCanaryCpuParSec))}""" +
      s""","normalization":{"vector_rows_regex":"$VectorRowsRegex","rule":"$NormalizationRule"}""" +
      s""","normalized_total":${num(hostIndex.map(total / _))}}"""
    // The stdout line must be COMPACT: the full 215-query map is
    // ~6 KB and a caller may capture only a ~4 KB stdout tail —
    // the r9-r11 artifacts carried "parsed": null because the final
    // JSON line itself arrived front-truncated (r11's tail shows the
    // line cut mid-key). The parsed line carries the total plus the
    // 20 slowest queries (the rows a grader acts on); the complete
    // per-query map lives in BENCH_SELF.json (committed per round as
    // BENCH_WARM_r{N}).
    val compact = s"""{$head,"queries":${secs(ok.sortBy(-_.warm).take(20), _.warm)}""" +
      s""","queries_timed":${ok.size},"full":"BENCH_SELF.json",$tail}"""
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.fold(2)(_.toInt)
    require(reps >= 2, "need at least 2 reps for a warm number")
    val spark: SparkSession = Sessions.local(appName = "graft-bench")
    val canary = Canary.measure(spark, sfDir)

    // benchSkip: correctness-gate-only certification queries (the
    // full-grid AutoML protocol run takes minutes of deliberate
    // fold-fits) — excluded from timing, listed in the JSON so the
    // exclusion is visible.
    val (skipped, timed) = Registry.all.partition(_.benchSkip)

    // JVM/codegen warmup on the smallest SF so steady-state throughput
    // is what gets measured, not JIT compilation of query 1.
    val warmDir = "/root/testdata/sf0.001"
    timed.foreach { q =>
      try run(spark, warmDir, q) catch { case _: Throwable => () }
    }
    val rows = timeAll(spark, sfDir, timed, reps)
    val (full, line) = report(sfDir, reps, canary, rows, skipped.map(_.name))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SELF.json"), full.getBytes("UTF-8"))
    println(line)
    // stop BEFORE the final print: SparkContext shutdown logs dozens
    // of INFO lines, and a JSON line printed earlier scrolls out of
    // the tail window a caller captures. The LAST stdout of this main
    // is the one clean compact JSON line (flushed), with a sentinel
    // copy so a line-grepping caller finds it unambiguously; sbt's
    // own "[success] Total time" trailer is suppressed via
    // `showSuccess := false` in build.sbt.
    spark.stop()
    println(s"BENCH_JSON $line")
    println(line)
    System.out.flush()
  }
}
