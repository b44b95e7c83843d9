package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The few JSON encoders the result file needs. */
private[graftbench] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** A failed output check: the operation counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One timed operation of one pass. */
final case class Sample(pass: Int, name: String, layer: String, sec: Double,
                        ok: Boolean, kind: String, msg: String)

/** What a workload sees: the session, the tracer, and `op`, which
  * times one operation, runs its output check outside the timed
  * window, and records the outcome. */
final class Ctx(val spark: SparkSession, val data: String, val checksDir: String) {
  var tr: Tracer = _
  /** Registered rows whose output was written to `checksDir`, with
    * their oracle SQL ("" when a row has none). */
  val oracles = mutable.LinkedHashMap.empty[String, String]
  var pass: Int = -1 // < 0: set-up or warm-up, nothing recorded
  val samples = mutable.ArrayBuffer.empty[Sample]
  val warmFailures = mutable.LinkedHashMap.empty[String, String]
  /** Per-layer counters taken at call boundaries on traced passes. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val quality = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private[graftbench] var checkNs = 0L

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def count(key: String, v: Double): Unit =
    if (tr != null && tr.on) counters(key) = counters.getOrElse(key, 0.0) + v

  def record(key: String, v: Double): Unit =
    if (pass >= 0) quality.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def span[T](layer: String, name: String)(body: => T): T =
    if (tr == null) body else tr.span(layer, name)(body)

  def op[T](layer: String, name: String)(run: => T)(check: T => Unit): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Right(span(layer, name)(run))
      catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    val outcome = res.flatMap { v =>
      try { check(v); Right(v) }
      catch { case e: Throwable => Left(e) }
    }
    checkNs += System.nanoTime() - c0
    outcome match {
      case Right(v) =>
        if (pass >= 0) samples += Sample(pass, name, layer, sec, ok = true, "", "")
        Some(v)
      case Left(e) =>
        val kind = if (e.isInstanceOf[CheckFailed]) "check" else "error"
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        if (pass >= 0) samples += Sample(pass, name, layer, sec, ok = false, kind, msg)
        else warmFailures(name) = msg
        None
    }
  }
}

/** A benchmark workload: standing state built in set-up, then passes. */
trait Workload {
  /** Build the standing state (indexes, memos) on a fresh session. */
  def setup(ctx: Ctx): Unit
  /** After set-up is timed: ground truth for the output checks. */
  def prepare(ctx: Ctx): Unit = ()
  /** One pass: one request from input to complete result. */
  def pass(ctx: Ctx): Unit
}

/** Benchmark JVM entry point.
  *
  * Usage: graftbench.Main <workload> <dataDir> <seed> <seconds> <trace 0|1>
  *        <cores> <warmUpPasses> <outFile>
  *
  * One client thread runs passes in a closed loop: the next pass starts
  * when the previous one completes. Set-up runs three times on a fresh
  * session (median reported), then a fixed number of warm-up passes
  * run. With tracing on, passes alternate traced / untraced so the overhead
  * is measured in the same run. */
object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Heap in use after each collection, maximized while `on`: the
    * peak live heap of the timed window (peak `used` alone reads the
    * heap size, since G1 fills eden before it collects). */
  private object LiveHeap {
    @volatile var on = false
    @volatile var peak = 0L
    private val heapNames = heapPools.map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          import com.sun.management.GarbageCollectionNotificationInfo._
          if (on && n.getType == GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapNames(k) => u.getUsed }.sum
            peak = math.max(peak, used)
          }
        }, null, null)
      case _ => ()
    }
  }

  private def gcSec: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def main(args: Array[String]): Unit = {
    val Array(wlName, data, seedS, secondsS, traceS, coresS, warmS, outFile) = args
    val warmPasses = warmS.toInt
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt

    val canary = Seq(
      "cpu_sec" -> graft.tools.HostCanary.cpu(),
      "cpu_par_sec" -> graft.tools.HostCanary.cpuPar(),
      "vec_sec" -> graft.tools.HostCanary.vec())

    val checksDir = new java.io.File(outFile).getAbsoluteFile.getParent + "/checks"
    val wl: Workload = wlName match {
      case "automl_ts" => new AutomlTs(data)
      case "curation"  => new Curation(data)
      case other       => sys.error(s"unknown workload $other")
    }

    // set-up: session start + standing state, three times, median
    val setupReps = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val spark = graft.Sessions.local(cores, "graftbench")
      val ctx0 = new Ctx(spark, data, checksDir)
      wl.setup(ctx0)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"graftbench setup $i%d: $s%.2f s")
      if (i < 2) spark.stop()
      s
    }
    val spark = SparkSession.active
    val ctx = new Ctx(spark, data, checksDir)
    val tr = new Tracer(spark)
    ctx.tr = tr
    wl.prepare(ctx)

    /** One pass's wall time, output checks excluded. */
    def timedPass(): Double = {
      ctx.checkNs = 0L
      val t0 = System.nanoTime()
      wl.pass(ctx)
      (System.nanoTime() - t0 - ctx.checkNs) / 1e9
    }

    // warm-up: a fixed number of passes, so every run starts its timed
    // window in the same JIT state (a stop-when-steady rule ran one or
    // two passes depending on host noise, and the timed pass after two
    // is ~35% faster than after one)
    val warm = (1 to warmPasses).map { k =>
      val w = timedPass()
      System.err.println(f"graftbench warm-up pass $k%d: $w%.2f s")
      w
    }
    // no Sessions.releaseResidue here: dropping the persisted RDDs the
    // warm-up left made the first timed pass redo a varying share of
    // the work (warm-up / timed pass ratio 0.98-1.33 over 9 seeds with
    // it, 1.30-1.39 over 5 without), and the passes after it do not
    // release either
    val setupS = median(setupReps) + warm.sum

    val jitBean = ManagementFactory.getCompilationMXBean
    System.gc()
    LiveHeap.on = true
    val gc0 = gcSec
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val tStart = System.nanoTime()
    var i = 0
    // traced runs alternate untraced / traced / untraced ..., so the
    // traced pass sits between two untraced ones and the JIT speed-up
    // from pass to pass cancels out of the overhead estimate
    while ((System.nanoTime() - tStart) / 1e9 < seconds || (trace && i < 3)) {
      ctx.pass = i
      tr.req = i
      if (trace) tr.setOn(i % 2 == 1)
      passes += ((i, timedPass(), tr.on))
      i += 1
    }
    tr.setOn(false)
    val gcS = gcSec - gc0
    // a final collection inside the window guarantees one reading
    System.gc()
    val liveAtEnd = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    LiveHeap.on = false
    val heapPeakMb = math.max(LiveHeap.peak, liveAtEnd) / 1048576.0
    import Json.{num, str => q}
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${q(wlName)},"seed":$seed,"cores":$cores,"""
    json ++= s""""canary":{${canary.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},"""
    json ++= s""""setup_reps_s":${setupReps.mkString("[", ",", "]")},"warm_s":${warm.mkString("[", ",", "]")},"setup_s":${num(setupS)},"""
    json ++= s""""passes":${passes.map { case (p, w, t) => s"""{"pass":$p,"wall_s":$w,"traced":$t}""" }.mkString("[", ",", "]")},"""
    json ++= s""""samples":${ctx.samples.map(s => s"""[${s.pass},${q(s.name)},${q(s.layer)},${s.sec},${s.ok},${q(s.kind)},${q(s.msg)}]""").mkString("[", ",", "]")},"""
    json ++= s""""warm_failures":{${ctx.warmFailures.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},"""
    json ++= s""""quality":{${ctx.quality.map { case (k, v) => s"${q(k)}:${v.map(num).mkString("[", ",", "]")}" }.mkString(",")}},"""
    json ++= s""""counters":{${ctx.counters.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},"""
    json ++= s""""gc_s":${num(gcS)},"jit_s":${num(jitBean.getTotalCompilationTime / 1e3)},"heap_peak_mb":${num(heapPeakMb)},"""
    json ++= s""""oracles":{${ctx.oracles.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},"""
    json ++= s""""trace":${if (trace) tr.toJson else "null"}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json.toString)
    spark.stop()
  }
}
