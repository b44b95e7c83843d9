package graft.tools

import graft.{Bench, Sessions}
import graft.queries.Registry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** One registered query, one dev question:
  *
  * `runMain graft.tools.Probe <time|profile|explain|show> <query> [sfDir] [reps|rows]`
  *
  *  - `time`: `reps` (default 2) noop-sink runs, each after a blocking
  *    residue release and a GC, as in [[graft.Bench]]; each rep line
  *    carries its codegen compiles (`compiles=N`, 0 once warm);
  *  - `profile`: `time` plus every Spark job (duration, callsite) and
  *    the heaviest stages (duration, task count) per rep — the stage
  *    page in text form, since the UI is disabled in the harness;
  *  - `explain`: the formatted physical plan on stdout (the initial
  *    plan — with AQE on it reads `AdaptiveSparkPlan
  *    isFinalPlan=false`; a query whose `run` launches jobs before
  *    returning still prints its final DataFrame's plan);
  *  - `show`: the first `rows` (default 20) result rows, untruncated.
  */
object Probe {
  private val Usage =
    "usage: graft.tools.Probe <time|profile|explain|show> <query> [sfDir] [reps|rows]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (mode, name) = (args(0), args(1))
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(3).map(_.toInt)
    val q = Registry.byName(name)
    val spark = Sessions.local(appName = s"probe-$mode-$name")
    def timed(reps: Int)(report: => Unit): Unit = (1 to reps).foreach { rep =>
      Sessions.releaseResidue(spark, blocking = true)
      System.gc()
      val c0 = Bench.codegenCompiles()
      val t0 = System.nanoTime()
      q.run(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"PROBE $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        s" compiles=${Bench.codegenCompiles() - c0}")
      report
    }
    try mode match {
      case "time" => timed(n.getOrElse(2))(())
      case "profile" =>
        val jobs = new JobLog(spark)
        timed(n.getOrElse(2))(jobs.reportAndClear())
      case "explain" =>
        println(q.run(spark, dir).queryExecution.explainString(FormattedMode))
      case "show" => q.run(spark, dir).show(n.getOrElse(20), truncate = false)
      case _ => sys.error(Usage)
    } finally spark.stop()
  }

  /** Listener-collected jobs and completed stages since the last
    * report. Every job prints its `callSite.short`, or `?` when the
    * job carries none. */
  private final class Job(val desc: String, val start: Long, var ms: Long)
  private final class Stage(val name: String, val ms: Long, val tasks: Int)

  private final class JobLog(spark: SparkSession) extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.ArrayBuffer[Stage]()
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      synchronized { jobs(e.jobId) = new Job(site, e.time, 0L) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(j => j.ms = e.time - j.start) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
        .getOrElse(0L)
      synchronized { stages += new Stage(i.name.take(90), ms, i.numTasks) }
    }

    def reportAndClear(): Unit = {
      Thread.sleep(300) // let the async listener bus drain
      synchronized {
        println(s"  ${jobs.size} jobs")
        jobs.values.toSeq.groupBy(_.desc)
          .map { case (d, js) => (d, js.map(_.ms).sum, js.size) }
          .toSeq.sortBy(-_._2).take(15).foreach { case (d, ms, k) =>
            println(f"  JOBS   ${ms / 1e3}%7.2f s  n=$k%-4d $d")
          }
        stages.sortBy(-_.ms).take(12).foreach { s =>
          println(f"  STAGE  ${s.ms / 1e3}%7.2f s  tasks=${s.tasks}%-4d ${s.name}")
        }
        jobs.clear()
        stages.clear()
      }
    }
  }
}
