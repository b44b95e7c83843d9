package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      req: Int, start: Long, var end: Long = 0L,
                      var failed: Boolean = false)

/** Per-job record, attributed to the innermost open span through the
  * `graftbench.span` local property set on the calling thread. */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end: Long = 0L
  var ok: Boolean = true
  var tasks: Long = 0L
  var runMs: Long = 0L
  var schedMs: Long = 0L
  var inputB: Long = 0L
  var shReadB: Long = 0L
  var shWriteB: Long = 0L
  var spillB: Long = 0L
  var outB: Long = 0L
  var outTasks: Long = 0L
  val stageTasks = mutable.ArrayBuffer.empty[Int]
}

/** Spans kept in memory, plus listeners that collect Spark job, task,
  * SQL-planning, MLlib-fit and streaming micro-batch records while
  * tracing is on. Everything is written out once, at the end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private def now: Long = System.nanoTime() - t0

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var on = false
  var req = 0

  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  var planNs = 0L
  var sqlCalls = 0L
  var fits = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var batchRows = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        layer, name, req, now)
      spans += s
      stack = s :: stack
      sc.setLocalProperty("graftbench.span", s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.end = now
        stack = stack.tail
        sc.setLocalProperty("graftbench.span",
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty("graftbench.span"))).map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, sp, now)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = now
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stageTasks += e.stageInfo.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
          j.inputB += m.inputMetrics.bytesRead
          j.shReadB += m.shuffleReadMetrics.totalBytesRead
          j.shWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.diskBytesSpilled
          j.outB += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) j.outTasks += 1
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // one event per Pipeline.fit: each CV fold fit and each refit
      case f: org.apache.spark.ml.FitEnd[_]
          if f.estimator.isInstanceOf[org.apache.spark.ml.Pipeline] =>
        lock.synchronized(fits += 1)
      case _ => ()
    }
  }

  private val qel = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = lock.synchronized {
      sqlCalls += 1
      planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  private val sql = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      Option(p.durationMs.get("triggerExecution")).foreach(d => batchMs += d.longValue)
      batchRows += p.numInputRows
    }
  }

  /** Turn tracing on for the next pass (listeners attached) or off
    * (listeners detached, so an untraced pass pays nothing). */
  def setOn(v: Boolean): Unit = if (v != on) {
    drain()
    if (v) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qel)
      spark.streams.addListener(sql)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
      spark.streams.removeListener(sql)
    }
    on = v
  }

  def drain(): Unit = org.apache.spark.GraftBenchBridge.drain(sc)

  /** Spans and job records as JSON (times in ns since tracer start). */
  def toJson: String = lock.synchronized {
    import Json.{str => q}
    val sp = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},"req":${s.req},"start":${s.start},"end":${s.end},"failed":${s.failed}}""")
    val jb = jobs.values.map(j =>
      s"""{"id":${j.id},"span":${j.span},"start":${j.start},"end":${j.end},"ok":${j.ok},"tasks":${j.tasks},"run_ms":${j.runMs},"sched_ms":${j.schedMs},"input_b":${j.inputB},"shuffle_read_b":${j.shReadB},"shuffle_write_b":${j.shWriteB},"spill_b":${j.spillB},"out_b":${j.outB},"out_tasks":${j.outTasks},"stage_tasks":${j.stageTasks.mkString("[", ",", "]")}}""")
    s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jb.mkString("[", ",", "]")},"plan_s":${planNs / 1e9},"sql_calls":$sqlCalls,"fits":$fits,"batch_ms":${batchMs.mkString("[", ",", "]")},"batch_rows":$batchRows}"""
  }
}
