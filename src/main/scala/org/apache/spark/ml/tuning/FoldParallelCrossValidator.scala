package org.apache.spark.ml.tuning

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ml.Model
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.mllib.util.MLUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

/** A `CrossValidator` that runs every fold fit at once. Spark's `fit`
  * walks the folds one after another and fans out only the param maps
  * inside one fold, so a 1-combo grid trains its k folds and then its
  * refit serially. Here all `numFolds × |grid|` fold fits (each with
  * its evaluation) go onto the `parallelism`-bounded pool together;
  * with a 1-combo grid the winner is known up front, so the refit on
  * the full set is submitted first and runs alongside them.
  * `parallelism` keeps its meaning: the most fits in flight at once.
  *
  * Same split (`MLUtils.kFold` with `seed`, or `foldCol`), same
  * per-combo metric sum in fold order, same argmax/argmin as Spark:
  * fold assignment, `avgMetrics` and the best model are bit-identical
  * to `CrossValidator`'s.
  *
  * Memory: a fold's cached (train, validation) pair lives while any of
  * its fits is in flight and is released when the last one finishes.
  * Spark holds one fold's pair at a time; here up to `numFolds` pairs
  * (each about one copy of the input) are cached at once when
  * `parallelism` reaches past one fold's combos.
  *
  * Each task runs under a copy of the caller's local properties (job
  * group, description, job tags, custom labels) and active session,
  * set per task rather than inherited when the pool makes a thread. A
  * failing fit is rethrown as is, after every started task has ended
  * and every fold cache is released; tasks not yet started are
  * skipped.
  *
  * Lives in Spark's package because `CrossValidatorModel`'s
  * constructor is `private[ml]`.
  */
class FoldParallelCrossValidator(override val uid: String)
    extends CrossValidator(uid) {

  def this() = this(Identifiable.randomUID("cv"))

  override def fit(dataset: Dataset[_]): CrossValidatorModel = instrumented { instr =>
    val schema = dataset.schema
    transformSchema(schema, logging = true)
    val session = dataset.sparkSession
    val sc = session.sparkContext
    val est = $(estimator)
    val eval = $(evaluator)
    val epm = $(estimatorParamMaps)
    val k = $(numFolds)
    instr.logPipelineStage(this)
    instr.logDataset(dataset)
    instr.logParams(this, numFolds, seed, parallelism, foldCol)
    logTuningParams(instr)

    val (splits, foldSchema) =
      if ($(foldCol) == "") (MLUtils.kFold(dataset.toDF().rdd, k, $(seed)), schema)
      else (MLUtils.kFold(dataset.toDF(), k, $(foldCol)),
        StructType(schema.filter(_.name != $(foldCol))))
    val folds = splits.map { case (training, validation) =>
      (session.createDataFrame(training, foldSchema).cache(),
        session.createDataFrame(validation, foldSchema).cache())
    }
    def release(f: Int): Unit = { folds(f)._1.unpersist(); folds(f)._2.unpersist() }
    val pending = Array.fill(k)(new AtomicInteger(epm.length))
    val subModels =
      if ($(collectSubModels)) Some(Array.fill(k)(Array.ofDim[Model[_]](epm.length)))
      else None

    val failure = new AtomicReference[Throwable]
    val props = Utils.cloneProperties(sc.getLocalProperties)
    val ec = getExecutionContext
    def submit(body: => Unit): Future[Unit] = Future {
      if (failure.get == null) {
        val (ownProps, ownSession) = (sc.getLocalProperties, SparkSession.getActiveSession)
        sc.setLocalProperties(Utils.cloneProperties(props))
        SparkSession.setActiveSession(session)
        try body
        catch { case e: Throwable => failure.compareAndSet(null, e); () }
        finally {
          sc.setLocalProperties(ownProps)
          ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        }
      }
    }(ec)

    def fitOn(data: Dataset[_], p: Int): Model[_] = est.fit(data, epm(p)).asInstanceOf[Model[_]]
    val foldMetrics = Array.ofDim[Double](k, epm.length)
    val refit = new AtomicReference[Model[_]]
    val tasks =
      (if (epm.length == 1) Seq(submit(refit.set(fitOn(dataset, 0)))) else Nil) ++
        (for (f <- 0 until k; p <- epm.indices) yield submit {
          try {
            val model = fitOn(folds(f)._1, p)
            subModels.foreach(_(f)(p) = model)
            foldMetrics(f)(p) = eval.evaluate(model.transform(folds(f)._2, epm(p)))
          } finally if (pending(f).decrementAndGet() == 0) release(f)
        })
    try tasks.foreach(Await.ready(_, Duration.Inf))
    catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
    finally {
      // covers folds whose tasks were skipped; unpersist is idempotent
      folds.indices.foreach(release)
      ec match {
        case pool: ExecutionContextExecutorService => pool.shutdown()
        case _ => ()
      }
    }
    val err = failure.get
    if (err != null) throw err

    val metrics = foldMetrics.transpose.map(_.sum / k)
    instr.logInfo(s"Average cross-validation metrics: ${metrics.mkString(", ")}")
    val (bestMetric, bestIndex) =
      if (eval.isLargerBetter) metrics.zipWithIndex.maxBy(_._1)
      else metrics.zipWithIndex.minBy(_._1)
    instr.logInfo(s"Best set of parameters:\n${epm(bestIndex)}")
    instr.logInfo(s"Best cross-validation metric: $bestMetric.")
    val bestModel: Model[_] = Option(refit.get).getOrElse(fitOn(dataset, bestIndex))
    copyValues(new CrossValidatorModel(uid, bestModel, metrics)
      .setSubModels(subModels).setParent(this))
  }
}
