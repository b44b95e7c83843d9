package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The whole-stage codegen class cache holds a working set larger
  * than Spark's default 100 entries: a repeated round of 160
  * distinct query shapes compiles nothing the second time. At 100
  * entries the LRU evicts every class before the next round reaches
  * it, and each one recompiles. */
class CodegenCacheSpec extends SparkSpec {

  test(s"a second round of 160 distinct plans compiles no class (cache ${Sessions.CodegenCacheEntries})") {
    // each literal is inlined into its generated class, so every
    // projection is its own cache entry; `toRdd` plans the query and
    // compiles its whole-stage class on the driver without running a
    // job (a job per shape made the case take ~25 s)
    val shapes = (1 to 160).map { i =>
      () => spark.range(0, 10, 1, 1).select((col("id") + lit(i)).as("v"))
        .queryExecution.toRdd
    }
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    shapes.foreach(_())
    val before = compiles()
    shapes.foreach(_())
    assert(compiles() - before == 0)
  }
}
