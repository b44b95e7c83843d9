package graft

import org.apache.spark.sql.functions._
import graft.scaleops.TextAnalysis
import graft.sources.Sinks
import graft.stats.Expectations

/** End-to-end training-data pipeline: the round-3 operators composed
  * the way a corpus build would run them — validate, clean, dedup,
  * lay out, compact, and read back with pruning. Each stage is
  * individually oracled/specced; this spec pins that they COMPOSE. */
class PipelineIntegrationSpec extends SparkSpec {

  test("expectations gate → quality clean → dedup → zorder layout → compact → pruned read") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")

    // 1. Data-quality gate: schema-level expectations must pass
    val report = Expectations.validate(docs, Seq(
      Expectations.Rule("doc_id", minValue = Some(0), maxNullRatio = Some(0.0)),
      Expectations.Rule("n_chars", minValue = Some(0))))
      .collect().map(r => r.getString(0) -> r.getBoolean(6)).toMap
    assert(report.values.forall(identity), s"expectations failed: $report")

    // 2. Clean: quality-score filter + fingerprint dedup (keep lowest id)
    val scored = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val kept = scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id")))
      .filter(col("rk") === 1 && col("quality") > 0.2)
      .select("doc_id", "n_chars", "quality")
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= docs.count())

    // 3. Layout: Z-ordered write on (n_chars, quality), then compact
    val root = tempDir("graft-pipe")
    val dir = root.toString + "/docs"
    val stats = kept.agg(min("n_chars"), max("n_chars")).head()
    Sinks.writeZOrdered(kept, dir, "n_chars", "quality",
      stats.getLong(0).toDouble, stats.getLong(1).toDouble, 0.0, 1.0,
      numFiles = 8)
    Sinks.compact(spark, dir, targetBytes = 512L << 20)

    // 4. Read back: row count survives both rewrites; the filter is
    // pushed to the parquet scan
    val back = spark.read.parquet(dir)
    assert(back.count() == nKept)
    val filtered = back.filter(col("n_chars") > 500)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"))
    assert(filtered.count() ==
      kept.filter(col("n_chars") > 500).count())
  }
}
