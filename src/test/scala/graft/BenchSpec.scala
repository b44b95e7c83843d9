package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.queries.Q
import scala.jdk.CollectionConverters._

/** The bench loop's failure policy and artifact contract: a query that
  * throws is listed under `failed` and never timed as a fast row, the
  * compact stdout line keeps its keys, and a failed canary emits a
  * null index instead of a bogus one. */
class BenchSpec extends SparkSpec {
  private val good = Q("good", (s, _) => s.range(100).toDF("id"), None)
  private val bad = Q("bad",
    (s, _) => s.range(3).select(raise_error(lit("boom")).as("x")), None)

  private lazy val rows = Bench.timeAll(spark, sf, Seq(good, bad), reps = 2)
  // cpu_par_sec = -1.0: HostCanary.cpuPar's dead-worker sentinel
  private lazy val (full, compact) = Bench.report(sf, 2,
    Bench.Canary(cpuSec = 0.8, cpuParSec = -1.0, vecSec = 0.4, scanSec = 0.4,
      scanFirstSec = 0.5), rows, skipped = Seq("slow"))
  private val json = new ObjectMapper()

  private def keys(s: String): Set[String] =
    json.readTree(s).fieldNames().asScala.toSet

  test("a throwing query fails its row; the good row is timed") {
    assert(rows.map(_.name) == Seq("good", "bad"))
    assert(rows.head.failure.isEmpty && rows.head.warm > 0)
    assert(rows(1).failure.exists(_.contains("boom")))
  }

  test("the failed row is listed under failed, outside total and queries") {
    for (s <- Seq(full, compact)) {
      val j = json.readTree(s)
      assert(j.get("failed").elements().asScala.map(_.asText).toSeq == Seq("bad"))
      assert(j.get("queries").fieldNames().asScala.toSeq == Seq("good"))
      assert(j.get("value").asDouble == j.get("queries").get("good").asDouble)
    }
    assert(json.readTree(compact).get("queries_timed").asInt == 1)
  }

  test("compact line keeps exactly its old keys plus failed") {
    assert(keys(compact) == Set("metric", "value", "unit", "canary", "queries",
      "queries_timed", "full", "skipped", "sf", "failed"))
    val j = json.readTree(compact)
    assert(j.get("value").isNumber && j.get("queries_timed").isInt)
    assert(j.get("canary").isObject && j.get("skipped").isArray)
    assert(j.get("full").asText == "BENCH_SELF.json")
  }

  test("full artifact keeps its old keys and adds the warm fields") {
    assert(Set("metric", "value", "unit", "canary", "queries", "skipped", "sf",
      "failed", "reps", "cold", "canary_ref", "host_index", "vec_index",
      "cpu_par_index", "normalization", "normalized_total").subsetOf(keys(full)))
    assert(json.readTree(full).get("cold").has("good"))
  }

  test("cpu_par_index is null for the -1.0 sentinel and the rule skips it") {
    assert(Bench.canaryIndex(-1.0, 0.5).isEmpty)
    assert(Bench.canaryIndex(0.25, 0.5).contains(0.5))
    val j = json.readTree(full)
    assert(j.get("cpu_par_index").isNull)
    assert(j.get("vec_index").isNumber && j.get("host_index").isNumber)
    assert(j.get("normalization").get("rule").asText
      .contains("a row whose index is null (a canary failed this sitting) is not normalized"))
  }
}
