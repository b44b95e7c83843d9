package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed tables: pins the scale contract — co-bucketed equi-joins
  * and bucket-key aggregations run with ZERO Exchange, and results
  * are identical to the shuffled plans they replace. */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // own session: needs a writable warehouse for saveAsTable and
    // broadcast disabled so small test tables exercise the
    // sort-merge-join path the bucketing optimizes
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Sessions.builder()
      .master("local[4]")
      .appName("graft-bucketing-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the scan only REPORTS in-bucket sort order under this flag
      // (off by default since 3.0 because it forces the
      // one-file-per-bucket read path — which writeBucketed provides)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val sf = "/root/testdata/sf0.001"

  private lazy val tables: Unit = {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_quantity")
    val ord = graft.sources.Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.sources.Bucketing.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    graft.sources.Bucketing.writeBucketed(
      ord.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_bkt",
      "l_orderkey", 8)
  }

  test("co-bucketed equi-join: zero Exchange, result equals shuffled join") {
    tables
    val li = graft.sources.Bucketing.table(spark, "li_bkt")
    val ord = graft.sources.Bucketing.table(spark, "ord_bkt")
    val joined = li.join(ord, "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    // and the bucketed result matches the plain-parquet join exactly
    val liRaw = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_quantity")
    val ordRaw = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
        col("o_totalprice"))
    val expected = liRaw.join(ordRaw, "l_orderkey")
    assert(joined.count() == expected.count())
    assert(joined.exceptAll(expected).isEmpty && expected.exceptAll(joined).isEmpty)
  }

  test("aggregation on the bucket key: zero Exchange, exact totals") {
    tables
    val li = graft.sources.Bucketing.table(spark, "li_bkt")
    val agg = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-key aggregation must not shuffle:\n$plan")
    val expected = graft.sources.Tables.load(spark, sf, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
    assert(agg.exceptAll(expected).isEmpty && expected.exceptAll(agg).isEmpty)
  }

  test("in-bucket sortBy: sort-merge join skips its Sort on the bucketed side") {
    import org.apache.spark.sql.execution.SortExec
    tables
    // SMJ normally plans Sort under each side; pre-sorted buckets
    // satisfy the ordering requirement so no SortExec node appears.
    // Checked on the plan TREE — printed lines carry ':-'/'+-'
    // prefixes, so a startsWith string match can never fire.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def sortNodes(df: org.apache.spark.sql.DataFrame): Int = {
      val root = df.queryExecution.executedPlan match {
        // the INITIAL adaptive plan still holds real exec nodes; a
        // materialized one hides them behind QueryStageExec leaves
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collectWithSubqueries { case s: SortExec => s }.size
    }
    val li = graft.sources.Bucketing.table(spark, "li_bkt")
    val ord = graft.sources.Bucketing.table(spark, "ord_bkt")
    assert(sortNodes(li.join(ord, "l_orderkey")) == 0,
      "pre-sorted buckets must elide the join sorts")
    // positive control — the same join over bucketed-but-UNSORTED
    // tables must plan Sorts, proving the assertion can fail
    import org.apache.spark.sql.SaveMode
    val liRaw = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_quantity")
    liRaw.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(8, "l_orderkey").saveAsTable("li_bkt_nosort")
    val nosort = graft.sources.Bucketing.table(spark, "li_bkt_nosort")
    assert(sortNodes(nosort.join(ord, "l_orderkey")) > 0,
      "control: unsorted buckets must require join sorts")
  }
}
