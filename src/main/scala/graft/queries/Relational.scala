package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QUtil._

/** The built-in relational surface over the harness star schema:
  * scan → filter → project → hash/broadcast join → aggregate.
  *
  * All joins here follow the 100 TB playbook: the fact table
  * (lineitem) streams, every dimension is broadcast (region/nation/
  * supplier/part are tiny at any SF; customer is small relative to
  * the fact side), so no fact-side shuffle is needed until the final
  * partial-aggregated groupBy.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** TPC-H Q1-style pricing summary. Exact decimal arithmetic so the
    * sums are order-independent (associativity) and match DuckDB
    * bit-for-bit after the final cast to double. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val discPrice = dec4(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(dec4(col("l_quantity"))).as("sum_qty"),
        moneySum(dec4(col("l_extendedprice"))).as("sum_base_price"),
        moneySum(discPrice).as("sum_disc_price"),
        r6(sum(dec4(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        r6(sum(dec4(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      |  ROUND(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Customer ⋈ orders ⋈ lineitem revenue rollup by market segment ×
    * order priority. Customer is the broadcast side; orders⋈lineitem
    * co-shuffles on orderkey (the natural key both sides share). */
  def q3SegmentRevenue(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select("c_custkey", "c_mktsegment")
    val ord = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"),
        (dec4(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(moneySum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
  }

  val q3Oracle: String =
    """SELECT c_mktsegment, o_orderpriority,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment, o_orderpriority""".stripMargin

  /** Supplier-nation-region rollup (TPC-H Q5 flavor): the fact table
    * streams once; supplier/nation/region are all broadcast — zero
    * shuffle before the final aggregate. */
  def q5RegionalRevenue(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_suppkey"),
      (dec4(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    val sup = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val nat = t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val reg = t(s, d, "region").select("r_regionkey", "r_name")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(moneySum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
  }

  val q5Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** Semi/anti join surface: per nation, customers with ≥1 order vs
    * customers with none. `left_semi`/`left_anti` avoid materializing
    * the join — at scale these stay one shuffle each on custkey. */
  def qSemiAnti(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
    val ordKeys = t(s, d, "orders").select("o_custkey")
    val nat = t(s, d, "nation").select("n_nationkey", "n_name")
    val withOrders = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_orders"))
    nat
      .join(withOrders, col("n_nationkey") === withOrders("c_nationkey"), "left")
      .drop("c_nationkey")
      .join(withoutOrders, col("n_nationkey") === withoutOrders("c_nationkey"), "left")
      .select(col("n_name"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  val qSemiAntiOracle: String =
    """SELECT n_name,
      |  CAST(COALESCE(SUM(CASE WHEN has_ord THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_with_orders,
      |  CAST(COALESCE(SUM(CASE WHEN has_ord THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_without_orders
      |FROM nation
      |LEFT JOIN (
      |  SELECT c_custkey, c_nationkey,
      |    EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_ord
      |  FROM customer) c ON n_nationkey = c_nationkey
      |GROUP BY n_name""".stripMargin

  /** Top-N pattern: highest-revenue orders (deterministic tiebreak on
    * orderkey). Revenue is decimal-exact so the ordering is identical
    * in both engines. */
  def qTopRevenueOrders(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      (dec4(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    li.groupBy("l_orderkey")
      .agg(sum(col("rev")).as("rev_dec"), count(lit(1)).as("n_items"))
      .orderBy(col("rev_dec").desc, col("l_orderkey").asc)
      .limit(20)
      .select(col("l_orderkey"), col("rev_dec").cast("double").as("revenue"),
        col("n_items"))
  }

  val qTopRevenueOrdersOracle: String =
    """SELECT l_orderkey, CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue, n_items FROM (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY l_orderkey
      |  ORDER BY rev_dec DESC, l_orderkey ASC LIMIT 20)""".stripMargin

  /** Hierarchical rollup (free Spark surface beyond the reference —
    * SURVEY.md §2.4 note): region → nation subtotals + grand total. */
  def qRollup(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_suppkey"),
      dec4(col("l_extendedprice")).as("price"))
    val sup = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val nat = t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val reg = t(s, d, "region").select("r_regionkey", "r_name")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(moneySum(col("price")).as("total_price"), count(lit(1)).as("n_items"))
  }

  val qRollupOracle: String =
    """SELECT r_name, n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** TPC-H Q6 flavor: the pushdown showcase — every predicate reaches
    * the parquet scan (shipdate range, discount band, quantity cap),
    * so the aggregate sees ~2% of the table and nothing shuffles but
    * one partial-agg row per partition. */
  def q6Revenue(s: SparkSession, d: String): DataFrame =
    // string literals coerce to the COLUMN's timestamp flavor (LTZ or
    // NTZ, identical under the engine's UTC zone) — a cast wrapped
    // around the column instead would block parquet pushdown in
    // NTZ-inferring sessions
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1996-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(moneySum(dec4(col("l_extendedprice")) * dec4(col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))

  val q6Oracle: String =
    """SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Full cube over (returnflag, linestatus): all four grouping-set
    * combinations in one pass (Expand + single aggregate — no
    * re-scans). */
  def qCube(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(dec4(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n_items"))

  val qCubeOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Per-customer order history as window functions: running
    * (decimal-exact) spend, order index, and the gap to the previous
    * order — one shuffle on custkey produces every column. */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    // windows order by the projected epoch-ms value (monotone with the
    // timestamp, so identical ranking to the oracle's ORDER BY
    // o_orderdate); the cast guards NTZ-inferring sessions — under the
    // engine's fixed UTC zone it is an identity on the epoch value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("od_ms").asc, col("o_orderkey").asc)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("od_ms"),
        dec4(col("o_totalprice")).as("price"))
      .withColumn("order_idx", row_number().over(w).cast("int"))
      .withColumn("running_spend",
        sum(col("price")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("gap_ms", col("od_ms") - lag(col("od_ms"), 1).over(w))
      .select("o_custkey", "o_orderkey", "order_idx", "running_spend", "gap_ms")
  }

  val qWindowRunningOracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS order_idx,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_spend,
      |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) -
      |    LAG(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) OVER w AS gap_ms
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Explicit grouping sets — the third grouping variant beyond
    * rollup/cube: per-flag totals, per-status totals, and the grand
    * total, with GROUPING() markers disambiguating real nulls from
    * subtotal rows. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame =
    // DataFrame-API grouping sets (Spark 4 `groupingSets`) — no temp
    // view, so concurrent runs on one SparkSession can't clobber each
    // other's registration.
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"))

  val qGroupingSetsOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Set-operation surface (INTERSECT / EXCEPT — free Spark builtins
    * beyond the reference, SURVEY.md §2.3): nations that have urgent
    * orders but no low-priority ones, and those with both. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, d, "orders").select("o_custkey", "o_orderpriority")
    def nationsWith(priority: String) =
      ord.filter(col("o_orderpriority") === priority)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select("c_nationkey").distinct()
    val urgent = nationsWith("1-URGENT")
    val low = nationsWith("5-LOW")
    urgent.intersect(low)
      .withColumn("relation", lit("both"))
      .unionByName(urgent.except(low)
        .withColumn("relation", lit("urgent_only")))
  }

  val qSetOpsOracle: String =
    """WITH u AS (
      |  SELECT DISTINCT c_nationkey FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderpriority = '1-URGENT'),
      |l AS (
      |  SELECT DISTINCT c_nationkey FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderpriority = '5-LOW')
      |SELECT c_nationkey, 'both' AS relation
      |  FROM (SELECT c_nationkey FROM u INTERSECT SELECT c_nationkey FROM l)
      |UNION ALL
      |SELECT c_nationkey, 'urgent_only' AS relation
      |  FROM (SELECT c_nationkey FROM u EXCEPT SELECT c_nationkey FROM l)""".stripMargin

  /** Ranking-function surface: quartile, percent_rank and cume_dist
    * of customers by total spend within their nation — one shuffle,
    * three ranking functions over one window spec. */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, d, "orders").select(col("o_custkey"),
      dec4(col("o_totalprice")).as("price"))
    val spend = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "c_custkey")
      .agg(sum(col("price")).as("spend_dec"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("spend_dec").desc, col("c_custkey").asc)
    spend
      .withColumn("quartile", ntile(4).over(w).cast("int"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .filter(col("c_custkey") % 100 === 0) // bounded, deterministic slice
      .select(col("c_nationkey"), col("c_custkey"),
        col("spend_dec").cast("double").as("spend"),
        col("quartile"), col("pct_rank"), col("cume"))
  }

  val qWindowRankOracle: String =
    """WITH spend AS (
      |  SELECT c_nationkey, c_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_dec
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT c_nationkey, c_custkey,
      |    CAST(CAST(spend_dec AS VARCHAR) AS DOUBLE) AS spend,
      |    CAST(NTILE(4) OVER w AS INT) AS quartile,
      |    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |    ROUND(CUME_DIST() OVER w, 6) AS cume
      |  FROM spend
      |  WINDOW w AS (PARTITION BY c_nationkey
      |               ORDER BY spend_dec DESC, c_custkey ASC))
      |SELECT * FROM r WHERE c_custkey % 100 = 0""".stripMargin

  /** Top-k per group via ranked window (decimal-exact ordering key so
    * both engines rank identically; ties broken on orderkey). */
  def qTopKPerGroup(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      (dec4(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    val ord = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
    val perOrder = li.groupBy("l_orderkey")
      .agg(sum(col("rev")).as("rev_dec"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("rev_dec").desc, col("l_orderkey").asc)
    perOrder.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk").cast("int").as("rnk"),
        col("l_orderkey"), col("rev_dec").cast("double").as("revenue"))
  }

  val qTopKPerGroupOracle: String =
    """WITH po AS (
      |  SELECT l_orderkey, o_orderpriority,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY l_orderkey, o_orderpriority),
      |r AS (
      |  SELECT o_orderpriority, l_orderkey, rev_dec,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY rev_dec DESC, l_orderkey ASC) AS INT) AS rnk
      |  FROM po)
      |SELECT o_orderpriority, rnk, l_orderkey, CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue
      |FROM r WHERE rnk <= 3""".stripMargin

  /** Bloom-pruned semi join (operators.BloomPrune): lineitem rows
    * whose order is URGENT, revenue per return flag. The bloom stage
    * drops ~80% of the fact rows before any shuffle; false positives
    * are killed by the exact join, so the plain-join oracle applies
    * unchanged. */
  def qBloomSemiRevenue(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        (dec4(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    // size the sketch from the BUILD side, not a static guess: the
    // r8 cut passed expectedItems=1M for a ~30k-key build side at
    // sf0.1 — 9.6M bits of per-partition aggregate buffer and a
    // 1.2 MB plan literal where 287k bits suffice (the count is one
    // cheap scan of the selective dim side; at 100 TB you'd reuse
    // the same count the cost-based planner already has)
    val nUrgent = urgent.count()
    graft.operators.BloomPrune
      .join(li, urgent, "l_orderkey", "o_orderkey",
        expectedItems = math.max(1024L, nUrgent), fpp = 0.01)
      .groupBy("l_returnflag")
      .agg(moneySum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
  }

  val qBloomSemiOracle: String =
    """SELECT l_returnflag,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q4 shape (EXISTS → left-semi): orders counted per priority
    * when at least one of their lineitems was returned. The semi join
    * never materializes lineitem columns — one shuffle on orderkey. */
  def q4ExistsPriority(s: SparkSession, d: String): DataFrame = {
    val returned = t(s, d, "lineitem")
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    t(s, d, "orders")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): HAVING on an orderkey
    * aggregate, then enrich with order + customer dims. The heavy
    * aggregation runs FIRST so only the few surviving orderkeys join
    * — the join input is the aggregate's output, not the fact table. */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = t(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(dec4(col("l_quantity"))).as("total_qty_dec"))
      .filter(col("total_qty_dec") > lit(250).cast("decimal(18,4)"))
    big.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("total_qty_dec").cast("double").as("total_qty"))
  }

  val q18Oracle: String =
    """SELECT c_name, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_name, o_orderkey, o_totalprice
      |HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250""".stripMargin

  /** TPC-H Q19 shape (disjunctive bracket predicates): revenue from
    * part×lineitem pairs matching any of three (brand, size,
    * quantity) brackets. The OR of AND-brackets must still push the
    * shared part of the predicate into both scans; part is broadcast. */
  def q19Brackets(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_partkey"), col("l_quantity"),
      (dec4(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
    val p = t(s, d, "part").select("p_partkey", "p_brand", "p_size")
    val bracket1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val bracket2 = col("p_brand") === "Brand#13" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
    val bracket3 = col("p_brand") === "Brand#20" &&
      col("p_size").between(25, 50) && col("l_quantity").between(20, 50)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket1 || bracket2 || bracket3)
      .agg(moneySum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
  }

  val q19Oracle: String =
    """SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
      |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 25 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** Unpivot (melt) — the wide→long reshape feeding per-measure
    * pipelines: lineitem's four measures become (measure, value)
    * rows, then one aggregate per measure. Spark's native `unpivot`
    * is a zero-shuffle Expand: rows multiply map-side, the groupBy
    * partial-aggregates before any exchange. */
  def qUnpivotMeasures(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), dec4(col("l_quantity")).as("quantity"),
        dec4(col("l_extendedprice")).as("extendedprice"),
        dec4(col("l_discount")).as("discount"), dec4(col("l_tax")).as("tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("quantity"), col("extendedprice"), col("discount"),
          col("tax")),
        "measure", "val")
      .groupBy("measure")
      .agg(moneySum(col("val")).as("total"), count(lit(1)).as("n"),
        max(col("val")).cast("double").as("max_val"))

  val qUnpivotOracle: String =
    """WITH long AS (
      |  SELECT measure, CAST(val AS DECIMAL(18,4)) AS val FROM (
      |    SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
      |    UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      |    UNION ALL SELECT 'discount', l_discount FROM lineitem
      |    UNION ALL SELECT 'tax', l_tax FROM lineitem))
      |SELECT measure, CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) AS total,
      |  COUNT(*) AS n, CAST(MAX(val) AS DOUBLE) AS max_val
      |FROM long GROUP BY measure""".stripMargin

  /** RANGE-frame window (value-based, not row-based): per customer,
    * each order's trailing-7-day revenue — peers at equal dates all
    * enter the frame, which ROWS frames can't express. One shuffle on
    * custkey. */
  def qWindowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("date_s"))
      .rangeBetween(-7L * 86400, 0)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        // DIV (floor division) to match the oracle's `//` — a
        // truncating double-divide cast would shift pre-epoch dates
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000000")
          .as("date_s"),
        dec4(col("o_totalprice")).as("price"))
      .withColumn("trailing_7d_revenue",
        sum(col("price")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("date_s"),
        col("trailing_7d_revenue"))
  }

  val qWindowRangeOracle: String =
    """SELECT o_custkey, o_orderkey,
      |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 1000000 AS date_s,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 1000000
      |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS trailing_7d_revenue
      |FROM orders""".stripMargin

  /** Supplier balance ranking per nation — dense_rank (gap-free over
    * ties), the one ranking window not covered by q_window_rank's
    * ntile/percent_rank/cume_dist set. Balances are ranked on the
    * exact decimal so ties are well-defined cross-engine. */
  def qSupplierRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("bal_dec").desc, col("s_suppkey").asc)
    t(s, d, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"),
        dec4(col("s_acctbal")).as("bal_dec"))
      .withColumn("bal_rank", dense_rank().over(w).cast("int"))
      .filter(col("bal_rank") <= 3)
      .select(col("s_nationkey"), col("bal_rank"), col("s_suppkey"),
        col("bal_dec").cast("double").as("s_acctbal"))
  }

  val qSupplierRankOracle: String =
    """SELECT s_nationkey, bal_rank, s_suppkey,
      |  CAST(bal AS DOUBLE) AS s_acctbal
      |FROM (
      |  SELECT s_nationkey, s_suppkey, CAST(s_acctbal AS DECIMAL(18,4)) AS bal,
      |    CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey
      |      ORDER BY CAST(s_acctbal AS DECIMAL(18,4)) DESC, s_suppkey ASC)
      |      AS INT) AS bal_rank
      |  FROM supplier)
      |WHERE bal_rank <= 3""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q1_pricing_summary", q1PricingSummary, Some(q1Oracle)),
    Q("q_supplier_rank", qSupplierRank, Some(qSupplierRankOracle)),
    Q("q_window_range_frame", qWindowRangeFrame, Some(qWindowRangeOracle)),
    Q("q_unpivot_measures", qUnpivotMeasures, Some(qUnpivotOracle)),
    Q("q_bloom_semi_revenue", qBloomSemiRevenue, Some(qBloomSemiOracle)),
    Q("q4_exists_priority", q4ExistsPriority, Some(q4Oracle)),
    Q("q18_large_orders", q18LargeOrders, Some(q18Oracle)),
    Q("q19_brackets", q19Brackets, Some(q19Oracle)),
    Q("q6_filtered_revenue", q6Revenue, Some(q6Oracle)),
    Q("q_rollup_revenue", qRollup, Some(qRollupOracle)),
    Q("q_cube_quantity", qCube, Some(qCubeOracle)),
    Q("q_grouping_sets", qGroupingSets, Some(qGroupingSetsOracle)),
    Q("q_set_ops", qSetOps, Some(qSetOpsOracle)),
    Q("q_window_running", qWindowRunning, Some(qWindowRunningOracle)),
    Q("q_window_rank", qWindowRank, Some(qWindowRankOracle)),
    Q("q_topk_per_group", qTopKPerGroup, Some(qTopKPerGroupOracle)),
    Q("q3_segment_revenue", q3SegmentRevenue, Some(q3Oracle)),
    Q("q5_regional_revenue", q5RegionalRevenue, Some(q5Oracle)),
    Q("q_semi_anti_orders", qSemiAnti, Some(qSemiAntiOracle)),
    Q("q_top_revenue_orders", qTopRevenueOrders, Some(qTopRevenueOrdersOracle)))
}
