package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives the SQL surface end-to-end: a session built with
  * GraftExtensions, tables registered, custom functions called from
  * plain SQL. */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate returns an existing session and ignores extensions —
    // clear the handles so this suite always builds its own (the
    // underlying SparkContext is still shared, so this is cheap).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.builder()
      .master("local[4]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  test("array_dot and word_shingles are callable from SQL") {
    val r = spark.sql(
      """SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d,
        |       word_shingles('a b c d', 3) AS sh""".stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
  }

  test("registered tables + custom function compose in one SQL query") {
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val top = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |  array_dot(CAST(a.embedding AS ARRAY<DOUBLE>),
        |            CAST(b.embedding AS ARRAY<DOUBLE>)) AS dot
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 3 AND b.vec_id < 3
        |ORDER BY dot DESC LIMIT 1""".stripMargin).collect()
    assert(top.length == 1 && !top.head.isNullAt(2))
  }

  test("sorted_intersect_count from SQL; agrees with array_intersect on random sets") {
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L, 9L)) AS c,
        |       sorted_intersect_count(array(1L, 2L), array(3L, 4L)) AS zero,
        |       sorted_intersect_count(array(1L, NULL, 3L), array(1L, 3L)) AS nul
        |""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 0)
    assert(r.isNullAt(2))
    // property: on 200 random sorted distinct sets, matches the size
    // of the built-in array_intersect
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val rows = (1 to 200).map { _ =>
      def set() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b")
    val bad = df.selectExpr(
      "sorted_intersect_count(a, b) AS got",
      "size(array_intersect(a, b)) AS want")
      .filter("got <> want").count()
    assert(bad == 0)
  }

  test("bad arity yields a clear error") {
    val e = intercept[Exception](spark.sql("SELECT array_dot(array(1.0d))"))
    assert(e.getMessage.contains("array_dot"))
  }

  test("reservoir_sample: exact set when k >= n; k members otherwise; SQL path") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i % 5, i)).toDF("g", "id")
    df.createOrReplaceTempView("rs_in")
    val rows = spark.sql(
      "SELECT g, reservoir_sample(id, 10, 42) AS s FROM rs_in GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows.size == 5)
    rows.foreach { case (g, s) =>
      assert(s.length == 10)
      assert(s.distinct.length == 10)           // sampled w/o replacement
      assert(s.forall(id => id % 5 == g))       // group isolation
      assert(s == s.sorted)                     // stable presentation
    }
    // k >= group size → the full set, exactly
    val full = spark.sql(
      "SELECT g, reservoir_sample(id, 1000, 42) AS s FROM rs_in GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    full.foreach { case (g, s) =>
      assert(s == (1L to 500L).filter(_ % 5 == g).toSet)
    }
  }

  test("kll sketch: exact below capacity; SQL path") {
    import spark.implicits._
    // n < k → nothing ever compacts → rank queries are exact
    // percentile_disc answers
    (1L to 100L).map(_.toDouble).toDF("v").createOrReplaceTempView("kll_small")
    val r = spark.sql(
      """SELECT kll_quantile(kll_sketch_agg(v), 0.5) AS p50,
        |       kll_quantile(kll_sketch_agg(v), 0.9) AS p90,
        |       kll_quantile(kll_sketch_agg(v), 0.0) AS p0,
        |       kll_quantile(kll_sketch_agg(v), 1.0) AS p100
        |FROM kll_small""".stripMargin).head()
    assert(r.getDouble(0) == 50.0)
    assert(r.getDouble(1) == 90.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 100.0)
  }

  test("kll sketch: two-level rollup rank error within design bound") {
    import spark.implicits._
    // 50k skewed values in 10 groups; per-group sketches merged must
    // answer global quantiles within the k=256 design error (~5%).
    val rnd = new scala.util.Random(11)
    val vals = (1 to 50000).map(_ => math.pow(rnd.nextDouble(), 3.0) * 1000.0)
    vals.zipWithIndex.map { case (v, i) => (i % 10, v) }
      .toDF("g", "v").repartition(4).createOrReplaceTempView("kll_big")
    val merged = spark.sql(
      """WITH daily AS (
        |  SELECT g, kll_sketch_agg(v) AS sk FROM kll_big GROUP BY g)
        |SELECT kll_quantile(kll_merge_agg(sk), 0.5) AS p50,
        |       kll_quantile(kll_merge_agg(sk), 0.99) AS p99
        |FROM daily""".stripMargin).head()
    val sorted = vals.sorted
    def trueRank(x: Double): Double =
      sorted.count(_ <= x).toDouble / sorted.length
    assert(math.abs(trueRank(merged.getDouble(0)) - 0.5) <= 0.05,
      s"p50 rank ${trueRank(merged.getDouble(0))}")
    assert(math.abs(trueRank(merged.getDouble(1)) - 0.99) <= 0.05,
      s"p99 rank ${trueRank(merged.getDouble(1))}")
  }

  test("kll sketch: state stays O(k log n), not O(n)") {
    import spark.implicits._
    val bytes = (1L to 200000L).map(_.toDouble).toDF("v")
      .selectExpr("kll_sketch_agg(v) AS sk")
      .head().getAs[Array[Byte]](0)
    // 200k doubles = 1.6 MB raw; the sketch must stay a few KB
    assert(bytes.length < 64 * 1024, s"sketch is ${bytes.length} bytes")
  }

  test("sq8 encode/intdot callable from SQL; exact on scale-aligned ints") {
    val r = spark.sql(
      """SELECT sq8_intdot(
        |  sq8_encode(array(3.0d, -1.0d, 2.0d), 1.0d),
        |  sq8_encode(array(2.0d, 5.0d, -4.0d), 1.0d)) AS d""".stripMargin)
      .head().getLong(0)
    assert(r == 3 * 2 + -1 * 5 + 2 * -4) // scale 1 → codes are the ints
  }

  test("cms sketch: never undercounts, tight on distinct-heavy data; SQL path") {
    import spark.implicits._
    // 10k values: value i%100 appears 100×, plus a heavy hitter 7
    val vals = (0 until 10000).map(i => (i % 100).toLong) ++
      Seq.fill(500)(7L)
    vals.toDF("v").createOrReplaceTempView("cms_in")
    val rows = spark.sql(
      """SELECT v, COUNT(*) AS exact,
        |  cms_estimate((SELECT count_min_sketch(v, 0.001d, 0.99d, 42)
        |                FROM cms_in), v) AS est
        |FROM cms_in GROUP BY v""".stripMargin).collect()
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"undercount at ${r.getLong(0)}")
      assert(est <= exact + math.ceil(10500 * 0.001).toLong + 1,
        s"overcount at ${r.getLong(0)}: $est vs $exact")
    }
    assert(rows.find(_.getLong(0) == 7L).get.getLong(1) == 600L)
  }

  test("reservoir_sample spreads over the stream (no positional bias)") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id").repartition(4)
    val s = df.agg(graft.functions.ReservoirSample(
      org.apache.spark.sql.functions.col("id"), 200, 7L).as("s"))
      .head().getSeq[Long](0)
    assert(s.length == 200 && s.distinct.length == 200)
    // both halves of the id space must be represented substantially —
    // a take-first or take-last bug would concentrate in one half
    val firstHalf = s.count(_ <= 1000L)
    assert(firstHalf > 40 && firstHalf < 160, s"firstHalf=$firstHalf")
  }

  test("bigram_hash_pairs / token_hashes / lsh_buckets callable from SQL; " +
    "agree with the Scala column APIs") {
    val r = spark.sql(
      """SELECT bigram_hash_pairs(array('a', 'b', 'c')) AS bg,
        |       token_hashes(array('a', 'b', 'c')) AS th,
        |       lsh_buckets(array(0.5d, -0.25d), 3, 4, 2) AS lb,
        |       xxhash64('a') AS ha, xxhash64('b') AS hb,
        |       xxhash64('c') AS hc""".stripMargin).head()
    val bg = r.getSeq[org.apache.spark.sql.Row](0)
    val th = r.getSeq[Long](1)
    val (ha, hb, hc) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert(bg.map(x => (x.getLong(0), x.getLong(1))) ==
      Seq((ha, hb), (hb, hc)))
    assert(th == Seq(ha, hb, hc))
    // SQL lsh_buckets == the Scala column API (same seeded planes)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viaApi = Seq(Tuple1(Array(0.5, -0.25))).toDF("v")
      .select(graft.functions.Lsh.buckets(col("v"), 3, 4, dim = 2))
      .head().getSeq[Long](0)
    assert(r.getSeq[Long](2) == viaApi)
    // wrong dim literal fails analysis loudly (the exact-length check)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT lsh_buckets(array(0.5d), 3, 4, 0)").collect()
    }
  }

  test("topk_by_score callable from SQL as a grouped aggregate") {
    val rows = spark.sql(
      """SELECT g, topk_by_score(s, id, 2) AS top FROM VALUES
        |  (1, 10L, 0.5d), (1, 11L, 0.9d), (1, 12L, 0.7d),
        |  (2, 20L, 0.1d)
        |AS t(g, id, s) GROUP BY g ORDER BY g""".stripMargin).collect()
    val g1 = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(e => (e.getLong(0), e.getDouble(1)))
    assert(g1 == Seq((11L, 0.9), (12L, 0.7)))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(_.getLong(0)) == Seq(20L))
  }

  test("topk_by_score SQL surface coerces int ids and float/decimal " +
    "scores (no mid-job ClassCastException)") {
    val got = spark.sql(
      """SELECT topk_by_score(s, id, 2) AS top FROM VALUES
        |  (CAST(0.5 AS FLOAT), 1), (CAST(0.9 AS DECIMAL(3,2)), 2),
        |  (CAST(0.7 AS FLOAT), 3) AS t(s, id)""".stripMargin)
      .selectExpr("explode(top.id)").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L))
  }
}
