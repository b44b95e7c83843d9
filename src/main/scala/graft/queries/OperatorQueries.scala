package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin, Salting, Upsert}
import graft.sources.Tables
import graft.stats.{Expectations, Profile}

/** Queries for the engine-level operators beyond the reference
  * surface: as-of join, skew-salted aggregation, column profiling. */
object OperatorQueries {

  /** Backward as-of join: each click enriched with the user's most
    * recent purchase value at or before the click. Oracle = DuckDB's
    * native ASOF LEFT JOIN. The right side is pre-collapsed to one
    * row per (user, ts) — MAX(value) — on BOTH engines, because a
    * DuckDB ASOF picks an unspecified row among ties while our
    * union-window picks the max struct; the aggregation pins tie
    * semantics instead of relying on either engine's default. */
  def asofLastPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .agg(max(col("value")).as("purchase_value"))
    AsOfJoin.backward(clicks, purchases, keys = Seq("user_id"),
      tsCol = "ts_us", rightValueCols = Seq("purchase_value"))
  }

  val asofOracle: String =
    """WITH c AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    MAX(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.user_id, c.event_id, c.ts_us, p.purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us""".stripMargin

  /** As-of join with a 1-hour tolerance: a purchase older than the
    * window is nulled out even when it is the latest one — the match
    * row survives, only the carried values drop. Oracle = DuckDB ASOF
    * (latest-at-or-before) with the same tolerance predicate applied
    * after the match. */
  def asofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .agg(max(col("value")).as("purchase_value"))
    AsOfJoin.backward(clicks, purchases, keys = Seq("user_id"),
      tsCol = "ts_us", rightValueCols = Seq("purchase_value"),
      tolerance = Some(3600000000L))
  }

  val asofToleranceOracle: String =
    """WITH c AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    MAX(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.user_id, c.event_id, c.ts_us,
      |  CASE WHEN c.ts_us - p.ts_us <= 3600000000 THEN p.purchase_value END
      |    AS purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us""".stripMargin

  /** Range join: every purchase paired with the same user's clicks in
    * the preceding hour — bucketized equi-join (see RangeJoin), so no
    * per-user cross product forms however hot a user is. The oracle
    * is the naive SQL range predicate. */
  def rangeJoinClicks(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        QUtil.dec6(col("value")).as("click_value"))
    val pairs = RangeJoin.inner(purchases, clicks, Seq("user_id"),
      "p_us", "c_us", before = 3600000000L, after = 0L)
    val perPurchase = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"),
        QUtil.moneySum(col("click_value")).as("sum_click_value"))
    purchases.join(perPurchase, Seq("event_id"), "left")
      .select(col("user_id"), col("event_id"), col("p_us"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        col("sum_click_value"))
  }

  val rangeJoinOracle: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id, p.p_us,
      |  COUNT(c.c_us) AS n_clicks,
      |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sum_click_value
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us
      |GROUP BY 1, 2, 3""".stripMargin

  /** Salted two-phase aggregation — must produce exactly the plain
    * groupBy result (the oracle is the unsalted SQL). */
  def saltedRevenue(s: SparkSession, d: String): DataFrame =
    Salting.saltedAgg(
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag"),
          QUtil.dec4(col("l_extendedprice")).as("price")),
      keys = Seq("l_returnflag"),
      aggs = Seq(Salting.AggSpec("price", "sum"),
        Salting.AggSpec("price", "count")),
      saltBuckets = 16)
      .select(col("l_returnflag"),
        col("sum_price").cast("double").as("sum_price"),
        col("count_price"))

  val saltedOracle: String =
    """SELECT l_returnflag,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |  COUNT(l_extendedprice) AS count_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  def profileLineitem(s: SparkSession, d: String): DataFrame =
    Profile.profile(Tables.load(s, d, "lineitem"))

  /** The profiler over a text table — same one-pass shape, exercising
    * the string min/max branch on real document content. */
  def profileDocuments(s: SparkSession, d: String): DataFrame =
    Profile.profile(Tables.load(s, d, "documents"))

  val profileDocumentsOracle: String = Profile.oracleSql("documents", Seq(
    ("doc_id", true, false), ("text", false, true), ("lang", false, true),
    ("source", false, true), ("n_chars", true, false)))

  val profileOracle: String = Profile.oracleSql("lineitem", Seq(
    ("l_orderkey", true, false), ("l_partkey", true, false),
    ("l_suppkey", true, false), ("l_linenumber", true, false),
    ("l_quantity", true, false), ("l_extendedprice", true, false),
    ("l_discount", true, false), ("l_tax", true, false),
    ("l_returnflag", false, true), ("l_linestatus", false, true),
    ("l_shipdate", false, false)))

  /** MERGE INTO over the customer snapshot: a deterministic changeset
    * (multiples of 3 update acctbal, multiples of 7 among them
    * delete, multiples of 11 insert shifted new keys) applied via
    * operators.Upsert — one full-outer co-partitioned join. Oracle is
    * the same merge written as SQL. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.load(s, d, "customer")
      .select("c_custkey", "c_acctbal")
    val updates = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        (col("c_custkey") % 7 === 0).as("del"))
    val inserts = cust.filter(col("c_custkey") % 11 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        lit(0.0).as("c_acctbal"), lit(false).as("del"))
    Upsert.merge(cust, updates.unionByName(inserts),
      key = "c_custkey", deleteCol = "del")
  }

  val mergeUpsertOracle: String =
    """WITH changes AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal + 100 AS DOUBLE) AS acctbal,
      |    (c_custkey % 7 = 0) AS del
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), FALSE
      |  FROM customer WHERE c_custkey % 11 = 0),
      |merged AS (
      |  SELECT COALESCE(s.c_custkey, c.k) AS c_custkey,
      |    CASE WHEN c.k IS NOT NULL THEN c.acctbal ELSE s.c_acctbal END
      |      AS c_acctbal,
      |    COALESCE(c.del, FALSE) AS del
      |  FROM customer s FULL OUTER JOIN changes c ON s.c_custkey = c.k)
      |SELECT c_custkey, c_acctbal FROM merged WHERE NOT del""".stripMargin

  /** Data-quality expectations over lineitem — N rules, ONE scan; the
    * report row per rule carries bound/null violations and a pass
    * flag (the l_discount cap is deliberately violated so both
    * branches are exercised). */
  def expectations(s: SparkSession, d: String): DataFrame =
    Expectations.validate(Tables.load(s, d, "lineitem"), Seq(
      Expectations.Rule("l_quantity", minValue = Some(1.0),
        maxValue = Some(50.0), maxNullRatio = Some(0.0)),
      Expectations.Rule("l_discount", minValue = Some(0.0),
        maxValue = Some(0.05)),
      Expectations.Rule("l_tax", minValue = Some(0.0),
        maxValue = Some(0.1), maxNullRatio = Some(0.01))))

  val expectationsOracle: String = {
    def rule(c: String, lo: String, hi: String, maxNull: Option[Double]) = {
      val passNull = maxNull
        .map(m => s"ROUND(CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) <= $m")
        .getOrElse("TRUE")
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(SUM(CASE WHEN $c < $lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |  CAST(SUM(CASE WHEN $c > $hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |  ROUND(CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS null_ratio,
         |  (SUM(CASE WHEN $c < $lo THEN 1 ELSE 0 END) = 0
         |   AND SUM(CASE WHEN $c > $hi THEN 1 ELSE 0 END) = 0
         |   AND $passNull) AS passed
         |FROM lineitem""".stripMargin
    }
    Seq(rule("l_quantity", "1.0", "50.0", Some(0.0)),
      rule("l_discount", "0.0", "0.05", None),
      rule("l_tax", "0.0", "0.1", Some(0.01))).mkString(" UNION ALL ")
  }

  /** Token-blocked Levenshtein fuzzy self-join over the part-name
    * dictionary ([[graft.operators.FuzzyJoin]]) — the entity-
    * resolution primitive. Candidates come from the shared-token
    * inverted index, the exact edit distance verifies each candidate,
    * and the oracle replays both stages (DuckDB ships the same
    * classic `levenshtein`). */
  def fuzzyParts(s: SparkSession, d: String): DataFrame =
    graft.operators.FuzzyJoin.nearMatchPairs(
      Tables.load(s, d, "part"), "p_name", maxDist = 3)

  val fuzzyPartsOracle: String =
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
      |toks AS (
      |  SELECT DISTINCT name, UNNEST(string_split_regex(name, '\s+')) AS tok
      |  FROM names),
      |cands AS (
      |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
      |  FROM toks a JOIN toks b USING (tok)
      |  WHERE a.name < b.name)
      |SELECT name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
      |FROM cands WHERE levenshtein(name_a, name_b) <= 3""".stripMargin

  /** The CAPPED fuzzy-join path — the hot-token guard actually
    * exercised in the gate (the uncapped query never hits it). The
    * dictionary is `p_name ⧺ p_brand`: brand tokens are rare
    * (df ≈ n/25) while color tokens appear in over a third of names,
    * so capping df at n/10 drops every color token and keeps every
    * brand token — candidates come only from shared brands, a
    * ~25× reduction the oracle replays exactly (integer-division cap,
    * same anti-join, same Levenshtein verify). Both branches of the
    * guard run at every SF: colors capped, brands kept. */
  def fuzzyPartsCapped(s: SparkSession, d: String): DataFrame = {
    val dict = Tables.load(s, d, "part")
      .select(concat_ws(" ", col("p_name"), col("p_brand")).as("name"))
    val nNames = dict.select(col("name")).distinct().count()
    graft.operators.FuzzyJoin.nearMatchPairs(dict, "name", maxDist = 5,
      maxDf = Some(nNames / 10))
  }

  val fuzzyPartsCappedOracle: String =
    """WITH names AS (
      |  SELECT DISTINCT p_name || ' ' || p_brand AS name FROM part),
      |toks AS (
      |  SELECT DISTINCT name, UNNEST(string_split_regex(name, '\s+')) AS tok
      |  FROM names),
      |dfs AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
      |kept AS (
      |  SELECT t.name, t.tok FROM toks t JOIN dfs USING (tok)
      |  WHERE df <= (SELECT COUNT(*) FROM names) // 10),
      |cands AS (
      |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
      |  FROM kept a JOIN kept b USING (tok)
      |  WHERE a.name < b.name)
      |SELECT name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
      |FROM cands WHERE levenshtein(name_a, name_b) <= 5""".stripMargin

  /** Z-order layout certification ([[graft.operators.ZOrder]]): the
    * Morton code of (partkey, suppkey) is pure mask arithmetic, so
    * the oracle replays the interleave bit-for-bit; grouping by the
    * top z-bits (the "file" a z-range-partitioned write would
    * produce) shows per-cell min/max windows tight in BOTH
    * dimensions — the file-skipping property a 100 TB table layout
    * buys. The cell stats are exact, not a heuristic. */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    li.select(col("l_partkey"), col("l_suppkey"),
      graft.operators.ZOrder.zValue(col("l_partkey"), col("l_suppkey"))
        .as("z"))
      .groupBy(shiftright(col("z"), 16).as("z_cell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
  }

  val zorderLayoutOracle: String =
    """WITH s0 AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |    l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
      |  FROM lineitem),
      |s1 AS (SELECT pk, sk, (x0 | (x0 << 8)) & 16711935 AS x1,
      |              (y0 | (y0 << 8)) & 16711935 AS y1 FROM s0),
      |s2 AS (SELECT pk, sk, (x1 | (x1 << 4)) & 252645135 AS x2,
      |              (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
      |s3 AS (SELECT pk, sk, (x2 | (x2 << 2)) & 858993459 AS x3,
      |              (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
      |s4 AS (SELECT pk, sk, (x3 | (x3 << 1)) & 1431655765 AS x4,
      |              (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
      |z AS (SELECT pk, sk, x4 | (y4 << 1) AS z FROM s4)
      |SELECT z >> 16 AS z_cell, COUNT(*) AS n_rows,
      |  MIN(pk) AS min_pk, MAX(pk) AS max_pk,
      |  MIN(sk) AS min_sk, MAX(sk) AS max_sk,
      |  MIN(z) AS min_z, MAX(z) AS max_z
      |FROM z GROUP BY 1""".stripMargin

  /** The plain-SQL entry path, end-to-end IN the gate: engine
    * functions registered into the host's session
    * ([[graft.GraftExtensions.registerInto]] — the driver's session
    * is built without `spark.sql.extensions`), tables exposed as temp
    * views, and one SQL-text query joining them through two custom
    * Catalyst expressions (`array_dot`, `word_shingles`). Certifies
    * the surface a SQL-only user of the library gets. */
  def sqlSurface(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.registerInto(s)
    Seq("documents", "embeddings").foreach(n =>
      Tables.load(s, d, n).createOrReplaceTempView(n))
    s.sql(
      """SELECT e.vec_id,
        |  ROUND(array_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
        |                  CAST(e.embedding AS ARRAY<DOUBLE>)), 6) AS norm2,
        |  CAST(size(word_shingles(lower(d.text), 3)) AS INT) AS n_shingles
        |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |WHERE e.vec_id < 20""".stripMargin)
  }

  val sqlSurfaceOracle: String =
    """SELECT e.vec_id,
      |  ROUND(list_dot_product(
      |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
      |    list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 6) AS norm2,
      |  CAST(len(list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [] END)) AS INT) AS n_shingles
      |FROM embeddings e
      |JOIN (SELECT doc_id,
      |        string_split_regex(trim(lower(text)), '\s+') AS toks
      |      FROM documents) d ON e.vec_id = d.doc_id
      |WHERE e.vec_id < 20""".stripMargin

  /** S2 xlsx ingest, certified end-to-end in the gate (the last §2
    * operator family that had only spec coverage): write a TWO-workbook
    * fixture derived from the nation table via [[graft.sources.Xlsx.write]]
    * (inline strings + numeric cells), read it back with the
    * executor-parallel [[graft.sources.Xlsx.readAll]], and let the
    * oracle replay the same rows straight from parquet — sheet-XML
    * parsing, cell refs, type inference (numeric → long), and the
    * multi-file union are all pinned by the hash compare. The
    * driver-side collect() is the 25-row nation table: xlsx is the
    * upload-sized format by design (Xlsx scaladoc — the 100 TB path
    * is convert-once-to-parquet; a directory of workbooks
    * parallelizes across files, which is exactly the path exercised
    * here). */
  def xlsxIngest(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.load(s, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect()
    val header = Seq[Any]("n_nationkey", "n_name", "n_regionkey")
    def body(rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rs.map(r => Seq[Any](r.getInt(0).toLong, r.getString(1),
        r.getInt(2).toLong))
    val dir = new java.io.File(
      s"target/xlsx_fixture/${new java.io.File(d).getName}")
    dir.mkdirs()
    val (lo, hi) = rows.toSeq.partition(_.getInt(0) < 12)
    graft.sources.Xlsx.write(header +: body(lo), s"$dir/nation_a.xlsx")
    graft.sources.Xlsx.write(header +: body(hi), s"$dir/nation_b.xlsx")
    graft.sources.Xlsx.readAll(s, dir.toString)
  }

  /** BIGINT casts: the xlsx reader infers integral columns as long
    * (there is no width metadata in a sheet cell), so the oracle
    * widens parquet's int32 to match. */
  val xlsxIngestOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation""".stripMargin

  /** JSONL round-trip ingest — the lingua franca of LLM corpora (one
    * JSON object per line): a slice of `documents` is written as
    * multi-file JSONL and read back with an EXPLICIT schema (no
    * inference pass — at 100 TB a schema-inference scan reads the
    * corpus twice; line-delimited JSON is splittable, so the read
    * parallelizes per-block like CSV). Returning the text itself makes
    * the oracle a byte-exact fidelity check of the JSON escaping
    * round-trip (quotes, backslashes, unicode) against the parquet
    * original. */
  def jsonlIngest(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "documents").filter(col("doc_id") < 50)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = s"target/jsonl_fixture/${new java.io.File(d).getName}"
    src.repartition(4).write.mode("overwrite").json(dir)
    s.read.schema(src.schema).json(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  val jsonlIngestOracle: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents WHERE doc_id < 50""".stripMargin

  /** ORC round-trip ingest — the other columnar interchange format a
    * lakehouse reader must speak (Spark's reader/writer are built in;
    * vectorized scan, predicate pushdown and column pruning apply
    * like parquet). A lineitem slice round-trips through multi-file
    * ORC with longs, doubles, strings and a TIMESTAMP; the oracle
    * replays the same rows from parquet, so type fidelity (exact
    * double bits, microsecond timestamps) is hash-pinned. Explicit
    * schema on read — same no-inference-scan discipline as
    * jsonl_ingest. */
  def orcIngest(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "lineitem").filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        // source parquet is TIMESTAMP_NTZ; certify the instant-typed
        // ORC timestamp (UTC session) — same wall-clock micros
        col("l_shipdate").cast("timestamp").as("l_shipdate"))
    val dir = s"target/orc_fixture/${new java.io.File(d).getName}"
    src.repartition(4).write.mode("overwrite").orc(dir)
    s.read.schema(src.schema).orc(dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        unix_micros(col("l_shipdate")).as("ship_us"))
  }

  val orcIngestOracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ship_us
      |FROM lineitem WHERE l_orderkey < 100""".stripMargin

  /** Avro round-trip ingest through the self-contained
    * [[graft.sources.Avro]] container source/sink (the external
    * `spark-avro` module is offline-unavailable; the core avro
    * library on Spark's classpath is enough — the Xlsx discipline).
    * A lineitem slice with longs, doubles, strings and a
    * timestamp-micros logical-type column round-trips through
    * multi-file deflate-coded containers written executor-parallel;
    * the oracle replays the same rows from parquet, so type fidelity
    * (exact double bits, microsecond timestamps, nullable unions) is
    * hash-pinned end to end. */
  def avroIngest(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "lineitem").filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        col("l_shipdate").cast("timestamp").as("l_shipdate"))
    val dir = s"target/avro_fixture/${new java.io.File(d).getName}"
    graft.sources.Avro.write(src.repartition(4), dir)
    graft.sources.Avro.read(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        unix_micros(col("l_shipdate")).as("ship_us"))
  }

  val avroIngestOracle: String = orcIngestOracle

  val all: Seq[Q] = Seq(
    Q("q_merge_upsert", mergeUpsert, Some(mergeUpsertOracle)),
    Q("xlsx_ingest", xlsxIngest, Some(xlsxIngestOracle)),
    Q("jsonl_ingest", jsonlIngest, Some(jsonlIngestOracle)),
    Q("orc_ingest", orcIngest, Some(orcIngestOracle)),
    Q("avro_ingest", avroIngest, Some(avroIngestOracle)),
    Q("fuzzy_join_parts", fuzzyParts, Some(fuzzyPartsOracle)),
    Q("fuzzy_join_capped", fuzzyPartsCapped, Some(fuzzyPartsCappedOracle)),
    Q("zorder_layout", zorderLayout, Some(zorderLayoutOracle)),
    Q("q_sql_surface", sqlSurface, Some(sqlSurfaceOracle)),
    Q("q_expectations", expectations, Some(expectationsOracle)),
    Q("asof_last_purchase", asofLastPurchase, Some(asofOracle)),
    Q("asof_tolerance", asofTolerance, Some(asofToleranceOracle)),
    Q("range_join_clicks", rangeJoinClicks, Some(rangeJoinOracle)),
    Q("salted_revenue", saltedRevenue, Some(saltedOracle)),
    Q("profile_lineitem", profileLineitem, Some(profileOracle)),
    Q("profile_documents", profileDocuments, Some(profileDocumentsOracle)))
}
