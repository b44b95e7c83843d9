package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.scaleops.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** Queries for the training-data-pipeline operators (dedup,
  * similarity search, text analysis) with DuckDB oracles wherever the
  * semantics are SQL-expressible; hash-based ops (SimHash, LSH-ANN)
  * get rows-only checks plus ScalaTest invariants. ANN and
  * embedding-dedup rows live in [[ScaleAnnQueries]] /
  * [[ScaleEmbedQueries]] (r10 split — one file per domain, zero
  * behavior change). */
object ScaleQueries extends ScaleBase with ScaleAnnQueries with ScaleEmbedQueries {
  def textTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      length(col("text")).as("n_chars"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  val textTokensOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(length(text) AS INT) AS n_chars,
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
      |FROM documents""".stripMargin

  def textQuality(s: SparkSession, d: String): DataFrame = {
    val docs = tw(s, d, "documents", "doc_id")
    val withCols = TextAnalysis.qualityColumns(col("text"))
      .foldLeft(docs) { case (df, (name, c)) => df.withColumn(name, c) }
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    // The three averaged columns are per-row round(…, 6) grid values:
    // exact micro-unit accumulation (see ScaleBase.microMean6) instead
    // of round(avg(double)) so the result cannot depend on float
    // summation order (= partition layout / core count).
    // Each mean divides by its own column's non-NULL count: an empty
    // or zero-token document has NULL ratios and must not deflate it.
    withCols.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(micro6(col("alpha_ratio"))).as("_sa"), count(col("alpha_ratio")).as("_na"),
      sum(micro6(col("stopword_ratio"))).as("_ss"), count(col("stopword_ratio")).as("_ns"),
      sum(micro6(col("quality"))).as("_sq"), count(col("quality")).as("_nq"))
      .select(col("source"), col("n_docs"),
        microMean6("_sa", "_na").as("avg_alpha"),
        microMean6("_ss", "_ns").as("avg_stopword"),
        microMean6("_sq", "_nq").as("avg_quality"))
  }

  val textQualityOracle: String = {
    val stops = TextAnalysis.stopwords.map(TextAnalysis.sqlLit).mkString(", ")
    s"""WITH q AS (
       |  SELECT source,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_alpha,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> t IN ($stops))) AS n_stops
       |  FROM documents),
       |r AS (
       |  SELECT source, n_tokens,
       |    ROUND(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
       |    ROUND(CAST(n_stops AS DOUBLE) / n_tokens, 6) AS stopword_ratio
       |  FROM q),
       |s AS (
       |  SELECT source, alpha_ratio, stopword_ratio,
       |    ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3 +
       |      alpha_ratio * 0.4 +
       |      LEAST(1.0, stopword_ratio * 5.0) * 0.3, 6) AS quality
       |  FROM r)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST((2 * SUM(CAST(ROUND(alpha_ratio * 1000000.0, 0) AS BIGINT)) + COUNT(alpha_ratio))
       |    // (2 * COUNT(alpha_ratio)) AS DOUBLE) / 1000000.0 AS avg_alpha,
       |  CAST((2 * SUM(CAST(ROUND(stopword_ratio * 1000000.0, 0) AS BIGINT)) + COUNT(stopword_ratio))
       |    // (2 * COUNT(stopword_ratio)) AS DOUBLE) / 1000000.0 AS avg_stopword,
       |  CAST((2 * SUM(CAST(ROUND(quality * 1000000.0, 0) AS BIGINT)) + COUNT(quality))
       |    // (2 * COUNT(quality)) AS DOUBLE) / 1000000.0 AS avg_quality
       |FROM s GROUP BY source""".stripMargin
  }

  def textLangId(s: SparkSession, d: String): DataFrame =
    tw(s, d, "documents", "doc_id")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))

  val textLangIdOracle: String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val set = markers.map(TextAnalysis.sqlLit).mkString(", ")
      s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ($set))) AS s_$lang"
    }.mkString(",\n      |    ")
    s"""WITH s AS (
       |  SELECT lang, $scores
       |  FROM documents)
       |SELECT lang,
       |  CASE
       |    WHEN s_zh > GREATEST(s_en, s_de, s_es, s_fr) THEN 'zh'
       |    WHEN s_fr > GREATEST(s_en, s_de, s_es) THEN 'fr'
       |    WHEN s_es > GREATEST(s_en, s_de) THEN 'es'
       |    WHEN s_de > s_en THEN 'de'
       |    ELSE 'en' END AS pred_lang,
       |  COUNT(*) AS n
       |FROM s GROUP BY 1, 2""".stripMargin
  }

  // ---- dedup -----------------------------------------------------------
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactStats(t(s, d, "documents"),
      Dedup.normalizedText(col("text")))

  val dedupExactOracle: String =
    """WITH g AS (
      |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS k,
      |    COUNT(*) AS c
      |  FROM documents GROUP BY 1)
      |SELECT COUNT(*) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS n_redundant,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
      |FROM g""".stripMargin

  def dedupMinHash(s: SparkSession, d: String): DataFrame =
    Dedup.minHashNearDups(tw(s, d, "documents", "doc_id"), "doc_id", "text",
      shingleK = 3, minJaccard = 0.6)

  /** Brute-force exact-Jaccard oracle — valid because the Spark side
    * verifies every LSH candidate exactly and r=2/b=32 banding has
    * < 1e-6 miss probability at jaccard ≥ 0.6. */
  val dedupMinHashOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(generate_series(1, len(toks) - 2),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [] END) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      len(list_distinct(a.s || b.s)), 6) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin

  /** SimHash certification: the bucketed pipeline must equal a
    * brute-force all-pairs hamming scan EXACTLY — maxDist = 3 is the
    * regime where 4×16-bit chunk banding has pigeonhole-guaranteed
    * recall (any pair within 3 differing bits shares an intact
    * chunk), so approx ≡ brute is a theorem the engine must witness.
    * Signature values are engine hashes (not SQL-derivable), so the
    * oracle checks the DuckDB-computable document count plus the
    * protocol constants and the Spark-verified equality flags; a
    * broken bucketing flips `equals_brute` to false → hash mismatch.
    * The O(n²) brute twin is harness-SF-only certification cost —
    * production callers use [[Dedup.simHashNearDups]] alone. */
  def dedupSimHash(s: SparkSession, d: String): DataFrame = {
    val sigs = Dedup.simHashSignatures(t(s, d, "documents"), "doc_id", "text")
      .localCheckpoint(eager = false) // feeds approx + both brute sides
    val approx = Dedup.simHashNearDupsFromSigs(sigs, "doc_id", maxDist = 3)
    val brute = sigs.select(col("doc_id").as("a"), col("sig").as("sig_a"))
      .crossJoin(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        Dedup.hamming(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= 3)
    val missing = brute.join(approx, Seq("a", "b", "dist"), "left_anti")
    val extra = approx.join(brute, Seq("a", "b", "dist"), "left_anti")
    t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      .crossJoin(missing.agg(count(lit(1)).as("n_missing")))
      .crossJoin(extra.agg(count(lit(1)).as("n_extra")))
      .select(col("n_docs"), lit(4).as("n_chunks"), lit(3).as("max_dist"),
        (col("n_missing") === 0 && col("n_extra") === 0).as("equals_brute"))
  }

  val dedupSimHashOracle: String =
    """SELECT COUNT(*) AS n_docs, 4 AS n_chunks, 3 AS max_dist,
      |  TRUE AS equals_brute
      |FROM documents""".stripMargin

  /** The deterministic ~1000-vertex id-hash sample shared by every
    * O(n²)-witness twin in the embedding-dedup gate rows (the same
    * `mixtureKeep` arithmetic the oracle replays integer-for-integer;
    * proven on dedup_semantic's twin in r6). Rationale: the gate must
    * certify the OPERATORS, but a witness that replays brute-force
    * O(n²) pairs grows quadratically with the soak SF — at sf1 the
    * three full-corpus brute twins were 44% of the whole soak. A
    * ~1000-vertex sample caps every twin at O(cap²) while keeping the
    * witnesses statistically meaningful (59 exact pairs at sf0.01,
    * 231 at sf0.1 inside the sample). Full-corpus sizing/routing is
    * still pinned — via the COUNT(*)-driven parameter formulas, which
    * cost one metadata scan, not a pair join. */
  /** Incremental dedup: docs with `doc_id % 5 = 4` play today's
    * arriving batch; pairs must touch the batch (new×old, new×new —
    * old×old was settled by prior runs). The oracle recomputes the
    * full pair set and applies the same restriction. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Dedup.exactJaccardPairsIncremental(
      docs.filter(col("doc_id") % 5 =!= 4),
      docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", shingleK = 2, minJaccard = 0.8)
  }

  val dedupIncrementalOracle: String =
    s"""WITH $jaccardPairCtes
       |SELECT a, b, jaccard FROM pairs
       |WHERE jaccard >= 0.8 AND (a % 5 = 4 OR b % 5 = 4)""".stripMargin

  /** Graph analytics over the near-dup edge set: triangle count
    * (two self-joins on oriented a<b edges — the standard distributed
    * formulation, shuffle bounded by edge count not node pairs),
    * wedge count from degrees, and the global clustering coefficient
    * 3·triangles/wedges. The oracle recomputes the same graph from
    * the shared Jaccard-pair CTE. */
  def dedupTriangles(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)
      .select(col("a"), col("b"))
      .localCheckpoint(eager = false)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri).crossJoin(wedges)
      .select(col("n_edges"), col("n_nodes"), col("n_triangles"),
        col("n_wedges"),
        round(when(col("n_wedges") > 0,
          col("n_triangles") * 3.0 / col("n_wedges")).otherwise(0.0), 6)
          .as("clustering_coeff"))
  }

  val dedupTrianglesOracle: String =
    s"""WITH $jaccardPairCtes,
       |e AS (SELECT a, b FROM pairs WHERE jaccard >= 0.8),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |deg AS (
       |  SELECT id, COUNT(*) AS deg FROM (
       |    SELECT a AS id FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY id),
       |w AS (
       |  SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
       |    COUNT(*) AS n_nodes
       |  FROM deg)
       |SELECT (SELECT COUNT(*) FROM e) AS n_edges, n_nodes, n_triangles,
       |  n_wedges,
       |  ROUND(CASE WHEN n_wedges > 0
       |    THEN n_triangles * 3.0 / n_wedges ELSE 0.0 END, 6)
       |    AS clustering_coeff
       |FROM tri, w""".stripMargin

  /** PageRank centrality over the near-dup graph — ranks each doc by
    * how central it is to its duplication neighborhood (the canonical-
    * doc-per-cluster signal; see [[graft.operators.PageRank]]). Five
    * synchronous rounds at α=0.85; every iteration's arithmetic is
    * 9-dp-rounded with DECIMAL(18,9) contribution sums, so the oracle
    * replays ALL five rounds bit-for-bit as chained (unrolled) CTEs —
    * the whole trajectory is pinned, not just the fixpoint shape. */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)
    graft.operators.PageRank.pagerank(pairs, "a", "b",
      damping = 0.85, iters = 5)
      .select(col("id").as("doc_id"), col("pagerank"))
  }

  val graphPagerankOracle: String = {
    // one chained CTE per synchronous round — DuckDB disallows
    // aggregates in a recursive term, so the fixed iteration count is
    // unrolled instead (same arithmetic as the engine, incl. the
    // double-forced damping constants: a bare `1.0 - 0.85` would be
    // DECIMAL arithmetic, a DIFFERENT double than the engine's)
    val rounds = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT e.b AS id,
         |    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |        / (SELECT n FROM nv)
         |      + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(
         |          ROUND(p.score / d.deg, 9) AS DECIMAL(18,9))) AS DOUBLE),
         |      9) AS score
         |  FROM pr${i - 1} p
         |  JOIN deg d ON p.id = d.id
         |  JOIN edges e ON p.id = e.a
         |  GROUP BY e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardPairCtes,
       |edges AS (
       |  SELECT a, b FROM pairs WHERE jaccard >= 0.8
       |  UNION SELECT b, a FROM pairs WHERE jaccard >= 0.8),
       |deg AS (SELECT a AS id, COUNT(*) AS deg FROM edges GROUP BY a),
       |nv AS (SELECT COUNT(*) AS n FROM deg),
       |pr0 AS (
       |  SELECT id, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nv), 9)
       |    AS score
       |  FROM deg),
       |$rounds
       |SELECT id AS doc_id, score AS pagerank FROM pr5""".stripMargin
  }

  /** Label-propagation communities over the near-dup graph — the
    * community stage beside [[graphPagerank]]: 3 synchronous rounds,
    * labels start as doc ids, each vertex takes the MODE of its
    * neighbors' labels (min label on ties). Pure integer arithmetic,
    * so the oracle unrolls all three rounds as chained CTEs and the
    * per-vertex label table is hash-pinned exactly — trajectory, not
    * shape. See [[graft.operators.LabelPropagation]] (size-adaptive:
    * driver loop under the 2M-edge broadcast-discipline bound,
    * distributed join+argmax rounds above). */
  def graphCommunities(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)
    graft.operators.LabelPropagation.propagate(pairs, "a", "b", iters = 3)
      .select(col("id").as("doc_id"), col("label"))
  }

  val graphCommunitiesOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""r$i AS (
         |  SELECT e.src, l.label, COUNT(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON e.dst = l.id
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT src AS id, label FROM (
         |    SELECT src, label,
         |      ROW_NUMBER() OVER (PARTITION BY src
         |        ORDER BY c DESC, label ASC) AS rn
         |    FROM r$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED: edges is referenced by l0 and all three rounds —
    // DuckDB inlines CTEs by default, which would re-evaluate the
    // shingle-pair join once per reference (the BPE-oracle lesson)
    s"""WITH $jaccardPairCtes,
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pairs WHERE jaccard >= 0.8
       |  UNION ALL SELECT b, a FROM pairs WHERE jaccard >= 0.8),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
       |$rounds
       |SELECT id AS doc_id, label FROM l3""".stripMargin
  }
  /** Exact bigram-Jaccard near-dup pairs (no LSH) — prefix-filtered
    * inverted index; oracle is the brute-force pair scan. t = 0.8 is
    * the standard near-dup regime AND the regime where prefix
    * filtering has teeth: this corpus' shingle vocabulary is tiny
    * (median df ≈ 285/5000 docs at sf0.1), so at t = 0.5 the
    * candidate set degenerates to nearly all n²/2 pairs for ANY exact
    * algorithm — that's what MinHash banding (dedup_minhash) is for. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.exactJaccardPairs(tw(s, d, "documents", "doc_id"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)

  /** Shared CTE text: bigram shingles + brute-force Jaccard pairs —
    * used by both the pair query's oracle and the connected-components
    * oracle so the two stay pinned to one definition. */
  // lazy: referenced by oracle vals that appear EARLIER in source
  // order (Scala initializes vals top-down; a plain val would be null
  // inside them)
  private lazy val jaccardPairCtes: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 2
      |      THEN list_transform(generate_series(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1])
      |      ELSE [] END) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      len(list_distinct(a.s || b.s)), 6) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)""".stripMargin

  val ngramJaccardOracle: String =
    s"""WITH $jaccardPairCtes
       |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.8""".stripMargin

  /** Near-subset detection: containment C = common/min(|A|,|B|) at
    * 0.9 — catches a short doc quoted inside a long one, where
    * Jaccard collapses with the size gap. */
  def textContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(tw(s, d, "documents", "doc_id"), "doc_id",
      "text", shingleK = 2, minContainment = 0.9)

  val textContainmentOracle: String =
    s"""WITH $jaccardPairCtes,
       |cpairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |      LEAST(len(a.s), len(b.s)), 6) AS containment,
       |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |      len(list_distinct(a.s || b.s)), 6) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.s) > 0 AND len(b.s) > 0)
       |SELECT a, b, containment, jaccard FROM cpairs
       |WHERE containment >= 0.9""".stripMargin

  /** Near-dup clustering end-to-end: exact-Jaccard pair edges →
    * distributed connected components → (doc, component) assignment.
    * The oracle recomputes the same edges and closes them with a
    * recursive CTE — transitive "A~B, B~C ⇒ {A,B,C} one cluster"
    * semantics pinned across engines. */
  def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)
    graft.operators.ConnectedComponents.components(pairs, "a", "b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
  }

  val dedupComponentsOracle: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
       |edges AS (
       |  SELECT a, b FROM pairs WHERE jaccard >= 0.8
       |  UNION ALL SELECT b, a FROM pairs WHERE jaccard >= 0.8),
       |reach(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id)
       |SELECT id AS doc_id, MIN(comp) AS component
       |FROM reach GROUP BY id""".stripMargin

  /** Survivorship — the dedup end-cap: within each near-dup cluster,
    * the canonical document wins by RULE (longest text, then lowest
    * id) and the cluster report carries member count + chars saved.
    * Composes components → broadcast-join doc metadata → one rank
    * window over the (tiny) clustered subset. */
  def dedupSurvivorship(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id",
      "text", shingleK = 2, minJaccard = 0.8)
    val comps = graft.operators.ConnectedComponents.components(pairs, "a", "b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
    val meta = t(s, d, "documents").select("doc_id", "n_chars")
    val w = Window.partitionBy("component")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    comps.join(meta, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_doc"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("rk") =!= 1, col("n_chars")).otherwise(0L))
          .as("chars_removed"))
  }

  val dedupSurvivorshipOracle: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
       |edges AS (
       |  SELECT a, b FROM pairs WHERE jaccard >= 0.8
       |  UNION ALL SELECT b, a FROM pairs WHERE jaccard >= 0.8),
       |reach(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id),
       |cc AS (SELECT id AS doc_id, MIN(comp) AS component
       |       FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT cc.component, cc.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY cc.component
       |      ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rk
       |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id)
       |SELECT component, COUNT(*) AS n_members,
       |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS survivor_doc,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(COALESCE(SUM(CASE WHEN rk <> 1 THEN n_chars ELSE 0 END), 0)
       |    AS BIGINT) AS chars_removed
       |FROM ranked GROUP BY component""".stripMargin

  /** The dedup pipeline END-TO-END in one corpus pass: pair edges →
    * connected components → survivorship + per-cluster edge stats.
    * The standalone queries (text_ngram_jaccard / dedup_components /
    * dedup_survivorship) each recompute the pair table — fine as
    * focused surfaces, but at 100 TB that is three shingle passes
    * over the corpus where one suffices. Here the pair table is
    * materialized ONCE (eager local checkpoint — the iterative CC
    * scans it every round, the edge stats scan it once more) and
    * every downstream stage reuses the materialized blocks. Decimal
    * sum keeps the per-cluster jaccard total order-independent. */
  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      shingleK = 2, minJaccard = 0.8)
      .localCheckpoint(eager = false) // materialized by CC's first pass
    val comps = graft.operators.ConnectedComponents.components(pairs, "a", "b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
    val meta = docs.select("doc_id", "n_chars")
    val w = Window.partitionBy("component")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val memberStats = comps.join(meta, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_doc"),
        sum(when(col("rk") =!= 1, col("n_chars")).otherwise(0L))
          .as("chars_removed"))
    val edgeStats = pairs
      .join(comps.withColumnRenamed("doc_id", "a"), "a")
      .groupBy("component")
      .agg(count(lit(1)).as("n_edges"),
        round(sum(col("jaccard").cast("decimal(18,6)")).cast("double"), 6)
          .as("sum_jaccard"))
    memberStats.join(edgeStats, "component")
  }

  val dedupPipelineOracle: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
       |edges AS (SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.8),
       |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
       |reach(id, comp) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT e.a, r.comp FROM sym e JOIN reach r ON e.b = r.id),
       |cc AS (SELECT id AS doc_id, MIN(comp) AS component
       |       FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT cc.component, cc.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY cc.component
       |      ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rk
       |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
       |members AS (
       |  SELECT component, COUNT(*) AS n_members,
       |    MAX(CASE WHEN rk = 1 THEN doc_id END) AS survivor_doc,
       |    CAST(COALESCE(SUM(CASE WHEN rk <> 1 THEN n_chars ELSE 0 END), 0)
       |      AS BIGINT) AS chars_removed
       |  FROM ranked GROUP BY component),
       |estats AS (
       |  SELECT cc.component, COUNT(*) AS n_edges,
       |    ROUND(CAST(SUM(CAST(e.jaccard AS DECIMAL(18,6))) AS DOUBLE), 6)
       |      AS sum_jaccard
       |  FROM edges e JOIN cc ON e.a = cc.doc_id
       |  GROUP BY cc.component)
       |SELECT m.component, m.n_members, m.survivor_doc, m.chars_removed,
       |  s.n_edges, s.sum_jaccard
       |FROM members m JOIN estats s ON m.component = s.component""".stripMargin

  /** Document fingerprint dedup: group by the order-insensitive
    * content fingerprint (md5 of sorted distinct tokens), report each
    * duplicate group. Catches token-reordered near-copies that exact
    * normalization misses. */
  def dedupFingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") > 1)

  val dedupFingerprintOracle: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fp,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
      |FROM documents GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin

  /** Filtered kNN: nearest neighbors restricted to one label class —
    * the filter composes BEFORE the scan (predicate pushdown shrinks
    * the corpus), which is the whole point of filtered vector search:
    * never score what the metadata already excludes. */
  def knnFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.knnBrute(emb.filter(col("label") === 1), "vec_id", "embedding",
      queries = emb.filter(col("vec_id") < 10), k = 3)
  }

  val knnFilteredOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id AND e.label = 1),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s)
      |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 3""".stripMargin

  /** Whitespace vs BPE-ish token counts side by side — the sub-word
    * segmentation surface (word pieces + digits + punctuation as
    * separate tokens), aggregated per source. */
  def textBpeish(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy("source")
      .agg(
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("ws_tokens"),
        sum(size(TextAnalysis.bpeishTokens(col("text"))).cast("long"))
          .as("bpeish_tokens"))

  val textBpeishOracle: String =
    """SELECT source,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS bpeish_tokens
      |FROM documents GROUP BY source""".stripMargin

  /** TF-IDF top-3 terms per doc (df/N over the FULL corpus, output
    * restricted to the first 20 docs to keep the result bounded). */
  def textTfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 3)
      .filter(col("doc_id") < 20)

  val textTfidfOracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    ROUND(tf * (LN((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      |  FROM tf JOIN df USING (term), n),
      |r AS (
      |  SELECT doc_id, term, tfidf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY tfidf DESC, term ASC) AS INT) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tfidf FROM r
      |WHERE rank <= 3 AND doc_id < 20""".stripMargin

  /** Stratified downsampling by deterministic systematic selection:
    * per event_type, keep rows whose event_id mod 100 falls under the
    * stratum's quota — class rebalancing that is reproducible across
    * engines and runs (seeded Bernoulli `sampleBy` is engine-specific
    * RNG; systematic selection on a uniform key is the
    * oracle-checkable twin). */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val quota = typedLit(Map(
      "click" -> 10, "view" -> 5, "purchase" -> 100,
      "signup" -> 100, "error" -> 50))
    t(s, d, "events")
      // `%` not pmod: same truncated-modulo semantics as the oracle's
      // DuckDB `%` if event_ids were ever negative.
      .filter(col("event_id") % 100 <
        coalesce(quota(col("event_type")), lit(0)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"),
        QUtil.moneySum(QUtil.dec6(col("value"))).as("sum_value"))
  }

  val stratifiedSampleOracle: String =
    """SELECT event_type, COUNT(*) AS n_sampled,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_id % 100 < CASE event_type
      |  WHEN 'click' THEN 10 WHEN 'view' THEN 5 WHEN 'purchase' THEN 100
      |  WHEN 'signup' THEN 100 WHEN 'error' THEN 50 ELSE 0 END
      |GROUP BY event_type""".stripMargin

  /** The FULL curation pipeline a 100 TB pretraining corpus runs, as
    * ONE composed query with every stage's count replayed in SQL:
    * Gopher rule gate → duplicated-span filter (Lee 2022 coverage,
    * integer 2·dup ≤ n so no rounding boundary) → embedding-cosine
    * dedup keep-list (exact pairs ≥ 0.4 over the survivors'
    * embeddings → connected components → min-id survivor; the
    * SQL-replayable twin of the SemDeDup prune — production swaps in
    * [[Similarity.semDedup]] on the same keep-list contract) →
    * 64/48 chunking → 512-token sequence packing. Stage COMPOSITION
    * is what this row certifies: schema drift or filter reordering
    * between any two stages moves a count and flips the hash. Every
    * stage reuses an already-oracled operator; each intermediate is
    * checkpoint-pinned because it feeds ≥2 consumers (the stage
    * filter and the stage count). */
  def docsCurationE2e(s: SparkSession, d: String): DataFrame = {
    // r16 re-A/B (verdict #3): the r14 sf1 soak rejected a width
    // repartition here (9.4 vs 7.0 s), but that A/B used the
    // pre-r15 repartition(col) form, which AQE byte-coalesced back
    // to 1-2 partitions — the exchange was paid and the width never
    // arrived. With the explicit-count widen the profile's ~3 s of
    // 1-2-task stages (gopher tokenize, span build feeding the
    // checkpoints) parallelize: same-sitting solo A/B 4.49 → 4.01 s
    // at 32 cores, 5.08 → 4.75 s at 8 (the tokenize stage now runs
    // 32 tasks in the profile; residual time is the 34-job
    // stage-composition floor), oracle green.
    val docs = tw(s, d, "documents", "doc_id")
    val gated = graft.scaleops.TrainingData
      .gopherGate(docs, "doc_id", "text", minTokens = 10)
      .filter(col("passed"))
      .select("doc_id", "source", "text")
      .localCheckpoint(eager = false) // feeds span build, span join, count
    val spanCov = graft.scaleops.TrainingData
      .duplicatedSpans(gated, "doc_id", "text", k = 8)
      .select(col("doc_id"), col("dup_tokens"), col("n_tokens"))
    val spanPass = gated.join(spanCov, Seq("doc_id"))
      .filter(lit(2L) * col("dup_tokens") <= col("n_tokens"))
      .select("doc_id", "source", "text")
      .localCheckpoint(eager = false) // feeds emb semi-join, anti, count
    val embS = t(s, d, "embeddings")
      .join(spanPass.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val pairs = Similarity.nearDupPairs(embS, "vec_id", "embedding",
      threshold = 0.4)
    val dropped = graft.operators.ConnectedComponents
      .components(pairs, "a", "b")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"))
      .localCheckpoint(eager = false) // feeds anti join + count
    val survivors = spanPass.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false) // feeds chunk, pack, count
    val chunks = graft.scaleops.TrainingData
      .chunkDocs(survivors, "doc_id", "text", chunkSize = 64, stride = 48)
    val packed = graft.scaleops.TrainingData
      .packSequences(survivors, "doc_id", "text", shardCol = "source",
        seqLen = 512)
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(gated.agg(count(lit(1)).as("n_gate_pass")))
      .crossJoin(spanPass.agg(count(lit(1)).as("n_span_pass")))
      .crossJoin(dropped.agg(count(lit(1)).as("n_sem_dropped")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
      .crossJoin(chunks.agg(count(lit(1)).as("n_chunks")))
      .crossJoin(packed.agg(count(lit(1)).as("n_sequences"),
        sum(col("n_tokens")).as("n_packed_tokens")))
  }

  val docsCurationE2eOracle: String = {
    val stops = TextAnalysis.stopwords.map(TextAnalysis.sqlLit).mkString(", ")
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, source,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source, toks, len(toks) AS n,
       |    list_sum(list_transform(toks, t -> length(t))) AS sum_len,
       |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
       |    len(list_distinct(toks)) AS n_dist,
       |    len(list_intersect(list_distinct(toks), [$stops])) AS n_stops
       |  FROM tok),
       |gated AS (
       |  SELECT doc_id, source, toks, n FROM m
       |  WHERE n >= 10 AND n <= 100000 AND 3 * n <= sum_len
       |    AND sum_len <= 10 * n AND 5 * n_alpha >= 4 * n
       |    AND n_stops >= 2 AND 10 * n_dist >= 3 * n),
       |spans AS (
       |  SELECT doc_id, s - 1 AS start,
       |    array_to_string(toks[s:s+7], ' ') AS span
       |  FROM gated, UNNEST(generate_series(1, n - 7)) AS g(s)
       |  WHERE n >= 8),
       |dup AS (SELECT span FROM spans GROUP BY span HAVING COUNT(*) >= 2),
       |flagged AS (
       |  SELECT doc_id, start, start + 7 AS e
       |  FROM spans SEMI JOIN dup USING (span)),
       |isl AS (
       |  SELECT doc_id, start, e,
       |    CASE WHEN start > COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |      ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) THEN 1 ELSE 0 END AS ni
       |  FROM flagged),
       |isl2 AS (
       |  SELECT doc_id, start, e,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY start
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl),
       |cov0 AS (
       |  SELECT doc_id, island, MIN(start) AS i_start, MAX(e) AS i_end
       |  FROM isl2 GROUP BY 1, 2),
       |cov AS (
       |  SELECT doc_id, CAST(SUM(i_end - i_start + 1) AS BIGINT) AS dup_tokens
       |  FROM cov0 GROUP BY 1),
       |span_pass AS (
       |  SELECT g.doc_id, g.source, g.n FROM gated g
       |  LEFT JOIN cov USING (doc_id)
       |  WHERE 2 * COALESCE(cov.dup_tokens, 0) <= g.n),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings SEMI JOIN span_pass ON vec_id = doc_id),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE ROUND(list_dot_product(a.v, b.v) /
       |    (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) >= 0.4),
       |sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
       |reach(id, comp) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s2.a, r.comp FROM sym s2 JOIN reach r ON s2.b = r.id),
       |cc AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
       |dropped AS (SELECT id FROM cc WHERE comp <> id),
       |survivors AS (
       |  SELECT sp.doc_id, sp.source, sp.n FROM span_pass sp
       |  ANTI JOIN dropped d ON sp.doc_id = d.id),
       |pk AS (
       |  SELECT source, n,
       |    COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM survivors),
       |seqs AS (
       |  SELECT DISTINCT source, CAST(FLOOR(prior / 512) AS BIGINT) AS seq_id
       |  FROM pk)
       |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       |  (SELECT COUNT(*) FROM gated) AS n_gate_pass,
       |  (SELECT COUNT(*) FROM span_pass) AS n_span_pass,
       |  (SELECT COUNT(*) FROM dropped) AS n_sem_dropped,
       |  (SELECT COUNT(*) FROM survivors) AS n_survivors,
       |  (SELECT CAST(SUM(((n - 1) // 48) + 1) AS BIGINT) FROM survivors
       |    WHERE n >= 1) AS n_chunks,
       |  (SELECT COUNT(*) FROM seqs) AS n_sequences,
       |  (SELECT CAST(SUM(n) AS BIGINT) FROM survivors) AS n_packed_tokens""".stripMargin
  }

  /** The end-to-end cleaning pipeline a training corpus goes through,
    * as ONE composed query: quality-score filter → language match →
    * fingerprint dedup (keep lowest doc_id) → per-source survivor
    * stats. Each stage reuses an already-oracled operator; the
    * composition itself is what this query pins. */
  def docsCleanPipeline(s: SparkSession, d: String): DataFrame = {
    // tokenize ONCE into real columns (their own select step: split()
    // referenced more than once is non-cheap, so CollapseProject
    // keeps the barrier and the regex runs once per row — the r9
    // shape re-split every doc ~7× across quality/langid/fingerprint);
    // then project to the 4 surviving columns and PIN: the scored
    // frame feeds both the keep-aggregation and the semi join —
    // without the checkpoint all the scoring runs twice, and without
    // the projection the checkpoint would materialize text
    // score EVERYTHING first, checkpoint the narrow scored projection,
    // THEN filter: a filter over the scoring expressions would be
    // pushed through the projection with the full tokenize/score
    // trees INLINED into the predicate — every expensive expression
    // evaluated twice per row (measured: the pre-r10 shape re-split
    // each doc ~7× between the filter and the surviving projection).
    // Fingerprinting the to-be-dropped rows costs ~0.4 s at the soak;
    // re-scoring everything cost ~3 s.
    val scored = tw(s, d, "documents", "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        TextAnalysis.tokens(col("text")).as("_toks"),
        TextAnalysis.tokens(lower(col("text"))).as("_toksl"))
      .withColumn("_mc", TextAnalysis.markerCounts(col("_toks")))
      .select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.qualityScoreCounted(
          col("_toks"), col("text"), element_at(col("_mc"), 1))
          .as("quality"),
        TextAnalysis.langIdScores(
          TextAnalysis.langMarkers.zipWithIndex.map { case ((lang, _), i) =>
            lang -> element_at(col("_mc"), i + 2)
          }).as("pred_lang"),
        TextAnalysis.fingerprintOf(col("_toksl")).as("fp"))
      .localCheckpoint(eager = false)
    val docs = scored
      .filter(col("quality") >= 0.5 && col("pred_lang") === col("lang"))
      .select("doc_id", "source", "quality", "fp")
    val keep = docs.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    // quality is a per-row round(…, 6) grid value: exact micro-unit
    // accumulation (ScaleBase.microMean6) instead of round(avg(double))
    // — the r15 regression was THIS column's 6th decimal flipping with
    // the float-summation order once tw's widen put defaultParallelism
    // into the plan (gate data has exact half-ties by construction).
    docs.join(keep, Seq("fp", "doc_id"), "left_semi")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(micro6(col("quality"))).as("_sq"), count(col("quality")).as("_nq"))
      .select(col("source"), col("n_docs"),
        microMean6("_sq", "_nq").as("avg_quality"))
  }

  val docsCleanPipelineOracle: String = {
    val stops = TextAnalysis.stopwords.map(TextAnalysis.sqlLit).mkString(", ")
    val langScores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val set = markers.map(TextAnalysis.sqlLit).mkString(", ")
      s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ($set))) AS s_$lang"
    }.mkString(",\n      |    ")
    s"""WITH q AS (
       |  SELECT doc_id, source, lang, text,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_alpha,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> t IN ($stops))) AS n_stops,
       |    $langScores
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, source, lang, text,
       |    ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3 +
       |      ROUND(CAST(n_alpha AS DOUBLE) / n_chars, 6) * 0.4 +
       |      LEAST(1.0, ROUND(CAST(n_stops AS DOUBLE) / n_tokens, 6) * 5.0) * 0.3,
       |      6) AS quality,
       |    CASE
       |      WHEN s_zh > GREATEST(s_en, s_de, s_es, s_fr) THEN 'zh'
       |      WHEN s_fr > GREATEST(s_en, s_de, s_es) THEN 'fr'
       |      WHEN s_es > GREATEST(s_en, s_de) THEN 'es'
       |      WHEN s_de > s_en THEN 'de'
       |      ELSE 'en' END AS pred_lang
       |  FROM q),
       |kept AS (
       |  SELECT doc_id, source, quality,
       |    md5(array_to_string(list_sort(list_distinct(
       |      string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp
       |  FROM scored WHERE quality >= 0.5 AND pred_lang = lang),
       |dedup AS (
       |  SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST((2 * SUM(CAST(ROUND(quality * 1000000.0, 0) AS BIGINT)) + COUNT(quality))
       |    // (2 * COUNT(quality)) AS DOUBLE) / 1000000.0 AS avg_quality
       |FROM kept JOIN dedup USING (fp, doc_id)
       |GROUP BY source""".stripMargin
  }

  /** Vocabulary build — the tokenizer-training precursor: lowercase,
    * alpha-token split, global frequency count, rank by (freq desc,
    * word asc), top 100 → (rank, word, freq). One explode + one
    * map-side-combinable groupBy; the rank window runs on the
    * already-tiny aggregate. */
  def textVocabulary(s: SparkSession, d: String): DataFrame = {
    // Top-k FIRST (sort+limit plans as a distributed
    // TakeOrderedAndProject — per-partition top-100s, merged), THEN
    // the rank window over the 100 surviving rows. A global
    // row_number window over the raw aggregate would funnel the whole
    // vocabulary through one task.
    val w = Window.orderBy(col("freq").desc, col("word").asc)
    t(s, d, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(100)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "word", "freq")
  }

  val textVocabularyOracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |  FROM documents),
      |freqs AS (
      |  SELECT word, COUNT(*) AS freq FROM toks WHERE word <> ''
      |  GROUP BY word)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS INT)
      |    AS rank, word, freq
      |FROM freqs QUALIFY rank <= 100""".stripMargin

  /** Sparse document cosine similarity via an INVERTED-INDEX join —
    * the scale path for pairwise TF-IDF similarity: weights self-join
    * on term (so only docs SHARING a term ever meet — no dense n²
    * pair scan), partial dot products aggregate per pair, norms join
    * in last. Weights are fixed to integer micro-units before the
    * join, so every sum is exact decimal arithmetic and the pair
    * scores are order-independent — the oracle is the identical
    * formulation in SQL. */
  def tfidfCosinePairs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 150)
    val terms = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.count()
    val dfreq = terms.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    // Materialized once (lazy local checkpoint): three consumers
    // (norms, both join sides) would otherwise recompute the
    // tf × df join — AQE's exchange reuse only caches the shuffles,
    // not the join itself.
    val weights = tf.join(dfreq, "term")
      .withColumn("wi",
        round(col("tf") * (log(lit(n + 1.0) / (col("df") + 1.0)) + 1.0) * 1e6, 0)
          .cast("decimal(19,0)"))
      .select("doc_id", "term", "wi")
      .localCheckpoint(eager = false)
    val norms = weights.groupBy("doc_id")
      .agg(sum(col("wi") * col("wi")).as("norm2"))
    val a = weights.select(col("doc_id").as("a"), col("term"),
      col("wi").as("wa"))
    val b = weights.select(col("doc_id").as("b"), col("term"),
      col("wi").as("wb"))
    a.join(b, "term").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("a"), col("norm2").as("na")), "a")
      .join(norms.select(col("doc_id").as("b"), col("norm2").as("nb")), "b")
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6))
      .filter(col("cos") >= 0.3)
      .select("a", "b", "cos")
  }

  val tfidfCosineOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
      |terms AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM docs),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM docs),
      |w AS (
      |  SELECT doc_id, term,
      |    CAST(ROUND(tf * (LN((n + 1.0) / (df + 1.0)) + 1.0) * 1e6, 0)
      |      AS DECIMAL(19,0)) AS wi
      |  FROM tf JOIN dfreq USING (term), n),
      |norms AS (SELECT doc_id, SUM(wi * wi) AS norm2 FROM w GROUP BY 1),
      |dots AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, SUM(a.wi * b.wi) AS dot
      |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b,
      |  ROUND(CAST(dot AS DOUBLE) /
      |    (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE))), 6) AS cos
      |FROM dots
      |JOIN norms na ON na.doc_id = a
      |JOIN norms nb ON nb.doc_id = b
      |WHERE ROUND(CAST(dot AS DOUBLE) /
      |    (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE))), 6) >= 0.3""".stripMargin

  /** Rolling z-score anomaly flags — the data-cleaning outlier pass a
    * training pipeline runs per entity: each event scored against the
    * 10 events BEFORE it (exclusive frame, so the anomaly doesn't
    * contaminate its own baseline). Decimal-exact rolling sums make
    * mean/variance order-independent; one shuffle on user_id. */
  def zscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-10, -1)
    val vd = QUtil.dec6(col("value"))
    val scored = t(s, d, "events")
      .withColumn("s1", sum(vd).over(w))
      .withColumn("s2", sum(vd * vd).over(w))
      .withColumn("n10", count(col("value")).over(w))
      .filter(col("n10") === 10)
      .withColumn("mean", col("s1").cast("double") / 10)
      .withColumn("vars",
        (col("s2").cast("double") - col("s1").cast("double") *
          col("s1").cast("double") / 10) / 9)
      .filter(col("vars") > 0)
      .withColumn("z", round((col("value") - col("mean")) / sqrt(col("vars")), 6))
    scored.filter(abs(col("z")) > 3)
      .select(col("user_id"), col("event_id"), col("value"), col("z"))
  }

  val zscoreOutliersOracle: String =
    """WITH f AS (
      |  SELECT user_id, event_id, value,
      |    SUM(CAST(value AS DECIMAL(18,6))) OVER w AS s1,
      |    SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS s2,
      |    COUNT(value) OVER w AS n10
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT user_id, event_id, value,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 10) / 9 AS vars,
      |    CAST(s1 AS DOUBLE) / 10 AS mean
      |  FROM f WHERE n10 = 10)
      |SELECT user_id, event_id, value,
      |  ROUND((value - mean) / SQRT(vars), 6) AS z
      |FROM scored
      |WHERE vars > 0 AND ABS(ROUND((value - mean) / SQRT(vars), 6)) > 3""".stripMargin

  /** Deterministic per-group sampling: the first k events per user in
    * event-time order — the reproducible "few examples per entity"
    * sample a debugging / eval set wants. One window pass. */
  def perGroupSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"),
        col("event_type"))
  }

  val perGroupSampleOracle: String =
    """SELECT user_id, CAST(rn AS INT) AS rn, event_id, event_type
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events)
      |WHERE rn <= 3""".stripMargin

  val all: Seq[Q] = Seq(
    Q("text_tokens", textTokens, Some(textTokensOracle)),
    Q("text_quality", textQuality, Some(textQualityOracle)),
    Q("text_langid", textLangId, Some(textLangIdOracle)),
    Q("dedup_exact", dedupExact, Some(dedupExactOracle)),
    Q("dedup_minhash", dedupMinHash, Some(dedupMinHashOracle)),
    Q("dedup_simhash", dedupSimHash, Some(dedupSimHashOracle)),
    Q("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingOracle)),
    Q("dedup_embedding_lsh", dedupEmbeddingLsh, Some(dedupEmbeddingLshOracle)),
    Q("dedup_embedding_auto", dedupEmbeddingAuto, Some(dedupEmbeddingAutoOracle)),
    Q("dedup_embedding_planted", dedupEmbeddingPlanted,
      Some(dedupEmbeddingPlantedOracle)),
    Q("dedup_semantic", dedupSemantic, Some(dedupSemanticOracle)),
    Q("dedup_semantic_incremental", dedupSemanticIncremental,
      Some(dedupSemanticIncrementalOracle)),
    Q("knn_brute", knnBrute, Some(knnBruteOracle)),
    Q("knn_lsh", knnLsh, Some(knnLshOracle)),
    Q("knn_sq8", knnSq8, Some(knnSq8Oracle)),
    // the two non-prebuilt quantized rows are BUILD-certification
    // rows by design: they run KMeans + encode in-row every time so
    // the gate certifies the self-building derived path end-to-end.
    // benchSkip (r14 verdict #5): the timed ANN signal is the
    // *_prebuilt twins (search-only, the production shape) plus
    // knn_auto's one-shot memoized build — re-timing a deliberate
    // 5-6 s rebuild per bench rep only ever read as a regression.
    Q("knn_ivf_sq8", knnIvfSq8, Some(knnIvfSq8Oracle), benchSkip = true),
    Q("knn_ivf_sq8_prebuilt", knnIvfSq8Prebuilt, Some(knnIvfSq8Oracle)),
    Q("knn_ivf_pq", knnIvfPq, Some(knnIvfPqOracle), benchSkip = true),
    Q("knn_ivf_pq_prebuilt", knnIvfPqPrebuilt, Some(knnIvfPqOracle)),
    Q("knn_mmr_diverse", knnMmr, Some(knnMmrOracle)),
    Q("dedup_triangles", dedupTriangles, Some(dedupTrianglesOracle)),
    Q("graph_pagerank", graphPagerank, Some(graphPagerankOracle)),
    Q("graph_communities", graphCommunities, Some(graphCommunitiesOracle)),
    Q("dedup_incremental", dedupIncremental, Some(dedupIncrementalOracle)),
    Q("knn_ivf", knnIvf, Some(knnIvfOracle)),
    Q("knn_auto", knnAutoQ, Some(knnAutoOracle)),
    Q("knn_ivf_full", knnIvfFull, Some(knnBruteOracle)),
    Q("knn_ivf_prebuilt", knnIvfPrebuilt, Some(knnIvfOracle)),
    Q("knn_ivf_incremental", knnIvfIncremental, Some(knnIvfIncrementalOracle)),
    Q("knn_graph", knnGraphQ, Some(knnGraphOracle)),
    Q("knn_graph_incremental", knnGraphIncremental,
      Some(knnGraphIncrementalOracle)),
    Q("knn_graph_descent_planted", knnGraphDescentPlanted,
      Some(knnGraphDescentPlantedOracle)),
    Q("knn_filtered", knnFiltered, Some(knnFilteredOracle)),
    Q("knn_filtered_ivf", knnFilteredIvf, Some(knnFilteredIvfOracle)),
    Q("knn_filtered_ivf_float", knnFilteredIvfFloat,
      Some(knnFilteredIvfFloatOracle)),
    Q("knn_filtered_pq", knnFilteredPq, Some(knnFilteredPqOracle)),
    Q("text_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)),
    Q("text_containment", textContainment, Some(textContainmentOracle)),
    Q("dedup_components", dedupComponents, Some(dedupComponentsOracle)),
    Q("dedup_survivorship", dedupSurvivorship, Some(dedupSurvivorshipOracle)),
    Q("dedup_pipeline", dedupPipeline, Some(dedupPipelineOracle)),
    Q("text_vocabulary", textVocabulary, Some(textVocabularyOracle)),
    Q("emb_mutual_knn_clusters", embMutualKnnClusters,
      Some(embMutualKnnClustersOracle)),
    Q("emb_centroids", embCentroids, Some(embCentroidsOracle)),
    Q("emb_silhouette", embSilhouette, Some(embSilhouetteOracle)),
    Q("text_tfidf_cosine", tfidfCosinePairs, Some(tfidfCosineOracle)),
    Q("ts_zscore_outliers", zscoreOutliers, Some(zscoreOutliersOracle)),
    Q("events_per_group_sample", perGroupSample, Some(perGroupSampleOracle)),
    Q("text_tfidf", textTfidf, Some(textTfidfOracle)),
    Q("text_bpeish", textBpeish, Some(textBpeishOracle)),
    Q("dedup_fingerprint", dedupFingerprint, Some(dedupFingerprintOracle)),
    Q("events_stratified_sample", stratifiedSample, Some(stratifiedSampleOracle)),
    Q("docs_clean_pipeline", docsCleanPipeline, Some(docsCleanPipelineOracle)),
    Q("docs_curation_e2e", docsCurationE2e, Some(docsCurationE2eOracle)))
}
