package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.scaleops.{Dedup, Similarity, TextAnalysis}
import graft.sources.{Artifacts, Tables}

/** ANN / similarity-search gate queries (knn_* rows): brute, LSH,
  * IVF (+SQ8/PQ/prebuilt/incremental), the cost router, MMR — plus
  * their shared certification and COUNT(*)-replay SQL builders and
  * the on-disk IVF index memo. Split from ScaleQueries.scala (r10),
  * zero behavior change. */
private[queries] trait ScaleAnnQueries extends ScaleBase {
  // ---- similarity search ----------------------------------------------
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.knnBrute(emb, "vec_id", "embedding",
      queries = emb.filter(col("vec_id") < 10), k = 5)
  }

  val knnBruteOracle: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s)
      |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5""".stripMargin

  /** One-row ANN certification vs the exact twin: exact-side counts
    * the oracle recomputes in SQL, plus Spark-witnessed properties —
    * recall over exact top-k ≥ `minRecall`, and per-query ranks dense
    * from 1 (min(rank)=1, max(rank)=count). `min` over the boolean
    * column is conjunction. Returned ANN scores are exact cosines by
    * construction (candidates are exact-scored), so score equality
    * needs no separate witness. */
  private def knnCertify(approx: DataFrame, exact: DataFrame,
                         minRecall: Double): DataFrame = {
    val common = approx.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
    val ranks = approx.groupBy("query_id")
      .agg(min("rank").as("mn"), max("rank").as("mx"), count(lit(1)).as("c"))
      .agg(min(col("mn") === 1 && col("mx") === col("c")).as("ranks_dense"))
    exact.agg(countDistinct("query_id").as("n_queries"),
        max("rank").as("k"), count(lit(1)).as("n_exact"))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .crossJoin(ranks)
      .select(col("n_queries"), col("k"), col("n_exact"),
        (col("n_common").cast("double") / col("n_exact") >= minRecall)
          .as("recall_ok"),
        col("ranks_dense"))
  }

  /** Exact-top-k CTE shared by the ANN certification oracles. */
  private val knnExactTopkCte: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s),
      |topk AS (SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5)""".stripMargin

  /** Multi-table MULTI-PROBE LSH ANN certified against brute top-k,
    * at CORPUS-DERIVED plane/table counts
    * ([[Similarity.lshMultiProbeParams]] with the default minCos=0.5
    * neighbor floor, targetRecall 0.95 — HIGHER than the pair path's
    * 0.85 since knn candidates are query-bounded). Since r9 the
    * query side probes its bucket plus every one-flipped-plane
    * neighbor: recall lives on the |Q|-bounded side, so 7 tables
    * replace 22 at the sf1 soak and the plane cap stops freezing
    * bucket growth (the single-probe rule's 10.6×-for-10×-data
    * defect; measured after: 4.2×, recall 1.00/1.00/1.00/0.96).
    * Bound 0.9 (raised from the static-era 0.5 once derivation
    * landed — r6 ADVICE). The chosen plane/table counts are result
    * columns read from the provenance stamp
    * ([[Similarity.routeOf]]); the oracle recomputes them from
    * COUNT(*) — reverting to static or single-probe sizing throws
    * here and hash-mismatches there. */
  def knnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val approx =
      Similarity.knnLshDerived(emb, "vec_id", "embedding", q, k = 5, dim = 64)
    val p = Similarity.routeOf(approx).flatMap(_.lsh).getOrElse(
      throw new IllegalStateException(
        "knn_lsh must use the corpus-derived LSH path"))
    knnCertify(
      approx,
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.9)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.numPlanes).as("lsh_planes"), lit(p.numTables).as("lsh_tables"),
        lit(p.probeDepth).as("lsh_depth"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** DuckDB replay of [[Similarity.lshMultiProbeParams]] — the
    * DERIVED-DEPTH multi-probe knn sizing. `c`, the per-plane
    * agreement probability, is spelled inline; the per-table
    * collision at probe depth d is the binomial tail
    * `Σ_{i≤min(d,p)} C(p,i)·c^(p−i)·(1−c)^i` with each term written
    * out (d ≤ 3 — four CASE-gated terms, never an engine list_sum)
    * in the exact left-assoc IEEE arithmetic of
    * [[Similarity.lshMultiProbeTail]]; the plane ceiling per depth is
    * a MAX over generate_series(1,30); the chosen depth is the
    * smallest d ∈ {1,2,3} whose ceiling covers the size-derived plane
    * count (else 3) — the same scans the Scala rule runs. */
  private def lshMultiProbeParamsSql(tau: Double, recall: Double): String = {
    val c = s"(CAST(1.0 AS DOUBLE) - ACOS(CAST($tau AS DOUBLE)) / PI())"
    val floorExpr = s"(CAST(1.0 AS DOUBLE) - POWER(CAST(1.0 AS DOUBLE) " +
      s"- CAST($recall AS DOUBLE), CAST(1.0 AS DOUBLE) / CAST(32.0 AS DOUBLE)))"
    // binomial-tail collision for plane count `p` at probe depth `d`
    // (SQL identifiers): terms gated exactly like the Scala loop
    // bound i ≤ min(d, p); a skipped term adds 0.0 (bit-neutral on
    // the positive partial sums).
    def tail(p: String, d: String): String =
      s"""(POWER($c, $p)
         | + CASE WHEN $d >= 1 AND $p >= 1 THEN CAST($p AS DOUBLE)
         |     * POWER($c, $p - 1)
         |     * POWER(CAST(1.0 AS DOUBLE) - $c, 1) ELSE 0.0 END
         | + CASE WHEN $d >= 2 AND $p >= 2 THEN CAST($p AS DOUBLE)
         |     * (CAST($p - 1 AS DOUBLE) / CAST(2 AS DOUBLE))
         |     * POWER($c, $p - 2)
         |     * POWER(CAST(1.0 AS DOUBLE) - $c, 2) ELSE 0.0 END
         | + CASE WHEN $d >= 3 AND $p >= 3 THEN CAST($p AS DOUBLE)
         |     * (CAST($p - 1 AS DOUBLE) / CAST(2 AS DOUBLE))
         |     * (CAST($p - 2 AS DOUBLE) / CAST(3 AS DOUBLE))
         |     * POWER($c, $p - 3)
         |     * POWER(CAST(1.0 AS DOUBLE) - $c, 3) ELSE 0.0 END)"""
        .stripMargin.linesIterator.mkString(" ")
    s"""mpc AS (
       |  SELECT gd.d AS d, GREATEST(1, COALESCE((
       |      SELECT MAX(g.p) FROM generate_series(1, 30) AS g(p)
       |      WHERE ${tail("g.p", "gd.d")} >= $floorExpr), 1)) AS maxp
       |  FROM generate_series(1, 3) AS gd(d)),
       |msz AS (
       |  SELECT CAST(CEIL(LN(GREATEST(CAST(1.0 AS DOUBLE),
       |      n / CAST(512.0 AS DOUBLE))) / LN(CAST(2.0 AS DOUBLE))) AS INT)
       |    AS sizeplanes
       |  FROM sz),
       |mdep AS (
       |  SELECT COALESCE((SELECT MIN(d) FROM mpc, msz WHERE maxp >= sizeplanes),
       |    3) AS depth),
       |mpp AS (
       |  SELECT GREATEST(1, LEAST(LEAST(sizeplanes,
       |      (SELECT maxp FROM mpc, mdep WHERE d = depth)), 30)) AS planes,
       |    (SELECT depth FROM mdep) AS depth
       |  FROM msz),
       |mpt AS (
       |  SELECT planes, depth, GREATEST(4, LEAST(32,
       |    CAST(CEIL(LN(CAST(1.0 AS DOUBLE) - CAST($recall AS DOUBLE))
       |      / LN(CAST(1.0 AS DOUBLE) - LEAST(${tail("planes", "depth")},
       |        CAST(1.0 AS DOUBLE) - CAST(1e-9 AS DOUBLE)))) AS INT))) AS tabs
       |  FROM mpp)""".stripMargin
  }

  val knnLshOracle: String =
    s"""$knnExactTopkCte,
       |sz AS (SELECT COUNT(*) AS n FROM embeddings),
       |${lshMultiProbeParamsSql(0.5, recall = 0.95)}
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  planes AS lsh_planes, tabs AS lsh_tables, depth AS lsh_depth,
       |  TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk, mpt
       |GROUP BY planes, tabs, depth""".stripMargin

  /** DuckDB replay of [[Similarity.ivfDerivedParams]] — nList ≈ √n
    * (floor 8), nProbe = ceil(0.35·nList) (floor 3, cap nList), all
    * IEEE-double ceil/sqrt so the engine's arithmetic reproduces
    * exactly. Emits one row (nlist, nprobe) given a one-row relation
    * `sz(n)`. */
  private val ivfParamsSql: String =
    """ivfp AS (
      |  SELECT GREATEST(8, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS INT)) AS nlist
      |  FROM sz),
      |ivfq AS (
      |  SELECT nlist, LEAST(nlist, GREATEST(3,
      |    CAST(CEIL(CAST(0.35 AS DOUBLE) * nlist) AS INT))) AS nprobe
      |  FROM ivfp)""".stripMargin

  /** IVF ANN at CORPUS-DERIVED sizing ([[Similarity.knnIvfDerived]]:
    * nList ≈ √n cells, nProbe a fixed 0.35 fraction of them — the
    * same derivation discipline as the LSH rows; static 8/3 was the
    * thinnest certification margin in the registry, 0.68 measured vs
    * a 0.6 floor at sf1). Measured recall under the derived rule
    * (RecallProbe): 0.84 / 0.84 / 0.84 / 0.88 at
    * sf0.001 / 0.01 / 0.1 / sf1-soak — bound 0.75. The chosen
    * nList/nProbe are result columns read from the provenance stamp
    * ([[Similarity.ivfParamsOf]]); the oracle recomputes them from
    * COUNT(*) — reverting to static sizing throws here and
    * hash-mismatches there. The exact-search regime is pinned
    * separately by knn_ivf_full (nProbe = nList ≡ brute,
    * hash-matched). */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val approx = Similarity.knnIvfDerived(emb, "vec_id", "embedding", q, k = 5)
    val p = Similarity.ivfParamsOf(approx).getOrElse(
      throw new IllegalStateException(
        "knn_ivf must use the corpus-derived IVF path"))
    knnCertify(approx,
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        col("recall_ok"), col("ranks_dense"))
  }

  val knnIvfOracle: String =
    s"""$knnExactTopkCte,
       |sz AS (SELECT COUNT(*) AS n FROM embeddings),
       |$ivfParamsSql
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  nlist AS n_list, nprobe AS n_probe,
       |  TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk, ivfq
       |GROUP BY nlist, nprobe""".stripMargin


  /** SQ8-quantized ANN (int8 codes + exact re-rank, refine=4)
    * certified against brute top-k — see [[Similarity.knnSq8]]: the
    * candidate scan reads 64 B codes instead of 256 B floats (the
    * 100 TB IO dial, complementary to LSH/IVF's candidate dial).
    * int8 on this corpus barely perturbs ranking, so the bound is
    * high: measured recall (RecallProbe) 1.000 at every SF
    * (sf0.001 / 0.01 / 0.1); bound 0.9. */
  def knnSq8(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    knnCertify(
      Similarity.knnSq8(emb, "vec_id", "embedding", q, k = 5, refine = 4),
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.9)
  }

  val knnSq8Oracle: String =
    s"""$knnExactTopkCte
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk""".stripMargin

  /** IVF×SQ8 composed ANN (cells bound the candidates, int8 codes
    * bound the bytes, exact refine restores scores — the standard
    * vector-store shape) certified against brute top-k at the same
    * corpus-derived routing as knn_ivf ([[Similarity
    * .knnIvfSq8Derived]]). Measured recall under the derived rule is
    * IDENTICAL to plain IVF at every SF (RecallProbe: 0.84/0.84/0.84
    * at sf0.001/0.01/0.1) — the SQ8 + refine stage loses nothing;
    * all loss is cell routing. Bound 0.75. */
  def knnIvfSq8(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val approx =
      Similarity.knnIvfSq8Derived(emb, "vec_id", "embedding", q, k = 5,
        refine = 4)
    val p = Similarity.ivfParamsOf(approx).getOrElse(
      throw new IllegalStateException(
        "knn_ivf_sq8 must use the corpus-derived IVF path"))
    knnCertify(approx,
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        col("recall_ok"), col("ranks_dense"))
  }

  val knnIvfSq8Oracle: String =
    s"""$knnExactTopkCte,
       |sz AS (SELECT COUNT(*) AS n FROM embeddings),
       |$ivfParamsSql
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  nlist AS n_list, nprobe AS n_probe,
       |  TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk, ivfq
       |GROUP BY nlist, nprobe""".stripMargin

  /** IVF×SQ8 over a PREBUILT index + PERSISTED codes table — the
    * production (search-only) shape of the designated 100 TB ANN
    * architecture: centroids + cell assignments are fitted and saved
    * once ([[ivfLoadOrBuild]]), the int8 codes parquet is written
    * once beside them ([[Similarity.sq8Codes]] is a pure function of
    * the cell table, so the persisted codes are exactly what a
    * rebuild would produce), and every later search pays load +
    * route + code-scan + refine only — never a KMeans refit or a
    * corpus re-encode per query batch (the knn_ivf_prebuilt
    * precedent: 11.6 → 1.1 s). Same derived sizing and 0.75 bound as
    * knn_ivf_sq8; the codes are a part of the index memo, so
    * [[Artifacts.memo]] deletes them when it rebuilds the index. */
  def knnIvfSq8Prebuilt(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val nCorpus = emb.count()
    val p = Similarity.ivfDerivedParams(nCorpus)
    val index = ivfLoadOrBuild(s, "target/ivf_index_sq8", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(nCorpus)))
    val codes = Similarity.sq8CodesCached(s, index,
      Some(Artifacts.memoDir("target/ivf_index_sq8", d)))
    knnCertify(
      Similarity.knnIvfSq8Indexed(index, codes, "vec_id", "embedding", q,
        k = 5, nProbe = p.nProbe, refine = 4),
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** IVF×PQ composed ANN (faiss `IVF<n>,PQ8` — cells bound the
    * candidates, 8-BYTE product-quantization codes bound the bytes
    * (32× under floats, 8× under SQ8), ADC table lookups score, exact
    * refine restores scores — see [[Similarity.knnIvfPq]] /
    * [[graft.functions.Pq]]) certified against brute top-k at the
    * same corpus-derived routing as knn_ivf. PQ ranks coarser than
    * SQ8, so the refine pool is DERIVED from the probed-set size
    * ([[Similarity.pqDerivedRefine]] — max(16, ceil(√probed)):
    * refine=16 measured 0.68 at the sf1 soak because the probed set
    * grows ~linearly with n; the derived pool recovers 0.820 = plain
    * IVF there, and the sweep saturates at ≥32, so residual loss is
    * all routing) and the codebook is the faiss-default 8
    * bits/subspace (ks=256; ks=16 measured 0.48 at sf0.1 — 4-bit
    * cells are too coarse for ADC ordering). Measured recall
    * (RecallProbe): 0.840/0.820/0.880/0.820 at sf0.001/0.01/0.1/sf1
    * vs plain IVF's 0.840/0.840/0.880/0.820. Bound 0.75, same as
    * knn_ivf; the oracle replays nList/nProbe AND the refine rule
    * from COUNT(*). */
  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val approx = Similarity.knnIvfPq(emb, "vec_id", "embedding", q, k = 5)
    val p = Similarity.ivfParamsOf(approx).getOrElse(
      throw new IllegalStateException(
        "knn_ivf_pq must use the corpus-derived IVF path"))
    val nCorpus = emb.count()
    knnCertify(approx,
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        lit(8).as("pq_m"), lit(256).as("pq_ks"),
        lit(Similarity.pqDerivedRefine(nCorpus, p)).as("pq_refine"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** IVF×PQ over a PREBUILT index + PERSISTED codebook and codes —
    * the production (search-only) shape of the deepest-compression
    * ANN tier, completing the prebuilt family (knn_ivf_prebuilt
    * 11.6→1.1 s, knn_ivf_sq8_prebuilt): KMeans cells, the PQ
    * codebook (a pure function of the id-hash fit sample, ~130 KB at
    * m8/ks256/64-dim) and the 8-byte codes parquet are all written
    * once under the index memo ([[ivfLoadOrBuild]] invalidates them
    * with the index); every later search pays load + route + one ADC
    * code scan + exact refine — never a KMeans/PQ refit or corpus
    * re-encode. Same derived sizing, refine rule and 0.75 bound as
    * knn_ivf_pq, so the same oracle applies. */
  def knnIvfPqPrebuilt(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val nCorpus = emb.count()
    val p = Similarity.ivfDerivedParams(nCorpus)
    val index = ivfLoadOrBuild(s, "target/ivf_index_pq", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(nCorpus)))
    val (cb, codes) = Similarity.pqArtifactsCached(s, emb, "vec_id",
      "embedding", index, nCorpus,
      Some(Artifacts.memoDir("target/ivf_index_pq", d)))
    knnCertify(
      Similarity.knnIvfPqIndexed(index, codes, cb, "vec_id", "embedding",
        q, k = 5, nProbe = p.nProbe,
        refine = Similarity.pqDerivedRefine(nCorpus, p)),
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        lit(8).as("pq_m"), lit(256).as("pq_ks"),
        lit(Similarity.pqDerivedRefine(nCorpus, p)).as("pq_refine"),
        col("recall_ok"), col("ranks_dense"))
  }

  val knnIvfPqOracle: String =
    s"""$knnExactTopkCte,
       |sz AS (SELECT COUNT(*) AS n FROM embeddings),
       |$ivfParamsSql
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  nlist AS n_list, nprobe AS n_probe,
       |  8 AS pq_m, 256 AS pq_ks,
       |  GREATEST(16, CAST(CEIL(SQRT(nprobe * CAST((SELECT n FROM sz) AS DOUBLE)
       |    / nlist)) AS INT)) AS pq_refine,
       |  TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk, ivfq
       |GROUP BY nlist, nprobe""".stripMargin

  /** Greedy MMR diverse top-5 for query vector 0 over the top-20
    * relevance pool ([[Similarity.mmrSelect]], λ=0.7) — the
    * diversity-aware re-rank stage after ANN retrieval. Every pick of
    * the greedy chain is hash-pinned: the oracle unrolls all five
    * argmax rounds (MATERIALIZED pool/similarity CTEs — referenced
    * once per round, DuckDB would otherwise re-inline the corpus
    * scan), with 6-dp-rounded cosines and the 0.7/0.3 literal weights
    * shared by both engines. */
  def knnMmr(s: SparkSession, d: String): DataFrame =
    Similarity.mmrSelect(t(s, d, "embeddings"), "vec_id", "embedding",
      queryId = 0L)

  val knnMmrOracle: String = {
    val rounds = (2 to 5).map { r =>
      s"""s$r AS (
         |  SELECT vec_id, rel, score FROM (
         |    SELECT c.vec_id, c.rel,
         |      CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * (
         |        SELECT MAX(sim) FROM sim
         |        WHERE ia = c.vec_id
         |          AND ib IN (SELECT vec_id FROM sel${r - 1})) AS score
         |    FROM cand c
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1}))
         |  ORDER BY score DESC, vec_id ASC LIMIT 1),
         |sel$r AS (SELECT vec_id FROM sel${r - 1}
         |  UNION ALL SELECT vec_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(r =>
      s"SELECT $r AS rank, vec_id, rel, ROUND(score, 6) AS score FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |relv AS (
       |  SELECT e.vec_id,
       |    ROUND(list_dot_product(qv, v) /
       |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS rel,
       |    e.v
       |  FROM e, q WHERE e.vec_id <> 0),
       |cand AS MATERIALIZED (
       |  SELECT * FROM relv ORDER BY rel DESC, vec_id ASC LIMIT 20),
       |sim AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ROUND(list_dot_product(a.v, b.v) /
       |      (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS (
       |  SELECT vec_id, rel, CAST(0.7 AS DOUBLE) * rel AS score
       |  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$rounds
       |$out""".stripMargin
  }

  /** IVF at nProbe = nList degenerates to exact search, so the
    * brute-force oracle applies — this pins the whole IVF path
    * (build, cell routing, scoring) to a hash-match, while `knn_ivf`
    * exercises the approximate regime. */
  def knnIvfFull(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.knnIvf(emb, "vec_id", "embedding",
      queries = emb.filter(col("vec_id") < 10), k = 5,
      nList = 8, nProbe = 8)
  }

  // stale-index guard: a memo is keyed by dataset DIR NAME, so a
  // regenerated dataset under the same path would otherwise serve an
  // index fitted on the old rows — surfacing as a baffling gate
  // failure instead of a rebuild. The stamp is a CONTENT fingerprint
  // of the source parquet (per-file head+tail SHA-256 — covers the
  // footer stats, so a same-size copy of different data rebuilds and a
  // byte-identical regeneration stays warm; r15, the ADVICE-#3 fix
  // generalized from the CV memo) plus the caller's `tag` (e.g. the
  // derived nList, so a sizing-rule change invalidates too).
  // "files=scan-sized-v4": layout version in the stamp — memos written
  // by the old 1-file writer (r15: v3) rebuild once under the
  // scan-sized writer (Sinks.writeScanSized) instead of serving
  // single-task scans forever; v4 keeps a first write within 2x of its
  // file target, so a memo on disk has the layout a fresh build gives
  private def embeddingsFingerprint(d: String, tag: String): String =
    Artifacts.contentFingerprint(new java.io.File(s"$d/embeddings.parquet"),
      s"$tag files=scan-sized-v4")

  /** Load a memoized on-disk IVF index, building + saving it through
    * [[Artifacts.memo]] on first use — the shared protocol of every
    * prebuilt-index gate query. The resident model
    * ([[Similarity.ivfLoadResident]]) is served only when the memo was
    * fresh. */
  protected def ivfLoadOrBuild(s: SparkSession, baseDir: String, d: String,
                             tag: String = "")
                            (build: => Similarity.IvfIndex): Similarity.IvfIndex = {
    val dir = Artifacts.memoDir(baseDir, d)
    val fingerprint = embeddingsFingerprint(d, tag)
    val fresh = Artifacts.memo(dir, fingerprint, Similarity.ivfMemoParts)(
      Similarity.ivfSave(build, dir))
    Similarity.ivfLoadResident(s, dir, fingerprint, fresh)
  }

  /** Disk memo for a derived DataFrame (the [[ivfLoadOrBuild]]
    * discipline for plain parquet artifacts, e.g. the standing kNN
    * graph an incremental update extends): same source-fingerprint +
    * tag stamp, rebuilt through [[Artifacts.memo]] on mismatch. */
  protected def dfLoadOrBuild(s: SparkSession, baseDir: String, d: String,
                              tag: String = "")
                             (build: => DataFrame): DataFrame = {
    val dir = Artifacts.memoDir(baseDir, d)
    // scan-sized (r15): a 1-2-file df memo made every consumer's heavy
    // first stage (e.g. the planted-corpus seed scoring) run 1-2 tasks
    // on 32 cores
    Artifacts.memo(dir, embeddingsFingerprint(d, tag), Seq("df"))(
      graft.sources.Sinks.writeScanSized(build, s"$dir/df"))
    s.read.parquet(s"$dir/df")
  }

  /** IVF search over a PREBUILT on-disk index — the build/search
    * split that matters at 100 TB: centroids + cell assignments are
    * fitted and persisted ONCE ([[Similarity.ivfSave]]); every later
    * search pays only load + route + probe, never a KMeans refit per
    * query batch (every other IVF gate query rebuilds, ~3.4 s of pure
    * build at sf0.1). The index memoizes under `target/ivf_index/<sf>`
    * — the first run (the bench's untimed warm-up rep) builds and
    * saves, so the timed rep measures the search-only path. Certified
    * like knn_ivf: recall vs brute ≥ 0.6 at the same nList=8/nProbe=3
    * routing (the loaded index is a seed-42 build on this corpus, so
    * measured recall matches knn_ivf's 0.66/0.84/0.70). Save/load
    * fidelity — loaded search ≡ the saved in-memory index's search,
    * row for row — is pinned by SimilaritySpec. */
  def knnIvfPrebuilt(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    // same corpus-derived sizing as knn_ivf (the tag invalidates the
    // saved index if the derivation rule ever changes); the loaded
    // seed-42 build is identical to knn_ivf's, so recall matches
    val nCorpus = emb.count()
    val p = Similarity.ivfDerivedParams(nCorpus)
    val index = ivfLoadOrBuild(s, "target/ivf_index", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(nCorpus)))
    knnCertify(
      Similarity.ivfSearch(index, "vec_id", "embedding", q, k = 5,
        nProbe = p.nProbe),
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** Cost-routed DEFAULT k-NN ([[Similarity.knnAuto]]) certified in
    * both reuse regimes of the THREE-WAY router at once: a one-shot
    * call (reuse=1) must route to exact brute — witnessed
    * row-identical against the brute twin (`one_exact_ok`) — because
    * at the recall-0.9-mandated probe fraction a single small batch
    * can never repay an index build; an amortized call (reuse=100
    * query batches over the index lifetime) routes to whichever
    * indexed tier the BYTES-SCANNED model
    * ([[Similarity.knnFilteredRouteCosts]]) prices cheaper —
    * derived-IVF where the corpus is small enough that float scans win (the PQ
    * LUT overhead prices it out), IVF-PQ once the float scan
    * dominates (the production serving tier at 100 TB: the probed
    * scan reads 8-byte codes, 64× under dim-64 floats) — and must
    * hold recall ≥ 0.9 in WHICHEVER regime this SF lands (floor
    * above the 0.75 of the explicit-tier rows — a DEFAULT must be
    * safe; probeFrac 0.6 measured 0.96-1.00 across all four SFs).
    * Both route codes (0=brute, 1=ivf, 2=ivfpq) are emitted and the
    * oracle REPLAYS the full three-way inequality from COUNT(*) and
    * the stored vector length (plain IEEE doubles in matching operand
    * order both engines), so a formula drift flips the hash. LSH is
    * absent from the default path by design: its table count grows
    * with n to hold recall (10.6× wall-clock for 10× data at the sf1
    * soak, structural) while the IVF tier re-sizes as √n (≤ 1.4×
    * measured); [[Similarity.knnLshDerived]] remains the certified
    * explicit fallback (`knn_lsh`). */
  def knnAutoQ(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val n = emb.count()
    val p = Similarity.ivfDerivedParams(n, Similarity.knnAutoProbeFrac)
    val one = Similarity.knnAuto(emb, "vec_id", "embedding", q, k = 5,
      reuse = 1L)
    // reuse=100 declares an index lifetime of many batches — the
    // serving cache makes that real (warm reps pay routing + search
    // only, exactly what the cost model's amortization says). The
    // index's own stamp knows only (n, dim, nList, seed), so it sits
    // under a memo stamped with the corpus's content fingerprint: a
    // regenerated corpus of the same shape drops the index
    val dir = Artifacts.memoDir("target/knn_auto_index", d)
    Artifacts.memo(dir, embeddingsFingerprint(d, "knn_auto"),
      Seq("index"))(())
    val many = Similarity.knnAuto(emb, "vec_id", "embedding", q, k = 5,
      reuse = 100L, indexDir = Some(s"$dir/index"))
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5)
      .localCheckpoint(eager = false) // twin feeds 2 certifications
    val oneCommon = one.select("query_id", "rank", "neighbor_id", "cos")
      .join(brute, Seq("query_id", "rank", "neighbor_id", "cos"))
    knnCertify(many, brute, minRecall = 0.9)
      .crossJoin(oneCommon.agg(count(lit(1)).as("n_one_common")))
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        lit(Similarity.knnRouteOf(one).get).as("route_one"),
        lit(Similarity.knnRouteOf(many).get).as("route_many"),
        (col("n_one_common") === col("n_exact")).as("one_exact_ok"),
        col("recall_ok"), col("ranks_dense"))
  }

  val knnAutoOracle: String =
    s"""$knnExactTopkCte,
       |sz AS (SELECT COUNT(*) AS n FROM embeddings),
       |nq AS (SELECT COUNT(*) AS m FROM embeddings WHERE vec_id < 10),
       |dm AS (SELECT CAST(MAX(len(embedding)) AS DOUBLE) AS d
       |       FROM (SELECT embedding FROM embeddings LIMIT 1)),
       |pp AS (
       |  SELECT n, GREATEST(8, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS INT)) AS nlist
       |  FROM sz),
       |p2 AS (
       |  SELECT n, nlist, LEAST(nlist, GREATEST(3,
       |    CAST(CEIL(CAST(0.6 AS DOUBLE) * nlist) AS INT))) AS nprobe
       |  FROM pp),
       |cost AS (
       |  SELECT n, nlist, nprobe, CAST(8.0 AS DOUBLE) * d AS fb,
       |    CASE WHEN nlist <= 64 THEN CAST(nlist AS DOUBLE)
       |      ELSE CEIL(SQRT(CAST(nlist AS DOUBLE)))
       |        + CAST(3.0 AS DOUBLE) * nlist / CEIL(SQRT(CAST(nlist AS DOUBLE)))
       |    END AS assign,
       |    CAST(nprobe AS DOUBLE) * n / nlist AS probed,
       |    GREATEST(CAST(16 AS DOUBLE),
       |      CEIL(SQRT(CAST(nprobe AS DOUBLE) * n / nlist))) AS refine,
       |    d
       |  FROM p2, dm),
       |tier AS (
       |  SELECT nlist, nprobe,
       |    CAST(re.r AS DOUBLE) * m * n * fb AS brute,
       |    CAST(n AS DOUBLE) * assign * fb + CAST(re.r AS DOUBLE) * m
       |      * (assign * fb + probed * fb) AS ivf,
       |    CAST(n AS DOUBLE) * assign * fb + CAST(n AS DOUBLE) * fb
       |      + CAST(re.r AS DOUBLE) * m
       |      * (assign * fb + d * CAST(256.0 AS DOUBLE) * CAST(8.0 AS DOUBLE)
       |         + probed * CAST(8.0 AS DOUBLE) + refine * fb) AS pq,
       |    re.r AS reuse
       |  FROM cost, nq, (VALUES (1), (100)) AS re(r)),
       |dec AS (
       |  SELECT nlist, nprobe, reuse,
       |    CASE WHEN LEAST(ivf, pq) * CAST(1.2 AS DOUBLE) > brute THEN 0
       |      WHEN pq * CAST(1.2 AS DOUBLE) <= ivf THEN 2
       |      ELSE 1 END AS route
       |  FROM tier),
       |routes AS (
       |  SELECT MAX(CASE WHEN reuse = 1 THEN route END) AS route_one,
       |    MAX(CASE WHEN reuse = 100 THEN route END) AS route_many,
       |    MAX(nlist) AS nlist, MAX(nprobe) AS nprobe
       |  FROM dec)
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  nlist AS n_list, nprobe AS n_probe,
       |  CAST(route_one AS INT) AS route_one,
       |  CAST(route_many AS INT) AS route_many,
       |  TRUE AS one_exact_ok, TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk, routes
       |GROUP BY nlist, nprobe, route_one, route_many""".stripMargin

  /** Incremental IVF maintenance ([[Similarity.ivfAddBatch]]): a base
    * index fitted on the old corpus absorbs today's batch by frozen-
    * centroid assignment — no refit. Certified two ways: `union_ok`
    * witnesses that the incrementally-extended cell table is
    * ROW-IDENTICAL to transforming the full corpus with the same
    * model (assignment is a pure function of (model, vector), so any
    * divergence means a broken union/transform); then the standard
    * recall-vs-brute bound on a search over the extended index, with
    * queries drawn from the NEW batch — the freshly ingested rows
    * must be findable. Base model memoizes beside the prebuilt-query
    * index (`target/ivf_index_base/<sf>`), so the timed rep pays
    * assignment + search only — the per-batch cost at scale. */
  def knnIvfIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val batch = emb.filter(col("vec_id") < 100)
    val base = emb.filter(col("vec_id") >= 100)
    val baseIndex = ivfLoadOrBuild(s, "target/ivf_index_base", d)(
      Similarity.ivfBuild(base, "vec_id", "embedding", nList = 8))
    val incr = Similarity.ivfAddBatch(baseIndex, batch, "vec_id", "embedding")
    val full = Similarity.ivfAddBatch(
      Similarity.IvfIndex(baseIndex.model,
        baseIndex.indexed.limit(0)), emb, "vec_id", "embedding")
    val keyCols = Seq("cell", "neighbor_id")
    val unionOk =
      incr.indexed.select(keyCols.map(col): _*)
        .unionByName(full.indexed.select(keyCols.map(col): _*))
        .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(min(col("c") === 2).as("union_ok")) // every row in BOTH tables
    val q = emb.filter(col("vec_id") < 10) // queries ⊂ the new batch
    knnCertify(
      Similarity.ivfSearch(incr, "vec_id", "embedding", q, k = 5, nProbe = 3),
      Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 5),
      minRecall = 0.6)
      .crossJoin(unionOk)
      .select(col("n_queries"), col("k"), col("n_exact"),
        col("union_ok"), col("recall_ok"), col("ranks_dense"))
  }

  val knnIvfIncrementalOracle: String =
    s"""$knnExactTopkCte
       |SELECT COUNT(DISTINCT query_id) AS n_queries,
       |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
       |  TRUE AS union_ok, TRUE AS recall_ok, TRUE AS ranks_dense
       |FROM topk""".stripMargin

  /** Corpus-wide kNN GRAPH, cost-routed
    * ([[Similarity.knnGraphAuto]]): every vector's top-5 cosine
    * neighbors. Below the [[Similarity.knnGraphRouteCosts]] boundary
    * (brute n² vs descent ~2786·n dots, 1.2× hurdle — all harness
    * SFs land here) the graph is EXACT and the oracle replays every
    * row plus the routing decision from COUNT(*); above it the
    * IVF-seeded NN-Descent tier takes over (linear candidate work —
    * recall is data-dependent there by contract, pinned ≥ 0.9 on
    * SimilaritySpec's planted-cluster fixture and documented as
    * decaying on this harness's near-uniform synthetic vectors,
    * where no linear-candidate method has locality to exploit). */
  def knnGraphQ(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.knnGraphAuto(emb, "vec_id", "embedding", k = 5,
      quantizer = Some(knnGraphQuantizer(s, d, emb)))
  }

  /** THE per-dataset coarse quantizer of the kNN-graph descent tier,
    * shared by every graph consumer (`knn_graph`,
    * `emb_mutual_knn_clusters`, the descent-route recall witness):
    * [[Similarity.knnGraphParams]] depends only on corpus size, so
    * one fitted index keyed by (corpus fingerprint, nList) serves
    * them all — each row otherwise re-fits the same KMeans (~4.7 s
    * at the sf1 soak, ×3 redundant). Same [[ivfLoadOrBuild]]
    * discipline as the serving caches: disk + resident memo, source-
    * fingerprint staleness, sizing in the tag so a rule change
    * invalidates. Lazy (only the descent route calls it). */
  protected def knnGraphQuantizer(s: SparkSession, d: String,
                                  emb: DataFrame): Long => Similarity.IvfIndex =
    (n: Long) => {
      val p = Similarity.knnGraphParams(n)
      ivfLoadOrBuild(s, "target/knn_graph_quantizer", d,
        tag = s"nList=${p.nList}")(
        Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
          knownN = Some(n)))
    }

  /** INCREMENTAL kNN-graph maintenance
    * ([[Similarity.knnGraphAddBatch]]): the standing graph over the
    * base corpus (vec_id % bMod ≠ 4, bMod = max(5, n/500) — the
    * bounded-increment modulus of [[dedupSemanticIncremental]];
    * disk-memoized like the other prebuilt rows) is extended by
    * today's batch without a corpus-wide rebuild. The update is
    * exact by construction, so with the base graph on its brute
    * route (all gate SFs) the output EQUALS the full exact graph
    * over base ∪ batch — the oracle replays every row of it plus
    * both derivations from COUNT(*). */
  def knnGraphIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val n = emb.count()
    val bMod = math.max(5L, n / 500L)
    val base = emb.filter(col("vec_id") % bMod =!= 4)
    val batch = emb.filter(col("vec_id") % bMod === 4)
    val baseGraph = dfLoadOrBuild(s, "target/knn_graph_base", d,
      tag = s"bMod=$bMod,k=5")(
      Similarity.knnGraphAuto(base, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id", "cos"))
    val nBase = n - batch.count()
    val baseRoute = Similarity.routeLadder(
      Similarity.knnGraphRouteCosts(nBase, 5), Similarity.knnRouteMinAdvantage)
    Similarity.knnGraphAddBatch(baseGraph, base, batch,
      "vec_id", "embedding", k = 5)
      .withColumn("base_route", lit(baseRoute))
      .withColumn("batch_mod", lit(bMod))
  }

  val knnGraphIncrementalOracle: String =
    """WITH sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |bm2 AS (SELECT GREATEST(5, n // 500) AS bmod, n FROM sz),
      |nb AS (
      |  SELECT bmod,
      |    (SELECT COUNT(*) FROM embeddings, bm2 WHERE vec_id % bmod <> 4)
      |      AS n_base
      |  FROM bm2),
      |route AS (
      |  SELECT bmod, CASE WHEN CAST(n_base AS DOUBLE) * CAST(n_base AS DOUBLE)
      |      <= 1.2 * (CAST(n_base AS DOUBLE) * (3.0 * 512.0 + 2.0 * 25.0 * 25.0))
      |    THEN 'brute' ELSE 'descent' END AS base_route FROM nb),
      |e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, e.v) /
      |      (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))), 6) AS cos
      |  FROM e q, e WHERE e.vec_id <> q.vec_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s)
      |SELECT query_id, rank, neighbor_id, cos, base_route,
      |  CAST(bmod AS BIGINT) AS batch_mod
      |FROM r, route WHERE rank <= 5""".stripMargin

  val knnGraphOracle: String =
    """WITH sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |route AS (
      |  SELECT CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE) <=
      |      1.2 * (CAST(n AS DOUBLE) * (3.0 * 512.0 + 2.0 * 25.0 * 25.0))
      |    THEN 'brute' ELSE 'descent' END AS route FROM sz),
      |e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, e.v) /
      |      (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))), 6) AS cos
      |  FROM e q, e WHERE e.vec_id <> q.vec_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s)
      |SELECT query_id, rank, neighbor_id, cos, route
      |FROM r, route WHERE rank <= 5""".stripMargin

  /** Gate certification of the kNN-graph DESCENT route — the tier
    * every 100 TB corpus lands on, previously exercised only by
    * SimilaritySpec's synthetic fixture. The first 500 corpus
    * vectors each get 7 deterministic perturbed twins (id + j·10⁷,
    * v′ᵢ = vᵢ + 0.02·j·v₍ᵢ mod d₎₊₁, j = 1..7 — in-family cos ≥
    * 0.99): 500 + 3,500 twins push the corpus past the
    * [[Similarity.knnGraphRouteCosts]] boundary at EVERY gate SF
    * (4,000 > 3,344 even at sf0.001), so
    * [[Similarity.knnGraphAuto]] runs the IVF-seeded NN-Descent path
    * end-to-end in-gate — while the soak corpus grows by a bounded
    * +3,500, not 8× (unbounded planting made this row an 88 s
    * descent over 160k vectors at sf1). The 8-member families are
    * the clustered regime the descent tier CONTRACTS for (real
    * encoders put related items in tight cells) — the honest in-gate
    * witness; the near-uniform fabric rows keep their documented
    * routes. Witnesses: `route` replayed from n + 7·m through the
    * exact dot-model inequality (m = COUNT(vec_id < 500));
    * `recall_ok` — the graph holds ≥ 0.9 of the family vertices'
    * EXACT top-5 edge set, whose truth is LINEAR to compute (family
    * separation — in-family cos ≥ 0.99 vs < 0.8 natural max — puts
    * every family vertex's true top-5 inside its family, so truth =
    * per-family 8×8 cross; non-family vertices form singleton
    * families and contribute no truth rows); `vertices_ok` — every
    * corpus vector has a graph row (the degenerate-island check);
    * `ranks_dense`; `n_true` = 40·m replayed. */
  def knnGraphDescentPlanted(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ArrayDot
    val emb = t(s, d, "embeddings")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // plant on a BOUNDED family set (the first 500 ids — every SF has
    // them): enough mass to cross the route boundary at every gate SF
    // (500 + 3500 twins = 4000 > 3344) without the soak corpus
    // exploding 8x (an unbounded 8x at sf1 made this row an 88 s
    // descent over 160k vectors — certification needs the route
    // exercised and a truth-covered family set, not maximal n)
    // the planted corpus is a PURE function of (dataset, bound=500,
    // j=1..7, eps=0.02) — disk-memoize it like the standing graph
    // (r12 verdict #7: regenerating + localCheckpointing it per rep
    // kept this the slowest warm row); the tag invalidates on any
    // planting-rule change, the fingerprint on dataset regeneration
    val corpus = dfLoadOrBuild(s, "target/knn_graph_planted_corpus", d,
      tag = "bound=500,j=7,eps=0.02,k=5") {
      val twins = e.filter(col("vec_id") < 500)
        .select(col("vec_id"), col("v"),
          explode(sequence(lit(1), lit(7))).as("j"))
        .select((col("vec_id") + col("j").cast("long") * lit(10000000L))
          .as("vec_id"),
          transform(sequence(lit(1), lit(64)), i =>
            element_at(col("v"), i) +
              lit(0.02) * col("j") *
                element_at(col("v"), pmod(i, lit(64)) + lit(1)))
            .as("v"))
      e.unionByName(twins)
    }
    val g = Similarity.knnGraphAuto(corpus, "vec_id", "v", k = 5,
      quantizer = Some((n: Long) => {
        val p = Similarity.knnGraphParams(n)
        ivfLoadOrBuild(s, "target/knn_graph_quantizer_planted", d,
          tag = s"planted,nList=${p.nList}")(
          Similarity.ivfBuild(corpus, "vec_id", "v", p.nList,
            knownN = Some(n)))
      }))
      .localCheckpoint(eager = false) // feeds 3 witness consumers
    // EXACT truth, linear: family separation (relative perturbation
    // <= 0.14 keeps in-family cos >= 0.99; the natural corpus has
    // zero pairs above 0.8 at every SF — the dedup_embedding_planted
    // measured fact) puts every vertex's true top-5 inside its
    // 8-member family, so the GLOBAL exact graph equals the
    // per-family exact graph: an 8x8 cross per family, Theta(n)
    // total, never Theta(n^2).
    def n2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sqrt(ArrayDot(c, c))
    // truth is likewise a pure function of the planted corpus —
    // memoized beside it (same tag discipline), so the timed reps
    // pay a parquet scan, not the family self-join + window
    val truth = dfLoadOrBuild(s, "target/knn_graph_planted_truth", d,
      tag = "bound=500,j=7,eps=0.02,k=5") {
      val fam = corpus
        .withColumn("family", pmod(col("vec_id"), lit(10000000L)))
      fam
        .select(col("family"), col("vec_id").as("query_id"),
          col("v").as("qv"))
        .join(fam.select(col("family"), col("vec_id").as("neighbor_id"),
          col("v").as("nv")), "family")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", round(
          ArrayDot(col("qv"), col("nv")) / (n2(col("qv")) * n2(col("nv"))), 6))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
        .filter(col("rk") <= 5)
        .select("query_id", "neighbor_id")
    }
    val common = g.select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id"))
    val ranks = g.groupBy("query_id")
      .agg(min("rank").as("mn"), max("rank").as("mx"), count(lit(1)).as("c"))
      .agg(min(col("mn") === 1 && col("mx") === col("c")).as("ranks_dense"))
    e.filter(col("vec_id") < 500).agg(count(lit(1)).as("n_planted"))
      .crossJoin(corpus.agg(count(lit(1)).as("n_corpus")))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(common.agg(count(lit(1)).as("n_found")))
      .crossJoin(g.agg(countDistinct("query_id").as("n_vertices"),
        max("route").as("route")))
      .crossJoin(ranks)
      .select(col("n_corpus"), col("n_planted"), col("n_true"),
        col("route"),
        (col("n_found").cast("double") / col("n_true") >= 0.9)
          .as("recall_ok"),
        (col("n_vertices") === col("n_corpus")).as("vertices_ok"),
        col("ranks_dense"))
  }

  val knnGraphDescentPlantedOracle: String =
    """WITH sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |pm AS (SELECT COUNT(*) AS m FROM embeddings WHERE vec_id < 500),
      |c AS (SELECT n + 7 * m AS nc, m FROM sz, pm),
      |route AS (
      |  SELECT nc, m,
      |    CASE WHEN CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE) <=
      |        1.2 * (CAST(nc AS DOUBLE) * (3.0 * 512.0 + 2.0 * 25.0 * 25.0))
      |      THEN 'brute' ELSE 'descent' END AS route
      |  FROM c)
      |SELECT nc AS n_corpus, m AS n_planted, 40 * m AS n_true, route,
      |  TRUE AS recall_ok, TRUE AS vertices_ok, TRUE AS ranks_dense
      |FROM route""".stripMargin

  /** FILTERED ANN at scale ([[Similarity.knnFilteredAuto]]) — closes
    * the brute-only gap of `knn_filtered`: top-k neighbors WHERE
    * label > 0, with the predicate pushed INTO the probed scan
    * (left-semi join against the filtered id set BEFORE scoring —
    * never scoring what the metadata excludes; strictly better than
    * over-fetch-then-post-filter, which this engine never needs
    * because the cell/codes tables compose relationally). Certified
    * in both reuse regimes like `knn_auto`: one-shot routes
    * brute-over-filtered (witnessed row-identical to the exact
    * filtered twin); amortized (reuse=100) routes by the
    * bytes-scanned model ([[Similarity.knnFilteredRouteCosts]] —
    * r13: brute / float IVF / IVF×SQ8 / IVF×PQ code scans), which
    * lands the broad filter on the QUANTIZED tier at every gate SF — the
    * probed scan reads int8 codes (8× fewer bytes) with the LeftSemi
    * upstream, then float-re-ranks the derived pool. The filter's
    * SELECTIVITY, measured by COUNT(*), is a router input, and the
    * oracle replays the full three-way decision from the counts and
    * the embedding dim. Recall ≥ 0.9 against the exact filtered
    * top-k in whichever regime this SF lands. */
  def knnFilteredIvf(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val n = emb.count()
    // label > 0 is the BROAD-filter regime (90% selective), where the
    // index tier wins under amortization; the selective regime (the
    // existing knn_filtered row's label = 1, 10%) correctly routes
    // brute-over-filtered at every SF — selectivity is the router
    // input, and this row witnesses both decisions below
    val filtered = emb.filter(col("label") > 0)
    val nF = filtered.count()
    val nQ = q.count()
    val p = Similarity.ivfDerivedParams(n, Similarity.knnAutoProbeFrac)
    // the amortized regime sits on the SHARED serving-index memo: the
    // full-corpus index is filter-agnostic (one build serves every
    // predicate), keyed by the same (fingerprint, nList) as knn_auto's
    val index = ivfLoadOrBuild(s, "target/knn_filtered_index", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(n)))
    // persisted SQ8 codes beside the index (the knnIvfSq8Prebuilt
    // protocol — pure function of the cell table, invalidated with
    // it): the quantized filtered route is search-only too
    val codes = Similarity.sq8CodesCached(s, index,
      Some(Artifacts.memoDir("target/knn_filtered_index", d)))
    // the gate already counted n and nF for its witnesses; pass all
    // three counts through (r12 ADVICE: the two auto calls otherwise
    // re-ran ~six full corpus scans re-deriving them)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val one = Similarity.knnFilteredAuto(emb, "vec_id", "embedding",
      col("label") > 0, q, k = 3, reuse = 1L, prebuilt = Some(index),
      prebuiltCodes = Some(codes),
      knownN = Some(n), knownNFiltered = Some(nF), knownNQueries = Some(nQ),
      knownDim = Some(dim))
    val many = Similarity.knnFilteredAuto(emb, "vec_id", "embedding",
      col("label") > 0, q, k = 3, reuse = 100L, prebuilt = Some(index),
      prebuiltCodes = Some(codes),
      knownN = Some(n), knownNFiltered = Some(nF), knownNQueries = Some(nQ),
      knownDim = Some(dim))
    val brute = Similarity.knnBrute(filtered, "vec_id", "embedding", q, k = 3)
      .localCheckpoint(eager = false) // twin feeds 2 certifications
    val oneCommon = one.select("query_id", "rank", "neighbor_id", "cos")
      .join(brute, Seq("query_id", "rank", "neighbor_id", "cos"))
    knnCertify(many, brute, minRecall = 0.9)
      .crossJoin(oneCommon.agg(count(lit(1)).as("n_one_common")))
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(n).as("n_corpus"), lit(nF).as("n_filtered"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        lit(Similarity.routeOf(one).get.chosen).as("route_one"),
        lit(Similarity.routeOf(many).get.chosen).as("route_many"),
        (col("n_one_common") === col("n_exact")).as("one_exact_ok"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** The float filtered tier pinned EXPLICITLY
    * ([[Similarity.ivfSearchFiltered]] direct, no router): with the
    * r13 bytes model the amortized broad filter routes the quantized
    * tier everywhere, so without this row the float LeftSemi scan
    * would only be covered by its PlanSpec shape pin. Same recall
    * ≥ 0.9 certification vs the exact filtered twin. */
  def knnFilteredIvfFloat(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val n = emb.count()
    val filtered = emb.filter(col("label") > 0)
    val p = Similarity.ivfDerivedParams(n, Similarity.knnAutoProbeFrac)
    val index = ivfLoadOrBuild(s, "target/knn_filtered_index", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(n)))
    knnCertify(
      Similarity.ivfSearchFiltered(index, "vec_id", "embedding", q, k = 3,
        p.nProbe, filtered.select(col("vec_id"))),
      Similarity.knnBrute(filtered, "vec_id", "embedding", q, k = 3),
      minRecall = 0.9)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        col("recall_ok"), col("ranks_dense"))
  }

  /** The PQ filtered tier pinned EXPLICITLY
    * ([[Similarity.ivfSearchFilteredPq]] direct): the 4-way router
    * only reaches `ivf_pq` once the filtered probed set outgrows the
    * per-query LUT (n_filtered in the tens of thousands — beyond the
    * gate SFs, where SQ8 correctly wins), so without this row the
    * serving-scale tier of filtered search would be spec-only. Same
    * shared serving-index memo; PQ codebook + codes persisted beside
    * it (the knnIvfPqPrebuilt protocol); recall floor 0.75 = the PQ
    * family's certified bound at the derived refine pool. */
  def knnFilteredPq(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val n = emb.count()
    val filtered = emb.filter(col("label") > 0)
    val p = Similarity.ivfDerivedParams(n, Similarity.knnAutoProbeFrac)
    val index = ivfLoadOrBuild(s, "target/knn_filtered_index", d,
      tag = s"nList=${p.nList}")(
      Similarity.ivfBuild(emb, "vec_id", "embedding", p.nList,
        knownN = Some(n)))
    val (cb, codes) = Similarity.pqArtifactsCached(s, emb, "vec_id",
      "embedding", index, n,
      Some(Artifacts.memoDir("target/knn_filtered_index", d)))
    knnCertify(
      Similarity.ivfSearchFilteredPq(index, codes, cb, "vec_id",
        "embedding", q, k = 3, m = 8, ks = 256, nProbe = p.nProbe,
        refine = Similarity.pqDerivedRefine(n, p),
        allowedIds = filtered.select(col("vec_id"))),
      Similarity.knnBrute(filtered, "vec_id", "embedding", q, k = 3),
      minRecall = 0.75)
      .select(col("n_queries"), col("k"), col("n_exact"),
        lit(p.nList).as("n_list"), lit(p.nProbe).as("n_probe"),
        lit(8).as("pq_m"), lit(256).as("pq_ks"),
        lit(Similarity.pqDerivedRefine(n, p)).as("pq_refine"),
        col("recall_ok"), col("ranks_dense"))
  }

  val knnFilteredPqOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id AND e.label > 0),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s),
      |topk AS (SELECT query_id, rank FROM r WHERE rank <= 3),
      |sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |pp AS (
      |  SELECT n, GREATEST(8, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS INT)) AS nlist
      |  FROM sz),
      |p2 AS (
      |  SELECT n, nlist, LEAST(nlist, GREATEST(3,
      |    CAST(CEIL(CAST(0.6 AS DOUBLE) * nlist) AS INT))) AS nprobe
      |  FROM pp),
      |rf AS (
      |  SELECT nlist, nprobe, GREATEST(16, CAST(CEIL(SQRT(
      |    CAST(nprobe AS DOUBLE) * n / nlist)) AS INT)) AS refine
      |  FROM p2)
      |SELECT COUNT(DISTINCT query_id) AS n_queries,
      |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
      |  nlist AS n_list, nprobe AS n_probe,
      |  8 AS pq_m, 256 AS pq_ks, refine AS pq_refine,
      |  TRUE AS recall_ok, TRUE AS ranks_dense
      |FROM topk, rf
      |GROUP BY nlist, nprobe, refine""".stripMargin

  val knnFilteredIvfFloatOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id AND e.label > 0),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s),
      |topk AS (SELECT query_id, rank FROM r WHERE rank <= 3),
      |sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |pp AS (
      |  SELECT n, GREATEST(8, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS INT)) AS nlist
      |  FROM sz),
      |p2 AS (
      |  SELECT nlist, LEAST(nlist, GREATEST(3,
      |    CAST(CEIL(CAST(0.6 AS DOUBLE) * nlist) AS INT))) AS nprobe
      |  FROM pp)
      |SELECT COUNT(DISTINCT query_id) AS n_queries,
      |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
      |  nlist AS n_list, nprobe AS n_probe,
      |  TRUE AS recall_ok, TRUE AS ranks_dense
      |FROM topk, p2
      |GROUP BY nlist, nprobe""".stripMargin

  val knnFilteredIvfOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(qv, v) /
      |      (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(v, v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> query_id AND e.label > 0),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s),
      |topk AS (SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3),
      |sz AS (SELECT COUNT(*) AS n FROM embeddings),
      |fz AS (SELECT COUNT(*) AS nf FROM embeddings WHERE label > 0),
      |nq AS (SELECT COUNT(*) AS m FROM embeddings WHERE vec_id < 10),
      |pp AS (
      |  SELECT n, GREATEST(8, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS INT)) AS nlist
      |  FROM sz),
      |p2 AS (
      |  SELECT n, nlist, LEAST(nlist, GREATEST(3,
      |    CAST(CEIL(CAST(0.6 AS DOUBLE) * nlist) AS INT))) AS nprobe
      |  FROM pp),
      |dm AS (SELECT MAX(len(embedding)) AS dim FROM embeddings),
      |cost AS (
      |  SELECT n, nf, m, nlist, nprobe, dim,
      |    CAST(8.0 AS DOUBLE) * dim AS fb, CAST(dim AS DOUBLE) AS cb,
      |    CASE WHEN nlist <= 64 THEN CAST(nlist AS DOUBLE)
      |      ELSE CEIL(SQRT(CAST(nlist AS DOUBLE)))
      |        + CAST(3.0 AS DOUBLE) * nlist / CEIL(SQRT(CAST(nlist AS DOUBLE)))
      |    END AS assign,
      |    CAST(nprobe AS DOUBLE) * nf / nlist AS probedf,
      |    CAST(GREATEST(16, CAST(CEIL(SQRT(CAST(nprobe AS DOUBLE) * n
      |      / nlist)) AS INT)) AS DOUBLE) AS refine
      |  FROM p2, fz, nq, dm),
      |tiers AS (
      |  SELECT nlist, nprobe, re.r AS reuse,
      |    CAST(re.r AS DOUBLE) * m * nf * fb AS bb,
      |    CAST(n AS DOUBLE) * assign * fb + CAST(re.r AS DOUBLE) * m
      |      * (assign * fb + probedf * fb) AS iv,
      |    CAST(n AS DOUBLE) * assign * fb + CAST(n AS DOUBLE) * fb
      |      + CAST(re.r AS DOUBLE) * m
      |      * (assign * fb + probedf * cb + refine * fb) AS s8,
      |    CAST(n AS DOUBLE) * assign * fb + CAST(n AS DOUBLE) * fb
      |      + CAST(re.r AS DOUBLE) * m
      |      * (assign * fb + CAST(dim AS DOUBLE) * CAST(256 AS DOUBLE)
      |         * CAST(8.0 AS DOUBLE) + probedf * CAST(8 AS DOUBLE)
      |         + refine * fb) AS pqc
      |  FROM cost, (VALUES (1), (100)) AS re(r)),
      |dec AS (
      |  SELECT nlist, nprobe, reuse,
      |    CASE WHEN LEAST(iv, LEAST(s8, pqc)) * CAST(1.2 AS DOUBLE) > bb
      |        THEN 'brute'
      |      WHEN LEAST(s8, pqc) * CAST(1.2 AS DOUBLE) <= iv THEN
      |        CASE WHEN pqc * CAST(1.2 AS DOUBLE) <= s8
      |          THEN 'ivf_pq' ELSE 'ivf_sq8' END
      |      ELSE 'ivf' END AS route
      |  FROM tiers),
      |routes AS (
      |  SELECT MAX(CASE WHEN reuse = 1 THEN route END) AS route_one,
      |    MAX(CASE WHEN reuse = 100 THEN route END) AS route_many,
      |    MAX(nlist) AS nlist, MAX(nprobe) AS nprobe
      |  FROM dec)
      |SELECT COUNT(DISTINCT query_id) AS n_queries,
      |  CAST(MAX(rank) AS INT) AS k, COUNT(*) AS n_exact,
      |  (SELECT n FROM sz) AS n_corpus, (SELECT nf FROM fz) AS n_filtered,
      |  nlist AS n_list, nprobe AS n_probe, route_one, route_many,
      |  TRUE AS one_exact_ok, TRUE AS recall_ok, TRUE AS ranks_dense
      |FROM topk, routes
      |GROUP BY nlist, nprobe, route_one, route_many""".stripMargin

}
