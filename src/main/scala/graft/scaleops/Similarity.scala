package graft.scaleops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Cardinality

/** Similarity search over embedding columns (`Array[Float]`) —
  * north-star additions (BASELINE.json).
  *
  * Arithmetic discipline: elements are cast to double *before* any
  * multiply and folded in array order (`aggregate` is a sequential
  * left fold), so the result is bit-reproducible and matches an
  * oracle that does the same.
  *
  * Scale path: brute-force top-k is a broadcast of the (small) query
  * set against a streamed scan — linear, no shuffle until the
  * per-query top-k. The LSH variant buckets by random-hyperplane
  * signs so candidate generation is a hash join on the bucket key.
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the native codegen'd expression — identical
    * summation order to a left fold, so values are unchanged. */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDot(toDouble(a), toDouble(b))

  def norm(a: Column): Column = {
    val d = toDouble(a)
    sqrt(graft.functions.ArrayDot(d, d))
  }

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Pre-projection shared by the pair operators: cast the vector to
    * double ONCE and materialize its norm as a scalar column.
    * Higher-order array expressions are interpreted (no codegen), so
    * per-pair work must be a single dot-product fold — norms and
    * casts must never be recomputed inside the O(n²)/O(candidates)
    * loop. The per-pair arithmetic dot/(na·nb) is then exactly the
    * oracle's formula, term for term. */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
                      as: String): DataFrame =
    df.select(col(idCol).as(s"${as}_id"), toDouble(col(vecCol)).as(s"${as}v"))
      .withColumn(s"${as}norm",
        sqrt(graft.functions.ArrayDot(col(s"${as}v"), col(s"${as}v"))))

  private def pairCosRaw(a: String, b: String): Column =
    graft.functions.ArrayDot(col(s"${a}v"), col(s"${b}v")) /
      (col(s"${a}norm") * col(s"${b}norm"))

  private def pairCos(a: String, b: String): Column =
    round(pairCosRaw(a, b), 6)

  /** `pairCos(a, b) >= threshold`, rounding only the pairs that can
    * pass. `round` on a double goes through `BigDecimal` (most of the
    * brute pair join's CPU), and |round6(x) − x| ≤ 5e-7 + 2 ulp, so a
    * pair with raw cosine below `threshold − 1e-6` cannot round up to
    * `threshold`. The raw test comes first in the conjunction, so the
    * rounding runs only where it passes; NaN and ±∞ compare alike on
    * both sides, and a zero norm nulls or throws in the raw test just
    * as it did in the rounded one. Bit-identical to the rounded test
    * alone. */
  private def pairCosAtLeast(a: String, b: String, threshold: Double): Column =
    pairCosRaw(a, b) >= threshold - 1e-6 && pairCos(a, b) >= threshold

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * neighbors (excluding itself), deterministically tie-broken on
    * (rounded cosine desc, neighbor id asc). The corpus side is
    * repartitioned so the nested-loop join fans out over all cores
    * (a single parquet file otherwise pins it to one task). */
  def knnBrute(emb: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(prepped(queries, idCol, vecCol, "query"))
    // Sessions.widen: explicit count, or AQE byte-coalescing undoes
    // the fan-out at bench SFs (r15)
    val n = graft.Sessions.widen(prepped(emb, idCol, vecCol, "neighbor"),
      col("neighbor_id"))
    val scored = n.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Near-duplicate pairs by embedding cosine ≥ threshold. Brute
    * O(n²) within — intended for bounded partitions; the scale path
    * first buckets with `lshBucket` and runs this per bucket. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val l = graft.Sessions.widen(prepped(emb, idCol, vecCol, "a"),
      col("a_id")) // explicit count — see Sessions.widen (r15)
    val r = prepped(emb, idCol, vecCol, "b")
    l.crossJoin(r)
      .filter(col("a_id") < col("b_id"))
      .filter(pairCosAtLeast("a", "b", threshold))
      .select(col("a_id").as("a"), col("b_id").as("b"),
        pairCos("a", "b").as("cos"))
  }

  /** The 100 TB variant of [[nearDupPairs]]: bucket by random
    * hyperplanes first, verify exact cosine only within buckets.
    * Multi-probe via `numTables` independent plane sets — a pair is a
    * candidate if ANY table buckets it together (union of tables,
    * deduped), then every candidate is verified exactly, so output ⊆
    * brute-force output with recall rising in `numTables` (two
    * near-parallel vectors disagree on a plane with probability
    * θ/π — per-table collision (1−θ/π)^planes).
    *
    * Parameter rule: planes must TRACK the threshold. cos ≥ 0.9
    * (θ ≤ 26°, disagreement ≤ 0.15) tolerates 8–16 planes; cos ≥ 0.4
    * (θ ≈ 66°, disagreement ≈ 0.37) needs ~3 planes and more tables,
    * or per-table recall collapses to (0.63)^planes. Fewer planes ⇒
    * bigger buckets ⇒ more exact verifications — the classic LSH
    * recall/cost dial.
    *
    * `private[graft]`: raw plane/table counts invite exactly the
    * quadratic mis-sizing [[lshDerivedParams]] closed (fixed planes ⇒
    * candidate pairs grow quadratically in n). Library users go
    * through [[nearDupPairsLshDerived]]; the raw knobs stay reachable
    * for the in-package recall probes and the derived wrapper. */
  /** High-τ regimes carry an SQ8 int-dot PRESCORE through the bucket
    * self-join, killing ~all of the candidate stream inside the join
    * stage (the r9 shape re-joined millions of bare id pairs through
    * two corpus joins and exact-scored all of them — most of
    * dedup_embedding_planted's sf1 cost).
    *
    * Margin soundness (worst case, not typical): per-vector max-abs
    * quantization gives component error ≤ s/2 with s = max|v|/127, so
    * the relative L2 error is ≤ √d/254 (equality needs a
    * one-hot-shaped vector). An L2 perturbation of relative size e
    * rotates the vector by at most asin(e), so a pair's quantized
    * cosine differs from the exact one by at most
    * 2·asin(min(1, √d/254)) — ≈ 0.063 at d = 64, but GROWING with
    * dimension (≈ 0.10 at d = 160, 0.22 at d = 768). The margin is
    * therefore DERIVED from dim (bound + 0.005 IEEE slack), so the
    * prescore can never kill a true ≥ τ pair for any input at any
    * dimension (typical gaussian-ish vectors sit near 0.01). At
    * d = 64, τ ≥ 0.7 the cutoff τ−0.068 ≥ 0.63 still rejects
    * essentially every non-pair (random 64-dim cosines are
    * ~N(0, 1/√64)). When the worst-case bound eats the score scale
    * (cutoff τ−margin below [[lshPrescoreMinCutoff]], i.e. very high
    * dim), the prescore is SKIPPED — it is a pruning optimization,
    * and skipping is always sound. */
  private[graft] val lshPrescoreMinThreshold = 0.7
  private[graft] val lshPrescoreMinCutoff = 0.5
  private[graft] def lshPrescoreMargin(dim: Int): Double =
    2.0 * math.asin(math.min(1.0, math.sqrt(dim.toDouble) / 254.0)) + 0.005

  private[graft] def nearDupPairsLsh(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, numPlanes: Int = 4,
      numTables: Int = 8): DataFrame = {
    import graft.functions.Sq8
    // pinned: vectors+norms feed all table builds and both verify
    // joins; the bucket table feeds both sides of its own self-join —
    // without the checkpoints the plane projections run ~2× and the
    // scan+norms ~10×
    val base = prepped(emb, idCol, vecCol, "a")
      .localCheckpoint(eager = false)
    // candidate generation carries 16-byte ids — plus, at high τ, the
    // ~70-byte SQ8 code for the in-join prescore; never the 8·dim-
    // byte float vectors (carrying them was ~4× slower). NOTE: the
    // checkpoint truncates plan-time size stats, so static broadcast
    // won't fire for the verify joins — AQE's runtime conversion
    // picks broadcast at small sizes, and at corpus scale they're
    // shuffle joins on compact ids either way
    // one codegen pass emits every table's bucket
    // ([[graft.functions.Lsh]] — bit-identical to the legacy
    // per-table interpreted HOF columns, whose union re-scanned the
    // checkpointed base numTables times)
    val margin = lshPrescoreMargin(dim)
    val prescore = threshold >= lshPrescoreMinThreshold &&
      threshold - margin >= lshPrescoreMinCutoff
    val codeCols =
      if (prescore) Seq(Sq8.encodeMaxAbs(col("av")).as("acode")) else Seq.empty
    val bucketedAll = base.select((col("a_id") +: codeCols) :+ posexplode(
        graft.functions.Lsh.buckets(col("av"), numTables, numPlanes, dim)): _*)
    val bucketed =
      (if (prescore)
        bucketedAll.toDF("a_id", "acode", "table", "bucket")
      else bucketedAll.toDF("a_id", "table", "bucket"))
      .localCheckpoint(eager = false)
    val rawCands =
      if (prescore) {
        // prescore INSIDE the join stage: candidates that can't reach
        // the threshold die as codegen-pipelined rows before the
        // distinct shuffle ever sees them
        val bSide = bucketed.select(col("table"), col("bucket"),
          col("a_id").as("b_id"), col("acode").as("bcode"))
        bucketed
          .join(bSide, Seq("table", "bucket"))
          .filter(col("a_id") < col("b_id"))
          .filter(Sq8.intDot(col("acode"), col("bcode")).cast("double") /
            (sqrt(Sq8.intDot(col("acode"), col("acode")).cast("double")) *
              sqrt(Sq8.intDot(col("bcode"), col("bcode")).cast("double"))) >=
            threshold - margin)
      } else {
        bucketed
          .join(bucketed.select(col("table"), col("bucket"),
            col("a_id").as("b_id")), Seq("table", "bucket"))
          .filter(col("a_id") < col("b_id"))
      }
    val cands = rawCands.select("a_id", "b_id").distinct()
    cands
      .join(base, "a_id")
      .join(base.select(col("a_id").as("b_id"), col("av").as("bv"),
        col("anorm").as("bnorm")), "b_id")
      .filter(pairCosAtLeast("a", "b", threshold))
      .select(col("a_id").as("a"), col("b_id").as("b"),
        pairCos("a", "b").as("cos"))
  }

  /** Random-hyperplane LSH bucket id (`numPlanes`-bit signature).
    * Plane components come from a seeded driver-side RNG — cheap and
    * deterministic. The whole plane matrix ships as ONE `typedlit`
    * array-of-arrays literal (serialized once per plan), not
    * numPlanes×dim scalar literal nodes — at dim ≥ 1024 the per-node
    * form bloats every plan that touches the bucket expression.
    * Projections fold in array order with the same arithmetic as the
    * per-plane form, so bucket ids are unchanged. */
  def lshBucket(vecCol: Column, dim: Int, numPlanes: Int = 16,
                seed: Long = 42L): Column = {
    require(numPlanes >= 1 && numPlanes <= 50,
      s"numPlanes=$numPlanes outside [1, 50]: bucket bits are summed as " +
        "exact powers of two in a double-safe range")
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(numPlanes, dim)(rnd.nextGaussian())
    val planesLit = typedlit(planes.map(_.toSeq).toSeq)
    val projs = transform(planesLit, p =>
      aggregate(zip_with(toDouble(vecCol), p, (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v))
    aggregate(
      zip_with(projs, sequence(lit(0), lit(numPlanes - 1)),
        (p, i) => when(p > 0, pow(lit(2.0), i).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Derived hyperplane-LSH sizing — the corpus-tracking rule, ONE
    * definition shared by the gate queries, the probes, and
    * production callers (mirror of [[semDedupDerivedK]]'s discipline:
    * recalibrating here can never diverge the certified config from
    * the measured one).
    *
    * Why derivation is mandatory at scale: bucket occupancy is
    * n/2^planes per table, so FIXED planes make candidate pairs grow
    * quadratically in corpus size — at the 20k-vector soak the static
    * 3-plane config prunes to only 8 buckets/table and the LSH path
    * barely beats brute force; at 100× it inverts outright.
    *
    * The rule (collision prob per plane for a pair at angle θ is
    * c = 1 − θ/π, per-table collision c^planes, union recall over
    * tables 1 − (1 − c^planes)^tables):
    *  - `planes` grows with the corpus, targeting `targetBucket`
    *    rows/bucket: ceil(log2(n / targetBucket)) — keeps per-table
    *    candidate volume ≈ n·targetBucket/2, LINEAR in n — but only
    *    while THIS rule (not the recall cap below) picks the planes:
    *    once the cap binds, occupancy grows ∝ n and candidates are
    *    quadratic again, which is why [[nearDupPairsAuto]] exists;
    *  - but planes is capped by what `maxTables` tables can recover
    *    at the threshold angle: recall ≥ R needs c^planes ≥
    *    1 − (1−R)^(1/maxTables), i.e. planes ≤ ln(1−(1−R)^(1/maxTables))
    *    / ln c — past that cap, extra planes trade recall below the
    *    certified floor for speed (low thresholds bind hard: τ=0.4 →
    *    c=0.63 caps planes at 6; τ=0.9 → c=0.86 allows 20+);
    *  - `tables` is then the smallest count hitting R at the BOUNDARY
    *    cosine: ceil(ln(1−R) / ln(1−c^planes)). Pairs above the
    *    threshold collide more (c rises with cos), so measured recall
    *    sits above R — the certification bound keeps its margin. */
  /** `probeDepth` is the knn multi-probe Hamming radius (how many
    * plane flips the query side probes per table); the pair path is
    * corpus-side single-probe, so its entry points leave the
    * default. */
  final case class LshParams(numPlanes: Int, numTables: Int,
                             probeDepth: Int = 1)

  def lshDerivedParams(n: Long, threshold: Double,
                       targetBucket: Long = 512L,
                       targetRecall: Double = 0.85,
                       maxTables: Int = 32): LshParams = {
    require(threshold > -1.0 && threshold < 1.0, s"threshold=$threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall=$targetRecall")
    val c = 1.0 - math.acos(threshold) / math.Pi
    val sizePlanes =
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt
    val recallCap = // planes beyond this can't reach targetRecall with maxTables
      math.floor(math.log(1.0 - math.pow(1.0 - targetRecall, 1.0 / maxTables)) /
        math.log(c)).toInt
    val planes = math.max(1, math.min(math.min(sizePlanes, recallCap), 30))
    val pTable = math.pow(c, planes)
    // floor of 4 tables: the formula's expectation is exact but a
    // 2-table config has high recall VARIANCE on small corpora (one
    // unlucky plane set can sink a whole table); 4 keeps the measured
    // recall comfortably over the certified floor at trivial cost
    val tables = math.max(4, math.min(maxTables,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pTable)).toInt))
    LshParams(planes, tables)
  }

  /** [[nearDupPairsLsh]] with corpus-derived sizing — the production
    * entry point. The corpus size comes from [[Cardinality.rows]]:
    * parquet footers on a plain scan, one count() otherwise — either
    * way cheap next to a quadratically-mis-sized candidate join. */
  def nearDupPairsLshDerived(emb: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, dim: Int,
                             targetBucket: Long = 512L,
                             targetRecall: Double = 0.85): DataFrame = {
    val p = lshDerivedParams(Cardinality.rows(emb), threshold, targetBucket,
      targetRecall)
    stamped(nearDupPairsLsh(emb, idCol, vecCol, threshold, dim,
      p.numPlanes, p.numTables),
      Route("nearDupPairsLshDerived", Nil, "lsh", lsh = Some(p)))
  }

  /** Expected candidate-pair volume of an LSH config under uniform
    * bucket occupancy: tables · n²/2^planes / 2 — each table holds
    * 2^planes buckets of ~n/2^planes rows, each contributing
    * occupancy²/2 pairs. The quantity the router compares against
    * brute's n(n−1)/2. */
  def lshPredictedCandidates(n: Long, p: LshParams): Double =
    p.numTables.toDouble * n.toDouble * n.toDouble /
      (1L << math.min(p.numPlanes, 62)) / 2.0

  /** The pair router's priced tiers, exposed so the gate oracle can
    * replay the decision: brute's n(n−1)/2 candidate pairs vs
    * [[lshPredictedCandidates]]. Under [[routeLadder]] LSH must
    * PREDICT at least `minAdvantage`× fewer candidates than brute to
    * justify its hashing + explode + dedup overhead (measured at the
    * 20k-vector soak: a predicted-1.1× config ran 1.56× SLOWER than
    * brute end-to-end). */
  def nearDupPairsCosts(n: Long, p: LshParams): Seq[(String, Double)] =
    Seq("brute" -> n.toDouble * (n - 1).toDouble / 2.0,
      "lsh" -> lshPredictedCandidates(n, p))

  /** Cost-routed near-duplicate pairs — the entry point a production
    * caller should use when the threshold is workload-driven rather
    * than known-high. Hyperplane LSH is NOT always a win: the
    * [[lshDerivedParams]] recall cap binds at low thresholds (τ=0.4 →
    * c=0.63 caps planes at 6), and with planes frozen the bucket
    * occupancy — hence the candidate volume — grows QUADRATICALLY in
    * n again, at 30 tables of overhead on top. Measured at the
    * 20k-vector sf1 soak: derived LSH 1.56× SLOWER than brute at
    * τ=0.4, but ~⅓ at τ=0.8 where the size rule (not the recall cap)
    * picks the planes. So the router predicts both candidate volumes
    * from (n, τ) and takes LSH only when it forecasts ≥3× fewer
    * candidates; otherwise the exact path runs (same output, recall
    * 1). For corpora too big for brute at a threshold too low for
    * LSH, the right tool is the cluster-routed [[semDedupPairs]] —
    * that trade (bounded work, sub-1 recall) is a declared policy,
    * not a silent fallback, so it stays caller-opt-in.
    *
    * The returned frame carries its [[Route]] (priced tiers, chosen
    * tier, derived params) on `cos`, so a consumer can PROVE which
    * plan ran ([[routeOf]], [[lshRoutedOf]]).
    *
    * The measured decision boundary — refuse at τ=0.4 for every n,
    * take LSH at τ=0.8 from ~20k vectors (the sf1-soak A/B: 1.56×
    * slower at τ=0.4, 0.207× brute at τ=0.8) — is pinned by
    * SimilaritySpec "cost router: refuses LSH at low tau, takes it
    * when prediction wins"; a formula edit that inverts either side
    * fails that spec, not just a TODO note. */
  def nearDupPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dim: Int,
                       targetBucket: Long = 512L,
                       targetRecall: Double = 0.85,
                       minAdvantage: Double = 3.0): DataFrame = {
    val n = Cardinality.rows(emb)
    val p = lshDerivedParams(n, threshold, targetBucket, targetRecall)
    val tiers = nearDupPairsCosts(n, p)
    val r = Route("nearDupPairsAuto", tiers, routeLadder(tiers, minAdvantage),
      lsh = Some(p))
    stamped(
      if (r.chosen == "lsh") nearDupPairsLsh(emb, idCol, vecCol, threshold,
        dim, p.numPlanes, p.numTables)
      else nearDupPairs(emb, idCol, vecCol, threshold), r)
  }

  /** Per-table collision probability of a τ-cosine pair under
    * MULTI-PROBE at depth D (the query probes every bucket within
    * Hamming distance D of its own), c = 1 − acos(τ)/π: the binomial
    * tail `Σ_{i=0}^{D} C(p,i)·c^(p−i)·(1−c)^i` — at depth 1, exact
    * bucket match OR exactly one disagreeing plane,
    * `c^p + p·c^(p−1)·(1−c)`. Terms accumulate in ascending i with
    * C(p,i) built by the left-assoc product `Π_j (p−j+1)/j` — the
    * oracle replays the identical IEEE arithmetic term-for-term
    * (D ≤ 3, so the SQL spells the four terms inline rather than
    * trusting an engine list_sum order). */
  def lshMultiProbeTail(c: Double, planes: Int, depth: Int): Double = {
    var sum = 0.0
    var i = 0
    val d = math.min(depth, planes)
    while (i <= d) {
      var comb = 1.0
      var j = 1
      while (j <= i) { comb *= (planes - j + 1).toDouble / j; j += 1 }
      sum += comb * math.pow(c, planes - i) * math.pow(1.0 - c, i)
      i += 1
    }
    sum
  }

  /** The largest plane count depth-D probing still holds at the
    * per-table collision floor — the dial that keeps bucket occupancy
    * tracking `targetBucket` as n grows. */
  private[graft] def lshMaxPlanesAt(c: Double, depth: Int,
                                    perTableFloor: Double): Int =
    (1 to 30).filter(p => lshMultiProbeTail(c, p, depth) >= perTableFloor)
      .maxOption.getOrElse(1)

  /** Derived sizing for MULTI-PROBE knn LSH — the structural fix of
    * the single-probe rule's scale defect. Single-probe holds recall
    * by ADDING TABLES, and its recall cap freezes `planes` low (at
    * τ=0.5/R=0.95 planes caps at 5, tables at 22-32) — so bucket
    * occupancy, the corpus-side explode and the candidate volume all
    * grow linearly in n again (knn_lsh measured 10.6× wall-clock for
    * 10× data at the sf1 soak). Multi-probe moves recall to the
    * QUERY side (probes per table, costing |Q|-bounded rows): the
    * per-table collision jumps from c^p to [[lshMultiProbeTail]], so
    * far fewer tables reach the same recall (τ=0.5/R=0.95 at the sf1
    * soak: 7 tables × 6 planes × depth 1 vs single-probe's 22 × 5)
    * and the plane cap stops freezing bucket growth. The corpus side
    * stays ONE bucket per table.
    *
    * r10 generalization — DERIVED PROBE DEPTH: depth-1 probing still
    * capped planes at 10 (τ=0.5), so past n ≈ 512·2¹⁰ ≈ 0.5M the
    * table count resumed growing toward the 32 cap and occupancy
    * after that. The depth dial is the structurally cheap one (probe
    * rows are |Q|-bounded; tables multiply the CORPUS explode), so
    * the rule now picks the SMALLEST depth ≤ 3 whose plane ceiling
    * ([[lshMaxPlanesAt]]) covers the size-derived plane count:
    * τ=0.5/R=0.95 ceilings are p ≤ 10 / 14 / 18 at depth 1 / 2 / 3 —
    * tables stay ≤ 32 and occupancy keeps tracking `targetBucket` to
    * n ≈ 512·2¹⁸ ≈ 134M vectors (34 GB of 64-dim floats — past the
    * point a single ANN shard should hold; shard or go IVF beyond).
    * Past the depth-3 ceiling, planes freeze there: candidates per
    * query grow linearly in n with tables FROZEN — the pre-r10 rule's
    * linear growth arrived 256× earlier WITH table growth on top.
    * At every harness SF the rule lands on depth 1 with the exact r9
    * planes/tables (the generalization only activates past n≈0.5M),
    * so committed gate hashes are unchanged; the depth selection is
    * spec-pinned at synthetic large n and oracle-replayed from
    * COUNT(*). */
  def lshMultiProbeParams(n: Long, threshold: Double,
                          targetBucket: Long = 512L,
                          targetRecall: Double = 0.95,
                          maxTables: Int = 32): LshParams = {
    require(threshold > -1.0 && threshold < 1.0, s"threshold=$threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall=$targetRecall")
    val c = 1.0 - math.acos(threshold) / math.Pi
    val sizePlanes =
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt
    val perTableFloor =
      1.0 - math.pow(1.0 - targetRecall, 1.0 / maxTables)
    val depth = (1 to 3)
      .find(d => lshMaxPlanesAt(c, d, perTableFloor) >= sizePlanes)
      .getOrElse(3)
    val planeCap = lshMaxPlanesAt(c, depth, perTableFloor)
    val planes = math.max(1, math.min(math.min(sizePlanes, planeCap), 30))
    // shallow planes have tail ≈ 1 exactly (every flip within depth
    // is probed): clamp below 1 so the table formula's log stays
    // finite — the 4-table floor binds anyway. Same clamp in the SQL
    // twin.
    val p1 = math.min(lshMultiProbeTail(c, planes, depth), 1.0 - 1e-9)
    val tables = math.max(4, math.min(maxTables,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - p1)).toInt))
    LshParams(planes, tables, depth)
  }

  /** [[knnLsh]] with corpus-derived MULTI-PROBE sizing
    * ([[lshMultiProbeParams]]). k-NN has no cosine threshold;
    * `minCos` is the lowest neighbor cosine the caller still cares
    * to recall reliably (the k-th-neighbor cosine floor of the
    * workload — lower = more tables/probes).
    *
    * targetRecall defaults HIGHER than the pair path's 0.85: knn
    * candidates are bounded by the (small) query side — |Q|·tables·
    * probes·bucket rows, never a pair blow-up — so probe insurance
    * is cheap. Measured at the 0.95 sizing the single-probe cut held
    * ≥ 0.9 at every SF; the multi-probe rewrite is re-pinned by
    * RecallProbe (gate floor 0.9 unchanged). */
  def knnLshDerived(emb: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, k: Int, dim: Int,
                    minCos: Double = 0.5,
                    targetBucket: Long = 512L,
                    targetRecall: Double = 0.95): DataFrame = {
    val p = lshMultiProbeParams(Cardinality.rows(emb), minCos, targetBucket,
      targetRecall)
    stamped(knnLsh(emb, idCol, vecCol, queries, k, dim, p.numPlanes,
      p.numTables, multiProbe = true, probeDepth = p.probeDepth),
      Route("knnLshDerived", Nil, "lsh", lsh = Some(p)))
  }

  /** IVF (inverted-file) ANN index: KMeans-partition the corpus into
    * `nList` cells. Build once, search many — `save`/`load` persist
    * the fitted centroids + cell assignments so search never refits. */
  final case class IvfIndex(
      model: org.apache.spark.ml.clustering.KMeansModel,
      indexed: DataFrame)

  /** Deterministic id-hash fit-sample cap: a KMeans fit is a
    * SUMMARY of the corpus geometry, and ~64k vectors summarize it
    * as well as 100M do — so the fit cost is BOUNDED regardless of
    * corpus size (at 100 TB a full-corpus KMeans sweep would be 5
    * scans of everything for centroids that a 64k sample reproduces
    * to within cell-boundary noise). Sampling is Murmur3-id-hash
    * deterministic (never `df.sample`, whose output depends on
    * partitioning), only kicks in above the cap, and changes nothing
    * at the harness SFs (n ≤ 20k < 64k — gate rows are bit-stable).
    * Assignment of the FULL corpus still happens below: centroid
    * quality from a sample affects only recall, never correctness
    * (full-probe search is exact for ANY cell assignment). */
  private[graft] val ivfFitSampleCap = 65536L

  /** Test-visible fit counter — incremented once per KMeans training
    * pass this object runs ([[ivfBuild]]'s MLlib fit, [[pqTrain]]'s
    * subspace localKMeans set). Specs use deltas across memoized
    * calls to WITNESS reuse (indexDir paths must fit zero KMeans on
    * the second call); never read by production code. */
  private[graft] val kmeansFits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parts-per-BILLION keep rate for the fit sample at corpus size
    * `n` — named so the boundedness claim is spec-testable: expected
    * sample = ppb·n/10⁹ stays in [cap/2, cap] for every n up to
    * cap·10⁹ ≈ 6.5×10¹³ vectors (≈ 17 PB of 64-dim floats — beyond
    * any corpus this engine will see; a permille-granularity rate
    * pegs at its floor already at n = 65.5M and grows the fit set as
    * n/1000). The matching filter hashes with 64-bit xxhash64 — a
    * 32-bit hash modulo 10⁹ is visibly non-uniform (4-vs-5 preimages
    * per residue). */
  private[graft] val fitSampleModulus = 1000000000L
  private[graft] def fitSampleKeepPpb(n: Long,
                                      cap: Long = ivfFitSampleCap): Long =
    math.max(1L, cap * fitSampleModulus / n)

  /** Fit-sample size for a k-cell build: the flat cap, GROWN to 4·k
    * once the (unclamped) derived k approaches it — KMeans fitted
    * with k greater than its sample row count is degenerate
    * (duplicate/garbage centroids or an outright fit failure). With
    * [[semDedupDerivedK]] = n/1250, k crosses ivfFitSampleCap/4 at
    * n ≈ 2·10⁷, so the sample grows as n/312 from there — still a
    * vanishing fraction of the corpus, and the 'fit set is bounded'
    * claim becomes 'fit set is Θ(k), 4 samples per centroid' (the
    * statistically meaningful floor), not a fixed constant. */
  private[graft] def fitSampleCapFor(k: Int): Long =
    math.max(ivfFitSampleCap, 4L * k)

  def ivfBuild(emb: DataFrame, idCol: String, vecCol: String,
               nList: Int = 16, seed: Long = 42L,
               knownN: Option[Long] = None): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val prep = prepped(emb, idCol, vecCol, "neighbor")
      .withColumn("fv", array_to_vector(col("neighborv")))
    // derived-sizing callers already counted the corpus for params —
    // accept that count instead of paying a second full-scan job
    val n = knownN.getOrElse(Cardinality.rows(prep))
    val fitCap = fitSampleCapFor(nList) // ≥ 4·k rows, never k > sample
    val fitSet =
      if (n <= fitCap) prep
      else {
        // parts-per-BILLION keep rate so the expected sample lands
        // near the cap at ANY corpus size ([[fitSampleKeepPpb]] —
        // spec-pinned boundedness); pmod(xxhash64(id)) is stable
        // across partitionings and sessions
        prep.filter(pmod(xxhash64(col("neighbor_id")),
          lit(fitSampleModulus)) < fitSampleKeepPpb(n, fitCap))
      }
    // Few iterations suffice: correctness never depends on centroid
    // quality (full-probe search is exact for ANY cell assignment;
    // partial-probe recall degrades only marginally vs converged
    // centroids), so don't pay 20 sweeps of the corpus for an index.
    kmeansFits.incrementAndGet()
    val model = new KMeans().setK(nList).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(fitSet)
    IvfIndex(model, assignCells(model, prep).drop("fv"))
  }

  /** Cell count above which per-vector centroid routing goes
    * TWO-LEVEL (coarse √k quantizer over the centroids, then refine
    * within the probed coarse groups): flat routing is O(k·d) per
    * vector, fine below this threshold, but with [[semDedupDerivedK]]
    * unclamped k grows as n/1250 and flat assignment becomes
    * O(n·k·d) = O(n²·d/1250) — quadratic again, in the routing stage
    * this time. Two-level keeps it O(n·√k·d). 64 is the old derived-k
    * clamp: every harness SF stays on the flat (bit-identical) path,
    * the structure engages exactly where the clamp used to lie. */
  private[graft] val twoLevelCellThreshold = 64

  /** Nearest-cell assignment shared by [[ivfBuild]] and
    * [[ivfAddBatch]] — ONE definition so the incremental path's
    * union-equivalence witness (assignment is a pure function of
    * (model, vector)) holds by construction at every k: both paths
    * route flat below [[twoLevelCellThreshold]] and two-level above
    * it. Input must carry `neighbor_id`/`neighborv` (from
    * [[prepped]]); output adds `cell`. */
  private def assignCells(model: org.apache.spark.ml.clustering.KMeansModel,
                          prep: DataFrame): DataFrame = {
    if (model.clusterCenters.length <= twoLevelCellThreshold)
      model.transform(prep)
    else {
      val routed = probedCellsFromCenters(prep.sparkSession,
        model.clusterCenters.map(_.toArray),
        prep.select(col("neighbor_id").as("query_id"),
          col("neighborv").as("queryv")),
        nProbe = 1, wide = true) // corpus-sized query side
        .select(col("query_id").as("neighbor_id"), col("cell"))
      prep.join(routed, "neighbor_id")
    }
  }

  /** The parts of an IVF memo dir that a rebuild replaces: the index
    * ([[ivfSave]]'s `kmeans` and `cells`) and everything derived from
    * it ([[pqArtifactsCached]]'s `pq_cb`/`pq_codes`,
    * [[sq8CodesCached]]'s `sq8_codes`) — the `parts` of every IVF
    * [[graft.sources.Artifacts.memo]]. */
  val ivfMemoParts: Seq[String] =
    Seq("kmeans", "cells", "pq_cb", "pq_codes", "sq8_codes")

  def ivfSave(index: IvfIndex, dir: String): Unit = {
    index.model.write.overwrite().save(s"$dir/kmeans")
    // scan-sized (r15): the cell table is the hot probed scan of
    // every prebuilt search row — a 1-file memo made those scans
    // single-task (see Sinks.writeScanSized)
    graft.sources.Sinks.writeScanSized(index.indexed, s"$dir/cells")
  }

  def ivfLoad(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(
      org.apache.spark.ml.clustering.KMeansModel.load(s"$dir/kmeans"),
      spark.read.parquet(s"$dir/cells"))

  /** What a memo hit needs to serve its index: the fitted model and
    * the cells table's schema. It holds no DataFrame and no session:
    * cached index handles pinned the sessions they were loaded in,
    * stopped ones included, and raised the heap. */
  private final case class ResidentIvf(
      model: org.apache.spark.ml.clustering.KMeansModel,
      cellsSchema: org.apache.spark.sql.types.StructType)

  /** In-JVM residency for memoized IVF indexes, keyed by (memo dir,
    * stamp): a serving path keeps its live index resident instead of
    * reloading it for every query batch (`ivfLoad` runs four Spark
    * jobs: the model's metadata read, its data's schema and collect,
    * and the cells' schema). An access-ordered LRU ([[LruCache]]): an
    * arbitrary-entry eviction could drop the hottest model. A model
    * is kilobytes of centroids, so 32 entries are still nothing. */
  private val ivfResident = new LruCache[(String, String), ResidentIvf](32)

  /** The IVF index of the memo at `dir` whose stamp is `stamp`; `fresh`
    * is what [[graft.sources.Artifacts.memo]] returned for it. A fresh
    * memo with a resident model launches no Spark job: its cells scan
    * is rebuilt with the known schema, so nothing is inferred. A
    * rebuilt memo, or one not yet resident, loads from disk and
    * replaces the entry. */
  private[graft] def ivfLoadResident(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, stamp: String,
                                     fresh: Boolean): IvfIndex =
    (if (fresh) ivfResident.get((dir, stamp)) else None) match {
      case Some(r) =>
        IvfIndex(r.model,
          spark.read.schema(r.cellsSchema).parquet(s"$dir/cells"))
      case None =>
        val loaded = ivfLoad(spark, dir)
        ivfResident.put((dir, stamp),
          ResidentIvf(loaded.model, loaded.indexed.schema))
        loaded
    }

  /** Incrementally extend a prebuilt IVF index with a batch of new
    * vectors WITHOUT refitting: centroids stay frozen, the batch rows
    * are assigned to their nearest existing cell by the saved model,
    * and the cell table is a union. Because cell assignment is a pure
    * function of (model, vector), the incremental index is
    * ROW-IDENTICAL to transforming the full corpus with the same
    * model — the daily-ingest maintenance path (a 100 TB index
    * re-fit is a scheduled event, not a per-batch one; drifted
    * centroids degrade only recall, never correctness, and the
    * certification query witnesses the equivalence exactly). */
  def ivfAddBatch(index: IvfIndex, batch: DataFrame, idCol: String,
                  vecCol: String): IvfIndex = {
    import org.apache.spark.ml.functions.array_to_vector
    val prep = prepped(batch, idCol, vecCol, "neighbor")
      .withColumn("fv", array_to_vector(col("neighborv")))
    IvfIndex(index.model,
      index.indexed.unionByName(assignCells(index.model, prep).drop("fv")))
  }

  /** THE cell-routing step, shared by every IVF consumer
    * ([[ivfSearch]], [[knnIvfSq8]]): nProbe nearest centroids per
    * prepped query, deterministic (dist², cell) tie-break. One
    * definition so a routing fix can never diverge the paths. Input
    * must carry `query_id`/`queryv` (from [[prepped]]); all of the
    * input's columns pass through. */
  /** Test-only alias of [[probedCells]] (PlanSpec builds the seed
    * fragment outside this object). */
  private[graft] def probedCellsForTest(index: IvfIndex,
                                        preppedQueries: DataFrame,
                                        nProbe: Int): DataFrame =
    probedCells(index, preppedQueries, nProbe)

  private def probedCells(index: IvfIndex, preppedQueries: DataFrame,
                          nProbe: Int, wide: Boolean = false): DataFrame =
    probedCellsFromCenters(index.indexed.sparkSession,
      index.model.clusterCenters.map(_.toArray), preppedQueries, nProbe,
      wide = wide)

  /** Driver-local Lloyd's over the (small) centroid array — the
    * coarse quantizer of the two-level route. Deterministic:
    * evenly-spaced init over the input order, fixed iteration count,
    * lowest-index tie-break. Input is k points of d doubles — at the
    * unclamped derived k this is ≤ corpus/1250 rows, megabytes on the
    * driver where the corpus itself is terabytes on disk. */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
                                 iters: Int = 10): (Array[Array[Double]], Array[Int]) = {
    val n = points.length
    val kk = math.min(k, n)
    def seedIdx(i: Int): Int = ((i.toLong * n) / kk).toInt
    var centers = Array.tabulate(kk)(i => points(seedIdx(i)).clone)
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kk) {
          var d2 = 0.0; var j = 0
          val p = points(i); val ce = centers(c)
          while (j < p.length) { val dj = p(j) - ce(j); d2 += dj * dj; j += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](points(0).length))
      val cnt = new Array[Int](kk)
      var i2 = 0
      while (i2 < n) {
        val a = assign(i2); cnt(a) += 1
        var j = 0
        while (j < points(i2).length) { sums(a)(j) += points(i2)(j); j += 1 }
        i2 += 1
      }
      centers = Array.tabulate(kk) { c =>
        if (cnt(c) == 0) points(seedIdx(c)).clone // empty cell: re-seed deterministically
        else { val s = sums(c); s.map(_ / cnt(c)) }
      }
      it += 1
    }
    // final assignment pass against the FINAL centers: the loop
    // updates centers after its last assignment, so without this the
    // returned grouping is stale by one Lloyd's step and a fine
    // centroid can sit in a group its nearest (returned) coarse
    // center doesn't own — probing that coarse cell would miss it,
    // an undocumented recall leak on top of coarse routing.
    var i = 0
    while (i < n) {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < kk) {
        var d2 = 0.0; var j = 0
        val p = points(i); val ce = centers(c)
        while (j < p.length) { val dj = p(j) - ce(j); d2 += dj * dj; j += 1 }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      assign(i) = best
      i += 1
    }
    (centers, assign)
  }

  /** Coarse grouping of the fine-centroid array for two-level
    * routing: [[localKMeans]] then EMPTY-GROUP COMPACTION — only
    * coarse centers owning at least one fine centroid survive,
    * re-indexed densely. This makes two-level routing structurally
    * TOTAL: every probed coarse cell joins to ≥ 1 fine centroid, so
    * any query probing ≥ 1 coarse cell always ranks ≥ 1 fine cell.
    * Without the compaction (the round-8 cut) a vector whose cProbe
    * nearest coarse centers all owned zero fine centroids got NO
    * cell row, and [[assignCells]]'s inner join silently dropped it
    * from the index — data loss invisible to the flat-path exactness
    * pin. Compaction also stops wasting probe budget on cells that
    * cannot contain candidates. */
  private[graft] def coarseGroups(centers: Array[Array[Double]],
                                  coarseK: Int)
      : (Array[Array[Double]], Array[Int]) = {
    val (coarse, fineToCoarse) = localKMeans(centers, coarseK)
    val occupied = fineToCoarse.distinct.sorted
    if (occupied.length == coarse.length) (coarse, fineToCoarse)
    else {
      val remap = occupied.zipWithIndex.toMap
      (occupied.map(coarse(_)), fineToCoarse.map(remap))
    }
  }

  /** Centroid routing shared by every IVF consumer ([[ivfSearch]],
    * [[knnIvfSq8]], [[semDedupPairsIndexed]], [[assignCells]]):
    * `nProbe` nearest centroids per prepped query, deterministic
    * (dist², cell) tie-break. ONE definition so a routing fix can
    * never diverge the paths. Input must carry `query_id`/`queryv`
    * (from [[prepped]]); all input columns pass through.
    *
    * Flat routing (crossJoin against all k centroids) below
    * [[twoLevelCellThreshold]]; above it the route goes TWO-LEVEL:
    * the k fine centroids are grouped into √k coarse cells by a
    * driver-local Lloyd's ([[localKMeans]]) — centroids are tiny data
    * — each query probes its `coarseProbes` nearest coarse cells and
    * refines only among the fine centroids inside them. Per-vector
    * work drops from O(k·d) to O((√k + coarseProbes·k/√k)·d) =
    * O(√k·d); the price is recall-only (a fine centroid hiding behind
    * an unprobed coarse cell is missed — coarseProbes is the dial,
    * and boundary pairs still meet via the multi-probe discipline of
    * the callers). Full-probe consumers (nProbe ≥ k/4, e.g. the
    * knn_ivf_full exactness pin at nProbe = nList) bypass two-level:
    * exact-by-construction semantics must not hinge on coarse
    * routing. */
  /** `wide = true` is for CORPUS-SIZED query sides (the kNN-graph
    * seed, two-level cell assignment) — r15, measured: the centroid
    * window's ENSURE_REQUIREMENTS exchange carries the CROSS-JOINED
    * frame (n·k rows, the query vector duplicated once per probed
    * centroid), and AQE then coalesces it by its (small) bytes, so
    * the CPU-heavy scoring stage downstream ran 2 tasks on 32 cores
    * (1.9 s of a 5.2 s row). Hash-repartitioning the query side on
    * query_id BEFORE the cross join (explicit partition count —
    * REPARTITION_BY_NUM is the one origin AQE never coalesces, and
    * byte-based coalescing cannot see compute density) shuffles n
    * rows instead of n·k AND pins full width for every stage through
    * the seed scoring join (guide §2.3/§2.4: fewer bytes through the
    * exchange, partitioning established once and reused). Small
    * query batches (serving lookups) keep the default: an extra
    * exchange of 10 rows buys nothing. */
  private def probedCellsFromCenters(
      spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Double]], preppedQueriesRaw: DataFrame,
      nProbe: Int, coarseProbes: Int = 3, wide: Boolean = false): DataFrame = {
    val preppedQueries =
      if (wide) preppedQueriesRaw.repartition(
        spark.sparkContext.defaultParallelism, col("query_id"))
      else preppedQueriesRaw
    val k = centers.length
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist2").asc, col("cell").asc)
    def dist2To(centroid: Column): Column =
      graft.functions.ArrayDot(col("queryv"), col("queryv")) +
        graft.functions.ArrayDot(centroid, centroid) -
        lit(2.0) * graft.functions.ArrayDot(col("queryv"), centroid)
    if (k <= twoLevelCellThreshold || nProbe * 4 >= k) {
      val centDf = broadcast(spark.createDataFrame(
        centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
        .toDF("cell", "centroid"))
      preppedQueries.crossJoin(centDf)
        .withColumn("dist2", dist2To(col("centroid")))
        .withColumn("cell_rank", row_number().over(w))
        .filter(col("cell_rank") <= nProbe)
        .drop("centroid", "dist2", "cell_rank")
    } else {
      // coarseGroups compacts empty coarse cells away (totality:
      // every probed ccell owns fine centroids — see its scaladoc)
      val (coarse, fineToCoarse) = coarseGroups(centers,
        math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt))
      val coarseK = coarse.length
      // probe enough coarse cells that the fine rank can always fill
      // nProbe even on uneven coarse occupancy
      val cProbe = math.min(coarseK, math.max(coarseProbes,
        math.ceil(2.0 * nProbe * coarseK / k).toInt))
      val coarseDf = broadcast(spark.createDataFrame(
        coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
        .toDF("ccell", "ccentroid"))
      val fineDf = broadcast(spark.createDataFrame(
        centers.zipWithIndex.map { case (c, i) =>
          (fineToCoarse(i), i, c.toSeq)
        }.toSeq)
        .toDF("ccell", "cell", "centroid"))
      val wCoarse = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cdist2").asc, col("ccell").asc)
      preppedQueries.crossJoin(coarseDf)
        .withColumn("cdist2", dist2To(col("ccentroid")))
        .withColumn("ccell_rank", row_number().over(wCoarse))
        .filter(col("ccell_rank") <= cProbe)
        .drop("ccentroid", "cdist2", "ccell_rank")
        .join(fineDf, "ccell")
        .withColumn("dist2", dist2To(col("centroid")))
        .withColumn("cell_rank", row_number().over(w))
        .filter(col("cell_rank") <= nProbe)
        .drop("ccell", "centroid", "dist2", "cell_rank")
    }
  }

  /** Search an IVF index: each query exhaustively scores only its
    * `nProbe` nearest cells. Recall is tunable via nProbe (= nList
    * recovers brute force). */
  def ivfSearch(index: IvfIndex, idCol: String, vecCol: String,
                queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query")
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "queryv", "querynorm", "cell")

    val scored = index.indexed.join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** FILTERED ANN, index tier: [[ivfSearch]] with a metadata
    * predicate PUSHED INTO the probed-cell scan — the first thing a
    * real vector-search user hits at 100 TB ("nearest neighbors
    * where lang = 'en'"). `allowedIds` is the id set passing the
    * filter (produced by a predicate on the corpus table, where
    * Catalyst pushes it to the parquet scan); the cell table
    * left-semi-joins it BEFORE scoring, so the probed scan reads
    * nProbe·n_filtered/nList expected rows — strictly cheaper than
    * the classic over-fetch-k·m-then-post-filter shape, which scores
    * probed non-matching rows only to discard them (over-fetch
    * exists for opaque index structures; a cell table in a
    * relational engine composes the filter natively). Catalyst
    * broadcasts the filtered-id side when the filter is selective;
    * recall characteristics match unfiltered IVF at the same probe
    * fraction (the true filtered neighbor is missed only when its
    * CELL goes unprobed — same event as unfiltered; certified ≥ 0.9
    * by the gate row at [[knnAutoProbeFrac]]). */
  def ivfSearchFiltered(index: IvfIndex, idCol: String, vecCol: String,
                        queries: DataFrame, k: Int, nProbe: Int,
                        allowedIds: DataFrame): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query")
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "queryv", "querynorm", "cell")
    val allowed = allowedIds.select(col(allowedIds.columns.head)
      .as("neighbor_id"))
    val scored = index.indexed
      .join(allowed, Seq("neighbor_id"), "left_semi")
      .join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** The BYTES-SCANNED cost model of both kNN routers, in ladder
    * order (brute, ivf, ivf_sq8, ivf_pq). At corpus scale the binding
    * constraint is IO/memory bandwidth, not multiplies: a float64 dot
    * reads 8·dim bytes of corpus data while a PQ distance reads `m`
    * code bytes (32-64× less), which is why IVF-PQ is the production
    * serving tier. [[knnFilteredAuto]] prices all four tiers over the
    * filtered rows; [[knnAuto]] is the `nFiltered = n` case without
    * the SQ8 tier. All terms replayable from COUNT(*)s:
    *
    *  - brute-over-filtered: every batch scans the n_filtered float
    *    vectors — no build, the selective-filter winner;
    *  - IVF: one FULL-corpus build (the index is filter-agnostic — it
    *    serves every predicate) assigning n vectors at `assign`
    *    routing dots each (nList flat, √-structured above
    *    [[twoLevelCellThreshold]]), then per query the routing dots
    *    plus the probed fraction OF THE FILTERED ROWS in floats (the
    *    LeftSemi lands before scoring, so the scan reads
    *    nProbe·n_filtered/nList expected rows);
    *  - IVF×SQ8: the build plus one corpus encode pass; per query the
    *    probed filtered fraction in CODE bytes (dim, 8× under floats)
    *    and a [[pqDerivedRefine]] float re-rank;
    *  - IVF×PQ: as SQ8, plus the per-query ks-entry/subspace LUT
    *    build (dim·ks float muls), scanning `m` code bytes per probed
    *    vector.
    *
    * Plain IEEE doubles in fixed operand order; DuckDB replays every
    * comparison bit-for-bit. */
  def knnFilteredRouteCosts(n: Long, nFiltered: Long, nQueries: Long,
                            reuse: Long, p: IvfParams, dim: Int,
                            m: Int = 8, ks: Int = 256): Seq[(String, Double)] = {
    val fb = 8.0 * dim.toDouble
    val cb = dim.toDouble // SQ8: one byte per dimension
    val assign =
      if (p.nList <= twoLevelCellThreshold) p.nList.toDouble
      else {
        val ck = math.ceil(math.sqrt(p.nList.toDouble))
        ck + 3.0 * p.nList.toDouble / ck
      }
    val q = reuse.toDouble * nQueries.toDouble
    val probedF = p.nProbe.toDouble * nFiltered.toDouble / p.nList.toDouble
    val refine = pqDerivedRefine(n, p).toDouble
    val brute = q * nFiltered.toDouble * fb
    val ivf = n.toDouble * assign * fb + q * (assign * fb + probedF * fb)
    val sq8 = n.toDouble * assign * fb + n.toDouble * fb +
      q * (assign * fb + probedF * cb + refine * fb)
    // PQ adds the per-query ks-entry/subspace LUT build but scans m
    // bytes/vector — the serving winner once probedF·(cb−m)
    // outgrows dim·ks·8 (≈ n_filtered in the tens of thousands)
    val pq = n.toDouble * assign * fb + n.toDouble * fb +
      q * (assign * fb + dim.toDouble * ks.toDouble * 8.0 +
        probedF * m.toDouble + refine * fb)
    Seq("brute" -> brute, "ivf" -> ivf, "ivf_sq8" -> sq8, "ivf_pq" -> pq)
  }

  /** FILTERED ANN over the QUANTIZED tier — [[knnIvfSq8Indexed]]
    * with the metadata predicate pushed INTO the probed CODE scan:
    * the codes table left-semi-joins the allowed-id set BEFORE the
    * int8 scoring, so the scan reads nProbe·n_filtered/nList
    * expected CODE rows (dim bytes each — the 8× byte cut the
    * unfiltered SQ8 tier gets, now composed with the filter), and
    * only filtered survivors reach the float re-rank. Recall
    * characteristics match unfiltered IVF×SQ8 at the same probe
    * fraction + refine pool. */
  def ivfSearchFilteredSq8(index: IvfIndex, codes: DataFrame,
                           idCol: String, vecCol: String,
                           queries: DataFrame, k: Int, nProbe: Int,
                           refine: Int, allowedIds: DataFrame): DataFrame = {
    import graft.functions.Sq8
    val q = prepped(queries, idCol, vecCol, "query")
      .withColumn("qq", Sq8.encodeMaxAbs(col("queryv")))
      .withColumn("qqn", sqrt(Sq8.intDot(col("qq"), col("qq")).cast("double")))
      .filter(col("qqn") > 0)
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "qq", "qqn", "cell")
    val allowed = allowedIds.select(col(allowedIds.columns.head)
      .as("neighbor_id"))
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = codes
      .join(allowed, Seq("neighbor_id"), "left_semi")
      .join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        Sq8.intDot(col("qq"), col("nq")).cast("double") /
          (col("qqn") * col("nqn")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(broadcast(q.select("query_id", "queryv", "querynorm")), "query_id")
      .join(index.indexed.select("neighbor_id", "neighborv", "neighbornorm"),
        "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** FILTERED ANN over the PQ tier — [[knnIvfPqIndexed]] with the
    * metadata predicate pushed INTO the probed CODE scan: the
    * LeftSemi lands on the m-byte PQ codes before ADC scoring (the
    * 64× byte cut of the serving tier, composed with the filter);
    * only filtered survivors reach the float re-rank. */
  def ivfSearchFilteredPq(index: IvfIndex, codes: DataFrame,
                          cb: Array[Double], idCol: String, vecCol: String,
                          queries: DataFrame, k: Int, m: Int, ks: Int,
                          nProbe: Int, refine: Int,
                          allowedIds: DataFrame): DataFrame = {
    import graft.functions.Pq
    val q = prepped(queries, idCol, vecCol, "query")
      .withColumn("lut", Pq.lut(col("queryv"), m, ks, cb.toIndexedSeq))
      .filter(col("querynorm") > 0)
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "lut", "querynorm", "cell")
    val allowed = allowedIds.select(col(allowedIds.columns.head)
      .as("neighbor_id"))
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = codes
      .join(allowed, Seq("neighbor_id"), "left_semi")
      .join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        Pq.adc(col("pcode"), col("lut"), ks) /
          (col("querynorm") * col("neighbornorm")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(broadcast(q.select("query_id", "queryv", "querynorm")), "query_id")
      .join(index.indexed.select("neighbor_id", "neighborv", "neighbornorm"),
        "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Cost-routed filtered kNN — the default entry point for
    * "top-k nearest WHERE <pred>": routes between exact brute over
    * the filtered subset, the filter-pushed float IVF tier
    * ([[ivfSearchFiltered]]), and the filter-pushed QUANTIZED tiers
    * ([[ivfSearchFilteredSq8]] / [[ivfSearchFilteredPq]]) by
    * [[routeLadder]] over the bytes-scanned model
    * ([[knnFilteredRouteCosts]]): highly selective filters route
    * brute, broad filters an index, broad + amortized the codes, and
    * large-corpus broad + amortized — where the per-query LUT
    * amortizes against the probed scan — PQ. Selectivity IS the
    * router's input. The `route` column and the [[Route]] on `cos`
    * record the decision for replay. `prebuiltCodes` /
    * `prebuiltPqCodes`+`prebuiltPqCb` are the persisted codes
    * artifacts of `prebuilt` (computed on demand when absent and the
    * route lands on that tier); codes are only meaningful with the
    * codebook they were trained against, so passing
    * `prebuiltPqCodes` without `prebuiltPqCb` throws. */
  def knnFilteredAuto(emb: DataFrame, idCol: String, vecCol: String,
                      pred: Column, queries: DataFrame, k: Int,
                      reuse: Long = 1L, seed: Long = 42L,
                      prebuilt: Option[IvfIndex] = None,
                      prebuiltCodes: Option[DataFrame] = None,
                      prebuiltPqCodes: Option[DataFrame] = None,
                      prebuiltPqCb: Option[Array[Double]] = None,
                      knownN: Option[Long] = None,
                      knownNFiltered: Option[Long] = None,
                      knownNQueries: Option[Long] = None,
                      knownDim: Option[Int] = None,
                      indexDir: Option[String] = None): DataFrame = {
    val spark = emb.sparkSession
    // knownN discipline (mirrors ivfBuild): callers that already hold
    // the corpus / filtered / query counts — or the embedding dim —
    // pass them in; a gate row that calls this twice would otherwise
    // re-scan the corpus six times re-deriving the same three
    // COUNT(*)s plus two single-row dim probes
    val filtered = emb.filter(pred)
    val n = knownN.getOrElse(Cardinality.rows(emb))
    val nF = knownNFiltered.getOrElse(Cardinality.rows(filtered))
    val nQ = knownNQueries.getOrElse(Cardinality.rows(queries))
    val dim = knownDim.getOrElse(
      if (n == 0) 0
      else emb.select(size(col(vecCol))).head().getInt(0))
    val p = ivfDerivedParams(n, knnAutoProbeFrac)
    val tiers = knnFilteredRouteCosts(n, nF, nQ, reuse, p, dim)
    val r = Route("knnFilteredAuto", tiers,
      routeLadder(tiers, knnRouteMinAdvantage), ivf = Some(p))
    // indexDir: the ivfCachedIndex memo discipline (Scaladoc there) —
    // a serving caller without prebuilt artifacts points every batch
    // at one dir and pays the KMeans/encode passes exactly once
    def index = prebuilt.getOrElse(
      ivfCachedIndex(spark, emb, idCol, vecCol, p, seed, n, dim, indexDir))
    val res = r.chosen match {
      case "brute" => knnBrute(filtered, idCol, vecCol, queries, k)
      case "ivf" =>
        ivfSearchFiltered(index, idCol, vecCol, queries, k, p.nProbe,
          filtered.select(col(idCol)))
      case "ivf_pq" =>
        val idx = index
        // refine convention: pqDerivedRefine is a K-MULTIPLIER
        // (knnIvfPqIndexed filters arank <= k*refine) — knnAuto, the
        // knn_ivf_pq gate row, and the recall calibration all pass it
        // through unscaled; dividing by k here (pre-r14) re-ranked a
        // k× smaller pool than calibrated (r13 ADVICE)
        val (cbArr, codes) = (prebuiltPqCb, prebuiltPqCodes) match {
          case (Some(cb), Some(cd)) => (cb, cd)
          case (Some(cb), None)     => (cb, pqCodes(idx, cb))
          // codes-without-codebook is a caller bug, not a fallback:
          // PQ codes are only decodable against the codebook they
          // were trained with, and silently retraining both (the
          // pre-r15 behavior) threw away the work the caller paid
          // for (r14 ADVICE #2)
          case (None, Some(_)) => throw new IllegalArgumentException(
            "prebuiltPqCodes requires prebuiltPqCb — pass both or neither")
          case _ =>
            pqArtifactsCached(spark, emb, idCol, vecCol, idx, n, indexDir)
        }
        ivfSearchFilteredPq(idx, codes, cbArr, idCol, vecCol, queries, k,
          8, 256, p.nProbe, pqDerivedRefine(n, p),
          filtered.select(col(idCol)))
      case _ =>
        val idx = index
        val codes = prebuiltCodes.getOrElse(sq8CodesCached(spark, idx,
          indexDir))
        // same k-multiplier convention as the PQ branch above (the
        // ivfSearchFilteredSq8 refine filters arank <= k*refine)
        ivfSearchFilteredSq8(idx, codes, idCol, vecCol, queries, k,
          p.nProbe, pqDerivedRefine(n, p), filtered.select(col(idCol)))
    }
    stamped(res, r).withColumn("route", lit(r.chosen))
  }

  /** One-shot convenience: build + search. */
  def knnIvf(emb: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, nList: Int = 16,
             nProbe: Int = 4, seed: Long = 42L,
             knownN: Option[Long] = None): DataFrame =
    ivfSearch(ivfBuild(emb, idCol, vecCol, nList, seed, knownN), idCol,
      vecCol, queries, k, nProbe)

  /** Corpus-derived IVF sizing — the same derivation discipline as
    * [[lshDerivedParams]] (one rule shared by gate, probes, and
    * production callers; static knobs invite mis-sizing):
    *
    *  - `nList ≈ √n` (floor 8) — the standard inverted-file balance
    *    point: cells of √n vectors make probe cost nProbe·√n and
    *    build-routing cost n·√k both sub-linear fractions of brute;
    *  - `nProbe = ceil(probeFrac·nList)` (floor 3) — a FIXED probed
    *    fraction of the cell count. Finer cells at the same fraction
    *    probe the same share of centroids but a more TARGETED share
    *    of vectors, so measured recall rises under this rule (static
    *    8/3 probed 37.5% of the corpus and still only hit 0.68
    *    recall at the sf1 soak; derived √n cells at probeFrac = 0.35
    *    measure 0.84/0.84/0.84/0.82 at sf0.001/0.01/0.1/sf1 —
    *    RecallProbe pins the per-SF numbers, the gate's 0.75 floor
    *    binds them).
    *
    * All arithmetic is plain IEEE-double ceil/sqrt so the DuckDB
    * oracle replays it from COUNT(*) exactly. */
  final case class IvfParams(nList: Int, nProbe: Int)

  def ivfDerivedParams(n: Long, probeFrac: Double = 0.35): IvfParams = {
    val nList = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt
    val nProbe = math.max(3, math.ceil(probeFrac * nList).toInt)
    IvfParams(nList, math.min(nProbe, nList))
  }

  /** [[knnIvf]] with corpus-derived sizing — the production entry
    * point ([[Cardinality.rows]] buys a size-correct cell grid). */
  def knnIvfDerived(emb: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val n = Cardinality.rows(emb)
    val p = ivfDerivedParams(n)
    stamped(knnIvf(emb, idCol, vecCol, queries, k, p.nList, p.nProbe, seed,
      knownN = Some(n)), Route("knnIvfDerived", Nil, "ivf", ivf = Some(p)))
  }

  /** Probe fraction of the knn COST ROUTER's IVF tier — HIGHER than
    * the standalone derived tier's 0.35: the router's output is a
    * default (callers did not pick an ANN tier deliberately), so it
    * certifies recall ≥ 0.9, and the sweep (the IvfProbeFracSweep
    * probe, last at commit 2da988d) measured 0.35 → 0.82-0.88 vs
    * 0.6 → 0.96-1.00 across sf0.001/0.01/0.1/sf1 — 0.6 holds the
    * floor with ≥ 0.06 margin at every measured scale. */
  val knnAutoProbeFrac = 0.6

  // ---- routing decision record -----------------------------------------

  /** One routing decision, stamped on the result's `cos` column so a
    * consumer can PROVE which plan ran instead of re-deriving it:
    * `op` is the entry point that decided, `tiers` its priced tiers
    * in ladder order (exact tier first; empty for a fixed-tier entry
    * point, which prices nothing), `chosen` the tier that ran, and
    * `lsh`/`ivf` the corpus-derived sizing it used. A frame from a
    * static-knob path carries no record, so the gate queries that
    * read it refuse a caller quietly bypassing the derivation. The
    * record is schema metadata under one key: it rides select,
    * filter, checkpoints and parquet round trips at no runtime
    * cost. */
  final case class Route(op: String, tiers: Seq[(String, Double)],
                         chosen: String, lsh: Option[LshParams] = None,
                         ivf: Option[IvfParams] = None)

  /** The decision rule of every cost router: start on the exact tier
    * and step to the next rung while some later rung predicts
    * ≥ `minAdvantage`× less cost than the current one — so an indexed
    * tier must clear the hurdle against brute, and each coarser tier
    * against the one above it (ties keep the simpler tier). A rung
    * whose cost is 0 is never left: an empty corpus, query set or
    * filter, or a zero dim, routes exact. */
  def routeLadder(tiers: Seq[(String, Double)], minAdvantage: Double): String = {
    def best(from: Int) =
      tiers.drop(from).map(_._2).reduce((a, b) => math.min(a, b))
    var i = 0
    while (i + 1 < tiers.length && tiers(i)._2 > 0.0 &&
      best(i + 1) * minAdvantage <= tiers(i)._2) i += 1
    tiers(i)._1
  }

  /** The kNN routers' hurdle (graph, filtered and default kNN). */
  val knnRouteMinAdvantage = 1.2

  private val RouteKey = "route"

  private def stamped(df: DataFrame, r: Route): DataFrame = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("op", r.op).putString("chosen", r.chosen)
    if (r.tiers.nonEmpty) // an empty array would read back as Long[]
      b.putStringArray("tiers", r.tiers.map(_._1).toArray)
        .putDoubleArray("costs", r.tiers.map(_._2).toArray)
    r.lsh.foreach(p => b.putLongArray("lsh",
      Array(p.numPlanes.toLong, p.numTables.toLong, p.probeDepth.toLong)))
    r.ivf.foreach(p => b.putLongArray("ivf",
      Array(p.nList.toLong, p.nProbe.toLong)))
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putMetadata(RouteKey, b.build()).build()
    df.withColumn("cos", col("cos").as("cos", m))
  }

  /** The [[Route]] stamped on `df`, or None for a frame from a
    * static-knob path. */
  def routeOf(df: DataFrame): Option[Route] = {
    val m = df.schema(df.schema.fieldIndex("cos")).metadata
    if (!m.contains(RouteKey)) None
    else {
      val r = m.getMetadata(RouteKey)
      def ints(key: String) =
        if (r.contains(key)) Some(r.getLongArray(key).map(_.toInt)) else None
      val tiers =
        if (r.contains("tiers"))
          r.getStringArray("tiers").toSeq.zip(r.getDoubleArray("costs"))
        else Nil
      Some(Route(r.getString("op"), tiers, r.getString("chosen"),
        ints("lsh").map(a => LshParams(a(0), a(1), a(2))),
        ints("ivf").map(a => IvfParams(a(0), a(1)))))
    }
  }

  /** [[nearDupPairsAuto]]'s decision (true = LSH ran), or None for
    * frames from other entry points. */
  def lshRoutedOf(df: DataFrame): Option[Boolean] =
    routeOf(df).filter(_.op == "nearDupPairsAuto").map(_.chosen == "lsh")

  /** [[knnAuto]]'s decision as its ladder position (0 = brute,
    * 1 = ivf, 2 = ivf_pq), or None for frames from other entry
    * points. */
  def knnRouteOf(df: DataFrame): Option[Int] =
    routeOf(df).filter(_.op == "knnAuto")
      .map(r => r.tiers.indexWhere(_._1 == r.chosen))

  /** The IVF sizing a derived or routed entry point used. */
  def ivfParamsOf(df: DataFrame): Option[IvfParams] = routeOf(df).flatMap(_.ivf)

  // ---- kNN graph (corpus-vs-corpus top-k) --------------------------------

  /** Sizing for GRAPH mode, where the query side IS the corpus.
    * The serving rules above probe a fixed FRACTION of the cells
    * (recall lives on a |Q|-bounded side), but with |Q| = n a
    * fractional probe is Θ(n²) candidate work. Graph mode instead
    * pins cell OCCUPANCY to a constant (512 — the same target the
    * LSH family sizes to) and probes a constant cell count:
    * candidates per query ≈ nProbe·512 regardless of corpus size,
    * so TOTAL candidate work is Θ(n) — the only shape that survives
    * a 100 TB corpus-wide kNN-graph build. The seed graph this
    * produces is deliberately cheap (its recall decays as the cell
    * count leaves the floor — measured 0.45 at the sf1 soak);
    * [[knnGraph]]'s NN-Descent rounds buy the recall back at
    * k-bounded linear cost instead of paying for it with probes.
    * Plain IEEE ceil/max so the DuckDB oracle replays both knobs
    * from COUNT(*). */
  def knnGraphParams(n: Long): IvfParams = {
    val nList = math.max(8L, math.ceil(n.toDouble / 512.0).toLong)
      .min(Int.MaxValue.toLong).toInt
    IvfParams(nList, math.min(3, nList))
  }

  /** NN-Descent refinement rounds for [[knnGraph]] — fixed (never
    * data-dependent: deterministic plans, oracle-replayable cost)
    * because convergence is geometric (Dong et al., WWW'11: each
    * round roughly squares the miss rate) and two rounds measured
    * recall 0.45 → 0.99 at the sf1 soak. */
  val knnGraphDescentRounds = 2

  /** In-degree cap (as a multiple of k) on NN-Descent candidate
    * propagation: a join of in-edges with out-edges through a shared
    * vertex b generates in(b)·k pairs, and in(b) is unbounded (a
    * "celebrity" vector near many others can sit in everyone's
    * top-k, making one join key quadratic — the classic skew bomb).
    * Keeping only each vertex's 4k best in-edges bounds every
    * round at 4k²·n candidate pairs while losing almost nothing:
    * propagation through a hub's 21st-best in-edge is exactly the
    * low-signal path NN-Descent's sampling drops anyway. */
  val knnGraphInDegreeCap = 4

  /** Priced tiers of [[knnGraphAuto]]: brute graph work is n² dot
    * products, descent work ≈ (nProbe·512 seed + rounds·(5k)²
    * descent)·n = 2786·n dots at k = 5 — under [[routeLadder]] at
    * [[knnRouteMinAdvantage]] descent must predict ≥ 1.2× fewer dots
    * to win, so brute holds while n ≤ 1.2·2786 ≈ 3343 (evaluated as
    * the IEEE-exact inequality, never pre-solved, so the DuckDB
    * oracle replays the same expression from COUNT(*)). The honest
    * consequence (same shape as the knn router's
    * one-shot-routes-brute finding): small corpora get the EXACT
    * graph — approximation only ever buys something once n clears
    * the seed's constant factor. */
  def knnGraphRouteCosts(n: Long, k: Int): Seq[(String, Double)] =
    Seq("brute" -> n.toDouble * n.toDouble,
      "descent" -> n.toDouble * (3.0 * 512.0 +
        knnGraphDescentRounds.toDouble * (5.0 * k) * (5.0 * k)))

  /** Exact corpus-wide kNN graph — the brute tier of
    * [[knnGraphAuto]]: every vector against every other through a
    * broadcast-queries nested loop (the corpus IS the query set; at
    * the route boundary that broadcast is ≤ ~3k vectors —
    * megabytes). Unlike [[knnBrute]] (|Q| ≤ tens, window cost
    * negligible) the n² pair set here is millions of rows, so the
    * scored pairs are PROJECTED NARROW before the top-k cut and the
    * cut is the [[graphTopK]] aggregate — the window form dragged
    * both 512-byte vector arrays through a 4M-row sort (measured
    * 9 s at n = 2000; this shape ~1 s, output row-identical). */
  def knnGraphBrute(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val q = broadcast(prepped(emb, idCol, vecCol, "query"))
    // explicit partition count (r15, measured): repartition(col)
    // alone is REPARTITION_BY_COL, which AQE byte-coalesces — the
    // corpus side is ~1 MB at the route boundary, so the n² scoring
    // below it collapsed to ONE task (knn_graph warm 2.9 s → 0.9 s
    // with the count pinned). defaultParallelism scales with the
    // deployment; the data is ≤ ~3.3k rows here by the route bound.
    val n = prepped(emb, idCol, vecCol, "neighbor")
      .repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col("neighbor_id"))
    val scored = n.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos("query", "neighbor").as("cos"))
    graphTopK(scored, "cos", k)
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos"))
  }

  /** Cost-routed corpus-wide kNN graph: the exact brute tier below
    * [[knnGraphRouteCosts]]' boundary, the IVF-seeded NN-Descent
    * tier ([[knnGraph]]) above it. Output schema is identical in
    * both regimes; a `route` column records the decision so the
    * gate oracle can replay it from COUNT(*). */
  /** Incremental kNN-graph maintenance — the daily-increment path of
    * [[knnGraphAuto]] (the [[ivfAddBatch]] discipline applied to the
    * graph): given the standing graph over the base corpus and a
    * BOUNDED batch of new vectors, produce the updated graph over
    * base ∪ batch without re-running the corpus-wide build.
    *
    * The update is EXACT BY CONSTRUCTION relative to its inputs:
    *  - a batch vertex's top-k is scored exhaustively against
    *    base ∪ batch (the batch side broadcasts — it is bounded by
    *    contract, kilobytes of vectors; the corpus side streams);
    *  - a base vertex's top-k can only change through batch vectors
    *    (the rest of the corpus didn't move), and every (base, batch)
    *    pair is in the same exhaustive cross — merging those reversed
    *    edges into the vertex's standing edges and re-cutting top-k
    *    considers every possible displacement.
    * Hence: exact base graph in ⇒ exact updated graph out (≡ the
    * brute graph over base ∪ batch, spec-pinned); descent-tier base
    * graph in ⇒ the update preserves the base tier's approximation
    * and adds NO new approximation. Cost is |batch|·(n+|batch|) dots
    * — linear in the corpus for a bounded batch, cheaper than even
    * one descent rebuild (2786·n) whenever |batch| < ~2786. */
  def knnGraphAddBatch(baseGraph: DataFrame, base: DataFrame,
                       batch: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val bQ = prepped(batch, idCol, vecCol, "query")
    val allN = prepped(base, idCol, vecCol, "neighbor")
      .unionByName(prepped(batch, idCol, vecCol, "neighbor"))
    // exhaustive batch-vs-everything scoring, projected narrow;
    // checkpointed because it feeds both the new-vertex top-k and
    // the reversed merge below
    val cross = allN.crossJoin(broadcast(bQ))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos("query", "neighbor").as("cos"))
      .localCheckpoint()
    val newV = graphTopK(cross, "cos", k)
    // reversed edges give base vertices their batch candidates; a
    // reversed row whose query is itself a batch vector is already
    // covered exhaustively above — drop it
    val rev = cross.select(col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id"), col("cos"))
      .join(broadcast(bQ.select(col("query_id"))), Seq("query_id"),
        "left_anti")
    val updated = graphTopK(
      baseGraph.select("query_id", "neighbor_id", "cos").unionByName(rev),
      "cos", k)
    newV.unionByName(updated)
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos"))
  }

  /** `quantizer`: optional per-corpus coarse-quantizer provider for
    * the descent tier, called with the counted corpus size. The three
    * graph consumers (knn_graph, mutual-kNN clustering, the
    * incremental base build) otherwise each re-fit the SAME
    * per-dataset KMeans (~4.7 s at the sf1 soak, ×3) —
    * [[knnGraphParams]] depends only on n, so one fitted index keyed
    * by (corpus fingerprint, nList) serves them all (the gate memo is
    * ScaleAnnQueries.knnGraphQuantizer). Lazy: never invoked on the
    * brute route, which needs no index. */
  def knnGraphAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   seed: Long = 42L,
                   quantizer: Option[Long => IvfIndex] = None): DataFrame = {
    // the descent seed cuts at 4·k through TopKByScore (hard cap
    // 1024) — fail HERE, naming the public parameter, not three
    // stages deep with a message about an internal 4k value
    require(k >= 1 && k <= 256,
      s"knnGraphAuto: k must be in [1, 256], got $k")
    val n = Cardinality.rows(emb)
    val tiers = knnGraphRouteCosts(n, k)
    val r = Route("knnGraphAuto", tiers,
      routeLadder(tiers, knnRouteMinAdvantage), ivf = Some(knnGraphParams(n)))
    stamped(
      if (r.chosen == "brute") knnGraphBrute(emb, idCol, vecCol, k)
      else knnGraph(emb, idCol, vecCol, k, seed, knownN = Some(n),
        prebuilt = quantizer.map(f => f(n))), r)
      .withColumn("route", lit(r.chosen))
  }

  /** Corpus-wide approximate kNN graph: every vector's top-k cosine
    * neighbors — the operator behind graph-based clustering,
    * mutual-kNN dedup, and hard-negative mining. Unlike the knn_*
    * serving paths ([[ivfSearch]] broadcasts its query cells), BOTH
    * sides here are corpus-sized, so nothing broadcasts; every stage
    * is a shuffle join with per-key bounds.
    *
    * RECALL IS DATA-DEPENDENT — this tier's contract is linear cost,
    * not a recall floor. On clustered embeddings (the production
    * case: real text/image encoders put related items at cos ≥ 0.7
    * in tight cells) the seed catches co-clustered neighbors and
    * descent converges geometrically — SimilaritySpec pins recall
    * ≥ 0.9 on a planted-cluster fixture. On the harness's SYNTHETIC
    * fabric the vectors are near-uniform in 64 dims (measured mean
    * top-1 cos ≈ 0.45 against a 0.0 random baseline — the
    * KnnGraphProbe probe, last at commit 1d73fd6)
    * and there is provably no locality for ANY linear-candidate
    * method to exploit: measured top-5 recall decays 0.85 → 0.37 as
    * n grows 2k → 20k, rounds lifting the seed 0.29 → 0.37 at 20k.
    * That decay is a property of unstructured data, not of the plan
    * — which is why [[knnGraphAuto]] routes small corpora to the
    * exact tier and this tier is the explicit
    * approximate-by-contract scale path.
    *
    * Shape: IVF-SEEDED NN-DESCENT.
    *  1. SEED — probed-cell shuffle join at [[knnGraphParams]]'s
    *     constant-occupancy sizing: candidates per query ≈
    *     nProbe·512, total Θ(n). The seed alone decays with corpus
    *     size (constant probes over a growing cell count — 0.85 at
    *     2k vectors, 0.45 at 20k), which is why no probe knob is
    *     offered: buying recall with probes is the Θ(n²) direction.
    *  2. DESCEND ([[knnGraphDescentRounds]] rounds) — neighbors of
    *     neighbors: join the graph's in-edges (capped at
    *     [[knnGraphInDegreeCap]]·k per vertex — see the skew note
    *     there) with its out-edges through the shared vertex,
    *     exact-score the ≤ 4k²·n new pairs, emit BOTH directions
    *     (score once — reverse propagation is what lets a vertex the
    *     seed stranded get found by its neighbors), and keep each
    *     vertex's top-k of old ∪ new. Every round is k-bounded
    *     linear work — recall is bought where it's cheap.
    *
    * All returned scores are exact cosines (the index and the
    * descent only select candidates), ranks are dense per vertex,
    * ties break on (cos desc, neighbor_id asc) everywhere.
    *
    * Degenerate corpora (a vector whose probed cells hold no other
    * vector) would drop that vertex from the seed and the descent
    * can't resurrect what has no edge at all; with 512-occupancy
    * cells and the own-cell probe guarantee (a vector's nearest
    * centroid is its own cell's) this requires a 3-cell-wide
    * singleton island — certified per-run by the gate row's
    * `vertices_ok` witness rather than assumed. */
  /** per-group bounded top-k as a MERGEABLE AGGREGATE, never a
    * window: the candidate fan-out is 1536 rows per vertex and a
    * window must locally sort all of them (measured: the sorts, not
    * the dot products, dominated this tier) — the aggregate keeps
    * O(k) per group, combines map-side, and shuffles k rows/vertex */
  private def graphTopK(df: DataFrame, scoreCol: String, kk: Int): DataFrame =
    df.groupBy("query_id")
      .agg(graft.functions.TopKByScore(col(scoreCol),
        col("neighbor_id"), kk).as("top"))

  /** The seed stage of [[knnGraph]], exposed un-checkpointed so
    * PlanSpec can pin its shape (sq8-coded scoring, aggregate top-k,
    * no window, no broadcast). `vt` is the narrow vertex table the
    * exact re-rank joins on. */
  private[graft] def knnGraphSeed(index: IvfIndex, qCells: DataFrame,
                                  vt: DataFrame, k: Int): DataFrame = {
    // SEED: shuffle join on cell — the neighbor side carries each
    // vector once (its assigned cell), the query side nProbe times,
    // so a directed pair appears at most once. The candidate scan
    // runs on SQ8 CODES, not floats: 64 B int8 dots through the join
    // and the top-4k selection (narrow rows, 4× cheaper scoring —
    // the knnSq8 refine pattern, whose re-rank restores exact
    // scores; sq8 top-20-of-1500 candidate selection measured
    // recall-neutral at every SF).
    import graft.functions.Sq8
    val nCoded = index.indexed
      .withColumn("nq", Sq8.encodeMaxAbs(col("neighborv")))
      .withColumn("nqn", sqrt(Sq8.intDot(col("nq"), col("nq")).cast("double")))
      .select("cell", "neighbor_id", "nq", "nqn")
    val qCoded = qCells
      .withColumn("qq", Sq8.encodeMaxAbs(col("queryv")))
      .withColumn("qqn", sqrt(Sq8.intDot(col("qq"), col("qq")).cast("double")))
      .select("cell", "query_id", "qq", "qqn")
    val seedCand = graphTopK(
      nCoded.join(qCoded, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("qcos",
          Sq8.intDot(col("qq"), col("nq")).cast("double") /
            (col("qqn") * col("nqn"))),
      "qcos", 4 * k)
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    graphTopK(
      seedCand
        .join(vt.select(col("vid").as("query_id"), col("vv").as("queryv"),
          col("vn").as("querynorm")), "query_id")
        .join(vt.select(col("vid").as("neighbor_id"), col("vv").as("neighborv"),
          col("vn").as("neighbornorm")), "neighbor_id")
        .withColumn("cos", pairCos("query", "neighbor")),
      "cos", k)
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("cos"))
  }

  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               seed: Long = 42L,
               rounds: Int = knnGraphDescentRounds,
               knownN: Option[Long] = None,
               prebuilt: Option[IvfIndex] = None): DataFrame = {
    require(k >= 1 && k <= 256,
      s"knnGraph: k must be in [1, 256], got $k (the seed cuts at 4·k " +
        "through the 1024-capped top-k aggregate)")
    // routed callers already counted the corpus — don't re-scan it
    val n = knownN.getOrElse(Cardinality.rows(emb))
    val p = knnGraphParams(n)
    // a shared/prebuilt quantizer must match THIS corpus's derived
    // sizing — a stale or foreign index would silently change seed
    // recall, so mismatches fail loudly instead
    prebuilt.foreach(idx => require(
      idx.model.clusterCenters.length == p.nList,
      s"knnGraph: prebuilt quantizer has ${idx.model.clusterCenters.length} " +
        s"cells, corpus-derived sizing wants ${p.nList}"))
    val index = prebuilt.getOrElse(
      ivfBuild(emb, idCol, vecCol, p.nList, seed, knownN = Some(n)))
    val q = prepped(emb, idCol, vecCol, "query")
    // wide: the "query" side here is the WHOLE corpus (every vector
    // seeds its own neighbor list) — see probedCellsFromCenters
    val qCells = probedCells(index, q, p.nProbe, wide = true)
      .select("query_id", "queryv", "querynorm", "cell")
    // vertex table for exact re-scoring (narrow: id, vector, norm —
    // joined on 8-byte ids by the seed re-rank and every descent
    // round)
    val vt = q.select(col("query_id").as("vid"), col("queryv").as("vv"),
      col("querynorm").as("vn")).localCheckpoint()
    def topK(df: DataFrame, scoreCol: String, kk: Int): DataFrame =
      graphTopK(df, scoreCol, kk)
    // localCheckpoint: each descent round re-reads the graph twice
    // (in-edge and out-edge sides) and the final select once more.
    var g = knnGraphSeed(index, qCells, vt, k).localCheckpoint()
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("neighbor_id")
      .orderBy(col("cos").desc, col("query_id").asc)
    (1 to rounds).foreach { _ =>
      val inEdges = g
        .withColumn("irank", row_number().over(capW))
        .filter(col("irank") <= knnGraphInDegreeCap * k)
        .select(col("query_id").as("src"), col("neighbor_id").as("via"))
      val outEdges = g.select(col("query_id").as("via"),
        col("neighbor_id").as("dst"))
      // adjacency THROUGH each shared vertex, both orientations:
      // path pairs (src→via→dst) AND co-neighbor pairs (src→via←dst
      // — two vertices sharing an out-neighbor are usually near each
      // other; in clustered corpora this is the highest-signal set,
      // and NN-Descent's B[v] join covers it). in-edges are
      // hub-capped, out-edges are k-bounded, so each via key emits
      // ≤ (4k+k)² pairs — still Θ(n) per round.
      val adj = inEdges.unionByName(
        outEdges.select(col("dst").as("src"), col("via")))
      val cand = adj.join(adj.select(col("src").as("dst"), col("via")), "via")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val scored = cand
        .join(vt.select(col("vid").as("src"), col("vv").as("srcv"),
          col("vn").as("srcnorm")), "src")
        .join(vt.select(col("vid").as("dst"), col("vv").as("dstv"),
          col("vn").as("dstnorm")), "dst")
        .withColumn("cos", pairCos("src", "dst"))
        .select(col("src"), col("dst"), col("cos"))
      val both = scored.select(col("src").as("query_id"),
          col("dst").as("neighbor_id"), col("cos"))
        .unionByName(scored.select(col("dst").as("query_id"),
          col("src").as("neighbor_id"), col("cos")))
      // old ∪ new may repeat a pair (same exact cos on every copy):
      // the aggregate's id-dedup collapses them, so no extra
      // groupBy exchange
      g = topK(g.unionByName(both), "cos", k)
        .select(col("query_id"), explode(col("top")).as("e"))
        .select(col("query_id"), col("e.id").as("neighbor_id"),
          col("e.score").as("cos"))
        .localCheckpoint()
    }
    // final dense ranks from the aggregate's sorted output positions
    stamped(
      topK(g, "cos", k)
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("neighbor_id"), col("e.score").as("cos")),
      Route("knnGraph", Nil, "descent", ivf = Some(p)))
  }

  /** The `indexDir` memo discipline shared by [[knnAuto]] and
    * [[knnFilteredAuto]]: `reuse` > 1 means the index outlives one
    * call — `indexDir` is that statement made real (a serving router
    * always sits on an index cache; without one every batch re-pays
    * the build the cost model amortized away). The stamp ties the
    * cache to (n, dim, nList, seed); the CALLER owns content-level
    * invalidation — point a new corpus at a new dir (the `knn_auto`
    * gate row does: its `indexDir` sits under a memo stamped with the
    * corpus's content fingerprint, ScaleAnnQueries.knnAutoQ). On a
    * stamp miss [[graft.sources.Artifacts.memo]] deletes the derived
    * artifacts WITH the index ([[ivfMemoParts]]): they are pure
    * functions of (index, corpus), and their caches below would
    * otherwise feed stale codes from the old corpus to the new index.
    * A hit reads the stamp and serves the resident model
    * ([[ivfLoadResident]]): no Spark job. */
  private def ivfCachedIndex(spark: org.apache.spark.sql.SparkSession,
                             emb: DataFrame, idCol: String, vecCol: String,
                             p: IvfParams, seed: Long, n: Long, dim: Int,
                             indexDir: Option[String]): IvfIndex =
    indexDir match {
      case None =>
        ivfBuild(emb, idCol, vecCol, p.nList, seed, knownN = Some(n))
      case Some(dir) =>
        val stamp = s"n=$n dim=$dim nList=${p.nList} seed=$seed"
        val fresh = graft.sources.Artifacts.memo(dir, stamp, ivfMemoParts)(
          ivfSave(ivfBuild(emb, idCol, vecCol, p.nList, seed,
            knownN = Some(n)), dir))
        ivfLoadResident(spark, dir, stamp, fresh)
    }

  /** PQ codebook + codes under the [[ivfCachedIndex]] memo: with an
    * `indexDir`, the codebook parquet (`pq_cb`) and codes parquet
    * (`pq_codes`) are written once beside the index and every later
    * call loads them — two consecutive routed-PQ calls fit ZERO
    * KMeans (r13 verdict: a caller without a prebuilt codebook paid
    * `pqTrain` per call). Without a dir, train/encode in-flight. The
    * only writer of `pq_cb` and `pq_codes`: the prebuilt gate rows call
    * it over their own index memo. */
  private[graft] def pqArtifactsCached(
      spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, index: IvfIndex, n: Long,
      indexDir: Option[String])
      : (Array[Double], DataFrame) = indexDir match {
    case None =>
      val cb = pqTrain(emb, idCol, vecCol, 8, 256, knownN = Some(n))
      (cb, pqCodes(index, cb, 8, 256))
    case Some(dir) =>
      import spark.implicits._
      val cbPath = s"$dir/pq_cb"
      if (!new java.io.File(s"$cbPath/_SUCCESS").exists) {
        val cb = pqTrain(emb, idCol, vecCol, 8, 256, knownN = Some(n))
        cb.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
          .toDF("i", "v")
          .coalesce(1).write.mode("overwrite").parquet(cbPath)
      }
      val cb = spark.read.parquet(cbPath).orderBy("i").collect()
        .map(_.getDouble(1))
      val codesPath = s"$dir/pq_codes"
      if (!new java.io.File(s"$codesPath/_SUCCESS").exists)
        graft.sources.Sinks.writeScanSized(pqCodes(index, cb, 8, 256),
          codesPath)
      (cb, spark.read.parquet(codesPath))
  }

  /** SQ8 codes under the same memo: encoded once beside the index
    * (`sq8_codes`), loaded thereafter. The only writer of `sq8_codes`. */
  private[graft] def sq8CodesCached(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      indexDir: Option[String]): DataFrame =
    indexDir match {
      case None => sq8Codes(index)
      case Some(dir) =>
        val codesPath = s"$dir/sq8_codes"
        if (!new java.io.File(s"$codesPath/_SUCCESS").exists)
          graft.sources.Sinks.writeScanSized(sq8Codes(index), codesPath)
        spark.read.parquet(codesPath)
    }

  /** Cost-routed DEFAULT k-NN — the entry point a caller should use
    * without picking an ANN tier by hand ([[nearDupPairsAuto]]'s
    * discipline applied to search). Routes between exact brute, the
    * derived-IVF tier and IVF-PQ by [[routeLadder]] over the
    * bytes-scanned model ([[knnFilteredRouteCosts]] with every row
    * passing the filter, SQ8 left out). Consequences the specs pin: a
    * ONE-SHOT small batch routes brute at every corpus size (at the
    * recall-0.9-mandated probe fraction the probed set is already
    * 0.6·n per query, so no build is repaid); amortized serving
    * routes IVF at small n or small dim (the per-query PQ LUT prices
    * the codes out) and IVF-PQ once the float scan dominates — at
    * dim 64 the crossover sits near n ≈ 1-2k corpus vectors with
    * reuse 100, and every large-n amortized corpus routes PQ (the
    * 32-64× scan-byte gap only widens). LSH is deliberately NOT in
    * the default path: holding recall fixed its table count grows
    * with n (measured 10.6× wall-clock for 10× data at the sf1 soak —
    * structural, the tables ARE the recall dial), while the IVF tier
    * re-sizes as √n and measured ≤ 1.4×. [[knnLshDerived]] stays
    * available as the certified explicit fallback (e.g. when no
    * KMeans fit may run). `reuse` = expected query batches over the
    * index lifetime (1 = one-shot; [[ivfSave]]/[[ivfLoad]] and
    * `indexDir` make reuse real). The result carries its [[Route]]
    * on `cos` ([[routeOf]], [[knnRouteOf]], [[ivfParamsOf]]) so a
    * consumer can PROVE which plan ran. */
  def knnAuto(emb: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, k: Int, reuse: Long = 1L,
              seed: Long = 42L, indexDir: Option[String] = None): DataFrame = {
    val spark = emb.sparkSession
    val n = Cardinality.rows(emb)
    val nQ = Cardinality.rows(queries)
    // empty corpus: head() on the dim probe would throw; dim 0 prices
    // brute at 0 bytes, which the ladder never leaves, and brute over
    // an empty corpus returns the correctly-shaped empty result
    val dim =
      if (n == 0) 0
      else emb.select(size(col(vecCol))).head().getInt(0)
    val p = ivfDerivedParams(n, knnAutoProbeFrac)
    val tiers = knnFilteredRouteCosts(n, n, nQ, reuse, p, dim)
      .filter(_._1 != "ivf_sq8")
    val r = Route("knnAuto", tiers, routeLadder(tiers, knnRouteMinAdvantage),
      ivf = Some(p))
    // indexDir: the ivfCachedIndex memo discipline (Scaladoc there)
    val res = r.chosen match {
      case "brute" => knnBrute(emb, idCol, vecCol, queries, k)
      case "ivf" =>
        ivfSearch(ivfCachedIndex(spark, emb, idCol, vecCol, p, seed, n,
          dim, indexDir), idCol, vecCol, queries, k, p.nProbe)
      case "ivf_pq" =>
        // the router's probeFrac (0.6, recall-floor-mandated) and its
        // derived refine pool — NOT knnIvfPq's standalone 0.35 sizing
        val index = ivfCachedIndex(spark, emb, idCol, vecCol, p, seed, n,
          dim, indexDir)
        val (cb, codes) =
          pqArtifactsCached(spark, emb, idCol, vecCol, index, n, indexDir)
        knnIvfPqIndexed(index, codes, cb, idCol,
          vecCol, queries, k, 8, 256, p.nProbe, pqDerivedRefine(n, p))
    }
    stamped(res, r)
  }

  /** [[knnIvfSq8]] with corpus-derived sizing. */
  def knnIvfSq8Derived(emb: DataFrame, idCol: String, vecCol: String,
                       queries: DataFrame, k: Int, refine: Int = 4,
                       seed: Long = 42L): DataFrame = {
    val n = Cardinality.rows(emb)
    val p = ivfDerivedParams(n)
    stamped(knnIvfSq8(emb, idCol, vecCol, queries, k, p.nList, p.nProbe,
      refine, seed, knownN = Some(n)),
      Route("knnIvfSq8Derived", Nil, "ivf_sq8", ivf = Some(p)))
  }

  /** ANN top-k via int8 scalar quantization + exact re-rank — the
    * memory/IO-bound regime's tool, complementary to LSH/IVF (which
    * cut CANDIDATES; SQ8 cuts BYTES PER CANDIDATE 4×). Stage 1 scans
    * only (id, 64 B codes) and ranks by quantized cosine — integer
    * multiply-adds in one codegen'd loop, per-vector scales cancel
    * (see [[graft.functions.Sq8]]); stage 2 fetches float vectors by
    * id for the k·refine survivors per query and re-ranks with the
    * exact cosine, so returned scores are exact and the top-k is
    * wrong only where quantization reorders a true top-k neighbor
    * past rank k·refine. At 100 TB the codes table (25 TB) is the
    * only full scan; the refine join touches |Q|·k·refine rows. */
  def knnSq8(emb: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, refine: Int = 4): DataFrame = {
    import graft.functions.Sq8
    // zero-norm guard: an all-zero vector quantizes to all-zero codes
    // with qn = 0, making qcos NaN — and Spark orders NaN above every
    // double, so one degenerate row would seize a candidate slot in
    // EVERY query's top k·refine. Zero vectors have no direction and
    // can never be a meaningful cosine neighbor; drop them up front.
    def coded(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(s"${as}_id"),
        Sq8.encodeMaxAbs(toDouble(col(vecCol))).as(s"${as}q"))
        .withColumn(s"${as}qn",
          sqrt(Sq8.intDot(col(s"${as}q"), col(s"${as}q")).cast("double")))
        .filter(col(s"${as}qn") > 0)
    val n = graft.Sessions.widen(coded(emb, "neighbor"),
      col("neighbor_id")) // explicit count — see Sessions.widen (r15)
    val q = broadcast(coded(queries, "query"))
    val approx = n.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        Sq8.intDot(col("queryq"), col("neighborq")).cast("double") /
          (col("queryqn") * col("neighborqn")))
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = approx
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select("query_id", "neighbor_id")
    // exact re-rank: float vectors re-attach by id — a candidate-set
    // join, never a second corpus scan
    val scored = cands
      .join(broadcast(prepped(queries, idCol, vecCol, "query")), "query_id")
      .join(prepped(emb, idCol, vecCol, "neighbor"), "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** IVF × SQ8 composed ANN — the standard vector-store architecture
    * (faiss `IVF<n>,SQ8`): IVF cells bound WHICH vectors each query
    * scores (`nProbe` of `nList`), SQ8 codes bound the BYTES each
    * scoring touches (64 B vs 256 B), and the exact float re-rank of
    * the k·refine survivors restores exact scores. At 100 TB the two
    * dials multiply: a 4/16-probe over int8 codes reads ~1/16th the
    * bytes of brute-force float scan. Composed from [[ivfBuild]] +
    * the [[graft.functions.Sq8]] kernels — no new machinery. */
  def knnIvfSq8(emb: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, k: Int, nList: Int = 16,
                nProbe: Int = 4, refine: Int = 4,
                seed: Long = 42L, knownN: Option[Long] = None): DataFrame = {
    val index = ivfBuild(emb, idCol, vecCol, nList, seed, knownN)
    knnIvfSq8Indexed(index, sq8Codes(index), idCol, vecCol, queries, k,
      nProbe, refine)
  }

  /** The SQ8 codes table of an IVF index — (cell, id, int8 codes,
    * code self-norm), the 64 B/vector artifact the candidate scan
    * reads instead of 256 B floats. Computed once per index build and
    * PERSISTABLE beside it (a pure function of the cell table, so a
    * saved codes parquet is exactly what a rebuild would produce):
    * at 100 TB of floats this is the ~25 TB table every search
    * scans, and recomputing it per query batch would be a full float
    * scan — the cost SQ8 exists to avoid. */
  def sq8Codes(index: IvfIndex): DataFrame = {
    import graft.functions.Sq8
    // same zero-norm guard as knnSq8: NaN quantized cosine would
    // outrank every real candidate (NaN sorts above all doubles)
    index.indexed.select(col("cell"), col("neighbor_id"),
      Sq8.encodeMaxAbs(col("neighborv")).as("nq"))
      .withColumn("nqn", sqrt(Sq8.intDot(col("nq"), col("nq")).cast("double")))
      .filter(col("nqn") > 0)
  }

  /** IVF×SQ8 search over a PREBUILT index + codes table — the
    * production (search-only) shape: centroids route, codes score,
    * floats re-rank; nothing is refit or re-encoded per batch. */
  def knnIvfSq8Indexed(index: IvfIndex, codes: DataFrame,
                       idCol: String, vecCol: String,
                       queries: DataFrame, k: Int,
                       nProbe: Int = 4, refine: Int = 4): DataFrame = {
    import graft.functions.Sq8
    val q = prepped(queries, idCol, vecCol, "query")
      .withColumn("qq", Sq8.encodeMaxAbs(col("queryv")))
      .withColumn("qqn", sqrt(Sq8.intDot(col("qq"), col("qq")).cast("double")))
      .filter(col("qqn") > 0)
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "qq", "qqn", "cell")
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = codes.join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        Sq8.intDot(col("qq"), col("nq")).cast("double") /
          (col("qqn") * col("nqn")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(broadcast(q.select("query_id", "queryv", "querynorm")), "query_id")
      .join(index.indexed.select("neighbor_id", "neighborv", "neighbornorm"),
        "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** PQ codebook-training sample bound — smaller than
    * [[ivfFitSampleCap]] because each subspace fits only `ks`
    * centroids over `d/m` dims: 16k points is ~1000× oversampled for
    * a 16-centroid fit, and the driver-local per-subspace Lloyd's is
    * O(cap·ks·iters·dsub). Same deterministic ppb-hash keep rule. */
  private[graft] val pqFitSampleCap = 16384L

  /** Train product-quantization codebooks (Jégou et al., TPAMI 2011;
    * see [[graft.functions.Pq]]): the corpus splits into `m`
    * subspaces, each fitted with `ks` centroids by the deterministic
    * driver-local Lloyd's ([[localKMeans]] — evenly-spaced init over
    * id order, fixed iterations) on a ≤[[pqFitSampleCap]] id-hash
    * sample. The collected sample is megabytes where the corpus is
    * terabytes; the returned flat codebook (`[(s·ks+j)·dsub+t]`,
    * m·ks·dsub doubles ≈ 8 KB at 64-dim/m8/ks16) broadcasts into the
    * encode/LUT expressions as a plan constant. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ks: Int = 256,
              knownN: Option[Long] = None): Array[Double] = {
    val prep = prepped(emb, idCol, vecCol, "neighbor")
    val n = knownN.getOrElse(Cardinality.rows(prep))
    val fit =
      if (n <= pqFitSampleCap) prep
      else prep.filter(pmod(xxhash64(col("neighbor_id")), lit(fitSampleModulus))
        < math.max(1L, pqFitSampleCap * fitSampleModulus / n))
    // ordered collect: localKMeans seeds from input order, so the fit
    // must present rows in a deterministic (id) order
    val pts = fit.select(col("neighbor_id"), col("neighborv"))
      .orderBy("neighbor_id").collect()
      .map(_.getSeq[Double](1).toArray)
    require(pts.nonEmpty, "pqTrain: empty corpus")
    val d = pts(0).length
    require(d % m == 0, s"pqTrain: dim $d not divisible by m=$m")
    require(pts.length >= ks,
      s"pqTrain: fit sample ${pts.length} smaller than ks=$ks")
    val dsub = d / m
    val cb = new Array[Double](m * ks * dsub)
    // the m subspace fits are INDEPENDENT deterministic Lloyd's runs
    // over disjoint coordinate slices — run them on parallel threads
    // (each writes a disjoint cb region; determinism is per-subspace,
    // so the result is bit-identical to the sequential loop). The
    // sequential r8 cut was ~2.7G single-threaded ops at the 16k-
    // sample/ks=256 sizing — most of the one-shot knn_ivf_pq row.
    // a worker Throwable must fail pqTrain LOUDLY: a swallowed fit
    // would leave an all-zeros subspace block in cb and surface only
    // as silently degraded recall later
    kmeansFits.incrementAndGet() // one PQ training pass (m subspaces)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val workers = (0 until m).map { s =>
      val t = new Thread(() => {
        val sub = pts.map(p =>
          java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
        val (centers, _) = localKMeans(sub, ks)
        var j = 0
        while (j < ks) {
          System.arraycopy(centers(j), 0, cb, (s * ks + j) * dsub, dsub)
          j += 1
        }
      })
      t.setUncaughtExceptionHandler((_, e) => failures.add(e))
      t
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    if (!failures.isEmpty) {
      val first = failures.peek()
      throw new IllegalStateException(
        s"pqTrain: ${failures.size} of $m subspace fits failed; first: $first",
        first)
    }
    cb
  }

  /** The PQ codes table of an IVF index — (cell, id, m-byte code,
    * EXACT float norm): the 8 B/vector artifact the candidate scan
    * reads instead of 256 B floats (vs SQ8's 64 B — PQ is the deeper
    * compression tier of the same build-once-scan-many design, and
    * like [[sq8Codes]] it is a pure function of (cell table,
    * codebook), so a persisted codes parquet is exactly what a
    * rebuild would produce). The exact norm rides along so ADC
    * approximation lives only in the dot numerator. */
  def pqCodes(index: IvfIndex, cb: Array[Double],
              m: Int = 8, ks: Int = 256): DataFrame =
    index.indexed.select(col("cell"), col("neighbor_id"),
      graft.functions.Pq.encode(col("neighborv"), m, ks,
        cb.toIndexedSeq).as("pcode"),
      col("neighbornorm"))
      .filter(col("neighbornorm") > 0) // zero vector: no direction, NaN cos

  /** IVF×PQ search over a PREBUILT index + codes table — faiss's
    * `IVF<n>,PQ<m>` production shape: centroids route (nProbe of
    * nList cells), the query builds one m·ks ADC table of exact
    * subvector dots ([[graft.functions.PqLutExpr]]), each candidate
    * code scores with m table lookups ([[graft.functions.PqAdcExpr]]
    * — approximate cos = ADC dot / (exact qnorm · exact nnorm)), and
    * the k·refine survivors re-rank on exact float cosine. At 100 TB
    * of float vectors the codes table is ~3 TB (32× compression) and
    * is the only per-query corpus-sized scan. */
  def knnIvfPqIndexed(index: IvfIndex, codes: DataFrame, cb: Array[Double],
                      idCol: String, vecCol: String, queries: DataFrame,
                      k: Int, m: Int = 8, ks: Int = 256,
                      nProbe: Int = 4, refine: Int = 16): DataFrame = {
    import graft.functions.Pq
    val q = prepped(queries, idCol, vecCol, "query")
      .withColumn("lut", Pq.lut(col("queryv"), m, ks, cb.toIndexedSeq))
      .filter(col("querynorm") > 0)
    val qCells = probedCells(index, q, nProbe)
      .select("query_id", "lut", "querynorm", "cell")
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = codes.join(broadcast(qCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        Pq.adc(col("pcode"), col("lut"), ks) /
          (col("querynorm") * col("neighbornorm")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(broadcast(q.select("query_id", "queryv", "querynorm")), "query_id")
      .join(index.indexed.select("neighbor_id", "neighborv", "neighbornorm"),
        "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Corpus-derived PQ refine pool: the probed set grows ~linearly
    * with n under the derived IVF params (≈ nProbe·n/nList ≈ 0.35·n),
    * so a FIXED refine must eventually lose ADC-misranked true
    * neighbors — measured: refine=16 holds 0.82/0.88 recall at
    * sf0.01/0.1 but drops to 0.68 at sf1 (probed ≈ 7k), while
    * refine=32 recovers 0.820 = plain IVF exactly and SATURATES
    * (64/128 identical — residual loss is all routing). The rule
    * `refine = max(16, ceil(√probed))` covers every measured point
    * with margin and keeps the exact re-rank at |Q|·k·√(0.35n) rows —
    * sub-linear against the linear code scan. Floor 16; same
    * IEEE-double arithmetic the oracle replays from COUNT(*). */
  def pqDerivedRefine(n: Long, p: IvfParams): Int =
    math.max(16,
      math.ceil(math.sqrt(p.nProbe.toDouble * n / p.nList)).toInt)

  /** One-shot IVF×PQ with corpus-derived cell sizing AND refine pool
    * — build, train, encode, search. PQ's ranking is coarser than
    * SQ8's, so the survivor pool is wider ([[pqDerivedRefine]] vs
    * SQ8's fixed 4) and the codebook is the faiss-default 8
    * bits/subspace (ks = 256 — ks = 16 measured recall 0.48 vs 0.88
    * at sf0.1): re-rank cost is |Q|·k·refine rows either way,
    * nothing corpus-sized. */
  def knnIvfPq(emb: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, k: Int, m: Int = 8, ks: Int = 256,
               refineOverride: Option[Int] = None,
               seed: Long = 42L): DataFrame = {
    val n = Cardinality.rows(emb)
    val p = ivfDerivedParams(n)
    val refine = refineOverride.getOrElse(pqDerivedRefine(n, p))
    val index = ivfBuild(emb, idCol, vecCol, p.nList, seed, knownN = Some(n))
    val cb = pqTrain(emb, idCol, vecCol, m, ks, knownN = Some(n))
    stamped(knnIvfPqIndexed(index, pqCodes(index, cb, m, ks), cb, idCol,
      vecCol, queries, k, m, ks, p.nProbe, refine),
      Route("knnIvfPq", Nil, "ivf_pq", ivf = Some(p)))
  }

  /** Spark `round(x, 6)` semantics on the driver (shortest-decimal
    * string route, HALF_UP) — the driver-side MMR arithmetic must
    * round exactly like the engine columns it mirrors. */
  private def round6d(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Greedy Maximal Marginal Relevance selection (Carbonell &
    * Goldstein 1998) — the diversity-aware re-ranker a retrieval
    * pipeline puts after ANN: from the `poolSize` most-relevant
    * candidates, greedily pick `k` maximizing
    * `λ·rel − (1−λ)·max_sim_to_selected`.
    *
    * Distributed shape: the corpus-sized work is the relevance scan +
    * TakeOrdered pool cut (same shape as [[knnBrute]] — at 100 TB the
    * pool would come from the ANN index instead, same contract); the
    * greedy loop runs driver-side over the ≤poolSize pool — an
    * inherently sequential argmax chain over a broadcast-sized set,
    * the [[localKMeans]] discipline. All cosines are 6-dp rounded
    * (engine `round` ≡ driver [[round6d]]) and the λ/μ weights are
    * the literals 0.7/0.3 (never `1 − λ`: that is a DIFFERENT double
    * than 0.3), so an SQL oracle replays every pick exactly. */
  def mmrSelect(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int = 5, poolSize: Int = 20,
                lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val spark = emb.sparkSession
    val p = prepped(emb, idCol, vecCol, "neighbor")
    val q = p.filter(col("neighbor_id") === queryId)
      .select(col("neighborv").as("qv"), col("neighbornorm").as("qn"))
    val pool = p.filter(col("neighbor_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("neighbor_id").as("id"),
        round(graft.functions.ArrayDot(col("qv"), col("neighborv")) /
          (col("qn") * col("neighbornorm")), 6).as("rel"),
        col("neighborv").as("v"))
      .orderBy(col("rel").desc, col("id").asc).limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      round6d(ab / (math.sqrt(aa) * math.sqrt(bb)))
    }
    var selected = Vector.empty[(Int, Long, Double, Double)] // rank, id, rel, score
    var selVecs = Vector.empty[Array[Double]]
    var remaining = pool.toVector
    for (r <- 1 to math.min(k, pool.length)) {
      val scored = remaining.map { case (id, rel, v) =>
        val score =
          if (selVecs.isEmpty) lambda * rel
          else lambda * rel - mu * selVecs.map(s => cos6(v, s)).max
        (id, rel, v, score)
      }
      val pick = scored.minBy { case (id, _, _, score) => (-score, id) }
      selected :+= ((r, pick._1, pick._2, round6d(pick._4)))
      selVecs :+= pick._3
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    import spark.implicits._
    selected.toDF("rank", "vec_id", "rel", "score")
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): KMeans-partition the corpus into `nClusters`
    * cells (reusing the IVF build — clusters ARE an inverted file),
    * then verify exact cosine only WITHIN each cell. Work is
    * O(Σ cellᵢ²) instead of O(n²) — with balanced cells that is n²/k,
    * and at 100 TB the cell self-join co-partitions on the cell id so
    * no pair ever crosses executors. Recall < 1 by construction
    * (cross-cluster duplicates are unseen — the paper's own trade);
    * every returned pair carries its EXACT cosine. */
  /** The gate-certified cluster-count rule: cells of ~1250 vectors
    * (floor 8, UNBOUNDED above) — the measured recall floor at
    * threshold 0.4 (see ScaleQueries.dedupSemantic). ONE definition
    * shared by the gate query and both probes, so recalibrating the
    * rule can never silently diverge the certified config from the
    * measured one.
    *
    * k must keep growing with n: a capped k lets per-cell population
    * grow as n/k_max and the O(n²/k·probes²) pair law go quadratic
    * again — the r7 soak measured exactly that (the old [8,64] clamp
    * bound at n > 80k). What bounds the COST of a large k instead:
    * the KMeans fit runs on a ≤[[ivfFitSampleCap]] deterministic
    * sample, and per-vector cell routing goes two-level above
    * [[twoLevelCellThreshold]] (O(√k·d), see
    * [[probedCellsFromCenters]]) — so build is O(n·√k·d) and the
    * pair stage is O(n·1250·probes²), both sub-quadratic at any
    * corpus size. Int.MaxValue ceiling is a type bound, not a policy
    * (binds at n ≈ 2.7×10¹². */
  def semDedupDerivedK(n: Long): Int =
    math.max(8L, math.min(Int.MaxValue.toLong, n / 1250L)).toInt

  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nClusters: Int = 16,
                    assignProbes: Int = 2, seed: Long = 42L,
                    knownN: Option[Long] = None): DataFrame =
    semDedupPairsIndexed(
      ivfBuild(emb, idCol, vecCol, nClusters, seed, knownN),
      threshold, assignProbes)

  /** [[semDedupPairs]] over an ALREADY-BUILT cluster index — the
    * KMeans fit is the dominant fixed cost of SemDeDup and is a pure
    * function of (corpus, k, seed), so a repeated run (the bench's
    * warm reps, a nightly re-dedup over an unchanged base corpus)
    * should load it, not refit. Pairs with the gate's
    * `ivfLoadOrBuild` memo exactly as `knn_ivf_prebuilt` does. */
  def semDedupPairsIndexed(index: IvfIndex, threshold: Double,
                           assignProbes: Int = 2): DataFrame = {
    // multi-probe assignment: each vector belongs to its `assignProbes`
    // nearest cells, not just the winner — a pair split by a cluster
    // boundary still meets in one of the overlap cells (hard
    // assignment loses exactly the boundary-straddling duplicates;
    // measured pair recall at threshold 0.4 on the harness corpus:
    // 0.27–0.53 hard vs ≥0.9 with 2 probes). Cost multiplies by
    // probes², still O(n²/k) per cell pair set.
    val base = index.indexed
      .select(col("neighbor_id"), col("neighborv"), col("neighbornorm"))
      .localCheckpoint(eager = false) // feeds assignment + the join sides
    val assigned = probedCells(index,
      base.select(col("neighbor_id").as("query_id"),
        col("neighborv").as("queryv"), col("neighbornorm").as("querynorm")),
      nProbe = assignProbes)
      .select(col("cell"), col("query_id").as("id"))
      .localCheckpoint(eager = false)
    // CARRY-THROUGH self-join (r9 — the decisive scale fix of this
    // operator): each side of the per-cell self-join carries its
    // vector, norm and (tiny, sorted) probe-cell array, so the
    // n²·probes²/(2k)-row candidate stream is generated, exact-
    // scored and threshold-killed INSIDE one join stage and never
    // crosses a stage boundary. The round-8 cut joined bare id pairs
    // back to the vector table afterwards — at the 20k-vector soak
    // that re-joined ~10⁸ id pairs through two corpus joins (the
    // checkpointed base defeats broadcast: unknown stats → sort-merge
    // — two full sorts OF THE CANDIDATE SET), which is where 100+ of
    // its 121 s went. Carried side rows are n·probes × ~300 B —
    // linear, trivially shuffled; the quadratic term now exists only
    // as codegen-pipelined rows inside the join task.
    // Filter order matters: the exact-cosine kill runs FIRST (a
    // codegen 64-FMA dot that drops ~all candidates at any sane τ);
    // the min-shared-cell uniqueness rule — pairs meeting in up to
    // `assignProbes` shared cells are emitted only from the smallest
    // shared cell id, replacing a candidate-table-wide distinct()
    // with a per-row array intersect — allocates per evaluation, so
    // it runs on threshold survivors only (same pair set either
    // order: both predicates are deterministic per row).
    // At 100 TB the same argument holds a fortiori: the only
    // corpus-sized shuffles are the two linear ones (assignment,
    // cell-set aggregation); nothing candidate-sized moves.
    val cellSets = assigned.groupBy("id")
      .agg(sort_array(collect_list(col("cell"))).as("cells"))
    val withVecs = assigned.join(cellSets, "id")
      .join(base.select(col("neighbor_id").as("id"), col("neighborv"),
        col("neighbornorm")), "id")
      .localCheckpoint(eager = false) // feeds both sides of the join
    // SLICED join keys: with k cells the quadratic in-join work would
    // run on at most k tasks (at the sf1 soak: 16 of 32 cores busy) —
    // slice the a-side deterministically by id hash and replicate the
    // b-side once per slice, so the join fans out over k·S keys. The
    // pair set is untouched (each (a,b) meets in exactly one
    // (cell, slice)); the price is an S× replication of the LINEAR
    // b-side shuffle, bought against parallelism on the QUADRATIC
    // stage. (The r8 triangle-salting rejection measured the old
    // bare-id shape, where the join stage was not the bottleneck.)
    val slices = math.max(1, math.min(8,
      index.indexed.sparkSession.sparkContext.defaultParallelism * 2 /
        math.max(1, index.model.clusterCenters.length)))
    val aSide = withVecs.select(col("cell"), col("id").as("a_id"),
      col("cells").as("a_cells"), col("neighborv").as("av"),
      col("neighbornorm").as("anorm"),
      pmod(xxhash64(col("id")), lit(slices)).as("slice"))
    val bSide = withVecs.select(col("cell"), col("id").as("b_id"),
      col("cells").as("b_cells"), col("neighborv").as("bv"),
      col("neighbornorm").as("bnorm"))
      .crossJoin(broadcast(
        index.indexed.sparkSession.range(slices).select(
          col("id").cast("long").as("slice"))))
    aSide.join(bSide, Seq("cell", "slice"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", pairCos("a", "b"))
      .filter(col("cos") >= threshold &&
        col("cell") === array_min(array_intersect(col("a_cells"),
          col("b_cells"))))
      .select(col("a_id").as("a"), col("b_id").as("b"), col("cos"))
  }

  /** The keep-list half of SemDeDup, reusable on an already-computed
    * pair set: connected components over the duplicate pairs, keep the
    * min-id representative of every group plus all unpaired docs.
    * Split out so a caller holding the pairs (e.g. the certification
    * query, which inspects them too) never pays the KMeans build and
    * pair search twice. */
  def keepFromPairs(emb: DataFrame, idCol: String,
                    pairs: DataFrame): DataFrame = {
    val dropped = graft.operators.ConnectedComponents
      .components(pairs, "a", "b")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    emb.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Full SemDeDup: semantic pairs → connected components → keep the
    * min-id representative of every duplicate group. Returns the ids
    * that SURVIVE dedup (the training-set "keep" list). Exposes the
    * same knobs as [[semDedupPairs]] so a production caller can run
    * exactly the gate-certified configuration. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nClusters: Int = 16,
               assignProbes: Int = 2, seed: Long = 42L): DataFrame =
    keepFromPairs(emb, idCol,
      semDedupPairs(emb, idCol, vecCol, threshold, nClusters, assignProbes,
        seed))

  /** INCREMENTAL SemDeDup — the daily-increment production path for
    * embedding dedup, composing the two existing primitives exactly
    * as [[Dedup.exactJaccardPairsIncremental]] composes the text
    * ones: the base corpus's FROZEN cluster index ([[ivfAddBatch]]'s
    * ingest discipline — no refit per batch) prunes the pair search,
    * and only pairs TOUCHING the batch are emitted. Returns the
    * (a < b, cos) pairs of [[semDedupPairsIndexed]] run over
    * base ∪ batch with the same frozen centroids, RESTRICTED to pairs
    * with ≥ 1 batch endpoint — exact restriction equality, because
    * cell assignment is a pure function of (model, vector) and the
    * min-shared-cell emission rule is symmetric per pair
    * (SimilaritySpec pins the equality).
    *
    * Scale shape: the linear passes (batch assignment; the corpus
    * side's cell-set lookup) are unavoidable state maintenance, but
    * the QUADRATIC stage is batch-bounded — the a-side of the cell
    * self-join holds batch rows only, so candidate fan-out is
    * |batch| · occupancy · probes², never corpus². A re-ingested id
    * present in both base and batch takes the batch version (the
    * stale base row drops — same guard as the text operator). */
  def semDedupPairsIncremental(baseIndex: IvfIndex, batch: DataFrame,
                               idCol: String, vecCol: String,
                               threshold: Double,
                               assignProbes: Int = 2): DataFrame = {
    val batchP = prepped(batch, idCol, vecCol, "neighbor")
    val baseClean = baseIndex.indexed
      .select(col("neighbor_id"), col("neighborv"), col("neighbornorm"))
      .join(batchP.select(col("neighbor_id")), Seq("neighbor_id"),
        "left_anti")
    val all = baseClean.withColumn("is_new", lit(false))
      .unionByName(batchP
        .select(col("neighbor_id"), col("neighborv"), col("neighbornorm"))
        .withColumn("is_new", lit(true)))
      .localCheckpoint(eager = false) // feeds assignment + both join sides
    val assigned = probedCells(baseIndex,
      all.select(col("neighbor_id").as("query_id"),
        col("neighborv").as("queryv"), col("neighbornorm").as("querynorm")),
      nProbe = assignProbes)
      .select(col("cell"), col("query_id").as("id"))
      .localCheckpoint(eager = false) // feeds cell-sets + the join rows
    val cellSets = assigned.groupBy("id")
      .agg(sort_array(collect_list(col("cell"))).as("cells"))
    val withVecs = assigned.join(cellSets, "id")
      .join(all.select(col("neighbor_id").as("id"), col("is_new"),
        col("neighborv"), col("neighbornorm")), "id")
      .localCheckpoint(eager = false) // feeds both sides of the join
    // a-side: BATCH rows only — the join's key set is therefore
    // exactly the batch-touched cells, which bounds the b-side fan-in
    // without an explicit semi-join
    val aSide = withVecs.filter(col("is_new"))
      .select(col("cell"), col("id").as("a_id"), col("cells").as("a_cells"),
        col("neighborv").as("av"), col("neighbornorm").as("anorm"))
    val bSide = withVecs.select(col("cell"), col("id").as("b_id"),
      col("is_new").as("b_new"), col("cells").as("b_cells"),
      col("neighborv").as("bv"), col("neighbornorm").as("bnorm"))
    aSide.join(bSide, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      // batch-batch pairs appear in both orientations — emit once;
      // batch-base pairs appear once (a = the batch side) regardless
      // of id order
      .filter(!col("b_new") || col("a_id") < col("b_id"))
      .withColumn("cos", pairCos("a", "b"))
      .filter(col("cos") >= threshold &&
        col("cell") === array_min(array_intersect(col("a_cells"),
          col("b_cells"))))
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"), col("cos"))
  }

  /** ANN top-k via multi-table hyperplane LSH: a neighbor is a
    * candidate if ANY of `numTables` independent plane sets buckets
    * it with the query (single-table recall at moderate cosine is
    * poor — per-table collision is (1−θ/π)^planes; tables union it
    * up toward 1). One corpus pass computes all table buckets
    * (exploded), candidates dedup on bare ids, and every candidate
    * is scored with the exact cosine — returned scores are exact,
    * only the candidate set is approximate.
    *
    * `private[graft]` for the same reason as [[nearDupPairsLsh]]:
    * library callers size via [[knnLshDerived]]. */
  /** All non-zero XOR probe masks within Hamming distance `depth` of
    * a bucket, weight-ascending (weight-1 masks in bit order first —
    * the legacy depth-1 list — then weight-2, …). Driver-side: the
    * mask list is query-plan metadata, Σ C(planes,w) literals. */
  private[graft] def lshProbeMasks(planes: Int, depth: Int): Seq[Long] =
    (1 to math.min(depth, planes)).flatMap(w =>
      (0 until planes).combinations(w).map(
        _.foldLeft(0L)((m, b) => m | (1L << b))))

  private[graft] def knnLsh(emb: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, k: Int, dim: Int,
             numPlanes: Int = 4, numTables: Int = 8,
             multiProbe: Boolean = false, probeDepth: Int = 1): DataFrame = {
    // every table's bucket in ONE codegen pass ([[graft.functions.Lsh]]
    // — bit-identical to the legacy per-table HOF columns, which were
    // interpreted and re-ran per table: most of knn_lsh's sf1 cost)
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), posexplode(
          graft.functions.Lsh.buckets(col(vec), numTables, numPlanes, dim)))
        .toDF(id, "table", "bucket")
    // Hamming-radius-`probeDepth` multi-probe (QUERY side only — the
    // corpus keeps one bucket per table): each query also probes
    // every bucket within `probeDepth` flipped planes. The per-table
    // bucket is computed ONCE into a column, then the probe variants
    // are plain XORs of it.
    def withProbeBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), posexplode(
          graft.functions.Lsh.buckets(col(vec), numTables, numPlanes, dim)))
        .toDF(id, "table", "b")
        .select(col(id), col("table"),
          explode(array(col("b") +: lshProbeMasks(numPlanes, probeDepth)
            .map(m => col("b").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val n = prepped(emb, idCol, vecCol, "neighbor")
    val q = prepped(queries, idCol, vecCol, "query")
    val qBuckets =
      if (multiProbe) withProbeBuckets(q, "query_id", "queryv")
      else withBuckets(q, "query_id", "queryv")
    val cands = withBuckets(n, "neighbor_id", "neighborv")
      .join(broadcast(qBuckets), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cands
      .join(broadcast(q), "query_id")
      .join(n, "neighbor_id")
      .withColumn("cos", pairCos("query", "neighbor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
