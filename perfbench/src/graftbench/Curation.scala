package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.scaleops.{Dedup, Similarity, TextAnalysis}

/** `curation`: an LLM-data curation pass over a corpus with a planted
  * near-duplicate share. Reads: text quality and language id (direct,
  * and as the registered `text_quality` row), exact dedup (registered
  * `dedup_exact`), MinHash and PPJoin near-dup detection, connected
  * components, vector near-dup pairs at two thresholds (the router
  * takes LSH at the high one and brute force at the low one), a kNN
  * query batch against the standing IVF index that set-up builds, and
  * the registered AvailableNow `stream_neardup_counts` row. Writes:
  * each pass appends one batch through `ivfAddBatch`, incremental dedup
  * and the `Sinks` writers. Every pass starts from the same standing
  * state, so passes do identical work. */
final class Curation(data: String) extends Workload {
  private val indexDir = "target/ivf_index"
  private val appendDir = "target/append"
  private val k = 10
  /** Expected query batches over the index's life: with 500 indexed
    * vectors and 50 queries the router takes IVF from reuse 3. */
  private val reuse = 10L
  private val dim = 64
  private val lshTau = 0.9
  private val bruteTau = 0.5
  /** LSH must forecast this many times fewer candidates than brute
    * force. The router's default (3) takes LSH only from ~8k vectors;
    * 1.5 moves that boundary inside this corpus (2.5k-4k vectors: LSH
    * forecasts 2x fewer at tau 0.9, 1.33x at tau 0.5), so both routes
    * run without a corpus that would not fit the run's time budget. */
  private val minAdvantage = 1.5

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var knnCorpus: DataFrame = _
  private var queries: DataFrame = _
  private var appendDocs: DataFrame = _
  private var appendEmb: DataFrame = _
  private var index: Similarity.IvfIndex = _
  private var nEmb = 0L
  private var nIndex = 0L
  private var nQueries = 0L
  private var docTruth: Set[(Long, Long)] = Set.empty
  private var embTruth: Set[(Long, Long)] = Set.empty
  private var appendTruth: Set[(Long, Long)] = Set.empty
  private var knnTruth: Map[Long, Set[Long]] = Map.empty

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      (math.min(a, b), math.max(a, b))
    }.toSet

  private def recall(found: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else truth.count(found).toDouble / truth.size

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rmTree)
    f.delete()
  }

  /** Bytes of a written parquet artifact's part files. */
  private def artifactBytes(dir: String): Double =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).map(_.length).sum.toDouble

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def read(n: String) = spark.read.parquet(s"$data/$n.parquet")
    docs = read("documents")
    emb = read("embeddings")
    knnCorpus = read("index_emb")
    queries = read("queries")
    appendDocs = read("append_docs")
    appendEmb = read("append_emb")
    // the standing index: built into an empty memo directory, then
    // served from it; timed passes never pay a first-pass build
    rmTree(new java.io.File(indexDir))
    Similarity.knnAuto(knnCorpus, "vec_id", "embedding", queries, k, reuse,
      indexDir = Some(indexDir)).collect()
    index = Similarity.ivfLoad(spark, indexDir)
    nEmb = emb.count()
    nIndex = knnCorpus.count()
    nQueries = queries.count()
  }

  /** Ground truth for the output checks, computed once and untimed. */
  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def truth(n: String) = pairSet(spark.read.parquet(s"$data/$n.parquet").collect())
    docTruth = truth("doc_truth")
    embTruth = truth("emb_truth")
    appendTruth = truth("append_truth")
    knnTruth = Similarity.knnBrute(knnCorpus, "vec_id", "embedding", queries, k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  def pass(ctx: Ctx): Unit = {
    import ctx.{check, count, op, span}
    val spark = ctx.spark
    import spark.implicits._
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    op("scaleops", "quality_langid") {
      noop(docs.select(col("doc_id") +:
        TextAnalysis.qualityColumns(col("text")).map { case (n, c) => c.as(n) } :+
        TextAnalysis.langId(col("text")).as("lang_id"): _*))
    }(_ => ())

    Registered.run(ctx, "queries", "text_quality")
    Registered.run(ctx, "queries", "dedup_exact")

    op("scaleops", "minhash_dedup") {
      Dedup.minHashNearDups(docs, "doc_id", "text").collect()
    } { rows =>
      val r = recall(pairSet(rows), docTruth)
      check(r >= 0.9, s"MinHash recall $r < 0.9")
    }

    val ppPairs = op("scaleops", "ppjoin_dedup") {
      Dedup.exactJaccardPairs(docs, "doc_id", "text").collect()
    } { rows =>
      val r = recall(pairSet(rows), docTruth)
      check(r == 1.0, s"PPJoin (exact) recall $r < 1")
    }

    ppPairs.foreach { rows =>
      val edges = pairSet(rows).toSeq.toDF("a", "b")
      op("operators", "connected_components") {
        graft.operators.ConnectedComponents.components(edges, "a", "b").collect()
      } { comps =>
        val comp = comps.map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
        check(docTruth.forall { case (a, b) => comp.get(a).exists(comp.get(b).contains) },
          "a planted pair is split across components")
      }
    }

    def nearDup(name: String, tau: Double, floor: Double): Unit = {
      var lsh = false
      op("scaleops", name) {
        val df = Similarity.nearDupPairsAuto(emb, "vec_id", "embedding", tau, dim,
          minAdvantage = minAdvantage)
        lsh = Similarity.lshRoutedOf(df).contains(true)
        df.collect()
      } { rows =>
        val r = recall(pairSet(rows), embTruth)
        check(r >= floor, s"$name recall $r < $floor")
        if (lsh) ctx.record("dup_recall", r)
        val cands =
          if (lsh) Similarity.lshPredictedCandidates(nEmb,
            Similarity.lshDerivedParams(nEmb, tau, 512L, 0.85))
          else nEmb * (nEmb - 1) / 2.0
        count(if (lsh) "scaleops.route.lsh" else "scaleops.route.brute", 1)
        count("scaleops.candidates", cands)
        count("scaleops.results", rows.length)
      }
    }
    nearDup("near_dup_lsh", lshTau, 0.85)
    nearDup("near_dup_brute", bruteTau, 1.0)

    var route = -1
    var probe = Option.empty[Similarity.IvfParams]
    op("scaleops", "knn_auto") {
      val df = Similarity.knnAuto(knnCorpus, "vec_id", "embedding", queries, k,
        reuse, indexDir = Some(indexDir))
      route = Similarity.knnRouteOf(df).getOrElse(-1)
      probe = Similarity.ivfParamsOf(df)
      df.select("query_id", "neighbor_id").collect()
    } { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = knnTruth.map { case (q, t) => (t intersect got.getOrElse(q, Set.empty)).size }.sum
      val r = hits.toDouble / knnTruth.values.map(_.size).sum
      check(r >= 0.8, s"kNN recall vs brute $r < 0.8")
      ctx.record("knn_recall", r)
      val name = route match {
        case 0 => "brute"; case 1 => "ivf"; case 2 => "ivf_pq"; case _ => "unknown"
      }
      count(s"scaleops.route.$name", 1)
      val cands = (route, probe) match {
        case (0, _) | (_, None) => nQueries.toDouble * nIndex
        case (_, Some(p)) => nQueries.toDouble * p.nProbe * nIndex / p.nList
      }
      count("scaleops.candidates", cands)
      count("scaleops.results", rows.length)
    }

    // write path: every pass appends the same batch to the standing
    // state and writes the result over the previous pass's artifact
    op("sources", "append_index") {
      val grown = span("scaleops", "ivfAddBatch")(
        Similarity.ivfAddBatch(index, appendEmb, "vec_id", "embedding"))
      graft.sources.Sinks.writeScanSized(grown.indexed, s"$appendDir/cells")
    } { _ =>
      val n = spark.read.parquet(s"$appendDir/cells").count()
      check(n == nIndex + appendEmb.count(), s"appended index has $n rows")
      count("sources.artifact_bytes", artifactBytes(s"$appendDir/cells"))
    }

    val newPairs = op("scaleops", "append_dedup") {
      Dedup.exactJaccardPairsIncremental(docs, appendDocs, "doc_id", "text").collect()
    } { rows =>
      val ps = pairSet(rows)
      check(ps.forall { case (a, b) => a >= 10000000L || b >= 10000000L },
        "incremental pair without a batch document")
      val r = recall(ps, appendTruth)
      check(r == 1.0, s"incremental dedup recall $r < 1")
    }

    newPairs.foreach { rows =>
      val drop = pairSet(rows).map(_._2).toSeq.toDF("doc_id")
      op("sources", "append_write") {
        graft.sources.Sinks.writeParquet(
          appendDocs.join(drop, Seq("doc_id"), "left_anti"), s"$appendDir/docs")
      } { _ =>
        val n = spark.read.parquet(s"$appendDir/docs").count()
        check(n > 0 && n < appendDocs.count(), s"append wrote $n documents")
        count("sources.artifact_bytes", artifactBytes(s"$appendDir/docs"))
      }
    }

    Registered.run(ctx, "streaming", "stream_neardup_counts")
  }
}
