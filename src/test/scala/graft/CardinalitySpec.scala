package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.scaleops.Similarity
import graft.sources.Cardinality

/** `Cardinality.rows`: footer row counts for plain parquet scans, a
  * `count()` for everything else; and the job-count witness of the
  * routers and the resident IVF model that rely on it. */
class CardinalitySpec extends SparkSpec {
  import spark.implicits._

  private val label = "graft.spec.jobs"

  /** `body`'s result and the Spark jobs it launched. Listener events
    * arrive asynchronously but in order, so a sentinel job marks the
    * point by which every job of `body` has been seen. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty(label)).orNull match {
          case null => "-"
          case v => v
        })
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(label, "body")
      val out = try body finally sc.setLocalProperty(label, null)
      sc.setLocalProperty(label, "sentinel")
      try sc.parallelize(1 to 2).count()
      finally sc.setLocalProperty(label, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("sentinel"))
      (out, seen.toArray.count(_ == "body"))
    } finally sc.removeSparkListener(listener)
  }

  private def ids(n: Int) = (0L until n.toLong).toDF("id")

  private def written(df: DataFrame, name: String): String = {
    val p = tempDir("graft-card").resolve(name).toString
    df.write.parquet(p)
    p
  }

  /** rows(df) from the footers, with no job, equal to count(). */
  private def footerAnswers(df: DataFrame): Unit = {
    val (rows, jobs) = jobsIn(Cardinality.rows(df))
    assert(jobs == 0, s"rows launched $jobs jobs")
    assert(Cardinality.footerRows(df).contains(rows))
    assert(rows == df.count())
  }

  /** rows(df) falls back to count(): it launches a job and agrees. */
  private def fallsBack(df: DataFrame): Unit = {
    assert(Cardinality.footerRows(df).isEmpty)
    val (rows, jobs) = jobsIn(Cardinality.rows(df))
    assert(jobs >= 1)
    assert(rows == df.count())
  }

  test("rows reads the footers of a plain parquet scan") {
    footerAnswers(spark.read.parquet(written(ids(37).coalesce(1), "one")))
    val multi = spark.read.parquet(written(ids(1000).repartition(5), "multi"))
    assert(multi.inputFiles.length == 5)
    footerAnswers(multi)
    footerAnswers(spark.read.parquet(written(ids(0), "zero")))
    val emptyDir = tempDir("graft-card-empty").toString
    footerAnswers(spark.read.schema(StructType(Seq(
      StructField("id", LongType)))).parquet(emptyDir))
    footerAnswers(multi.select(col("id") * 2).withColumn("x", lit(1)))
    footerAnswers(multi.as("m").select("m.id"))
    val byKey = tempDir("graft-card-part").resolve("t").toString
    ids(500).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(byKey)
    footerAnswers(spark.read.parquet(byKey))
  }

  test("rows counts a filter, limit, join, a scan over the listing " +
    "threshold, and a scan that ignores corrupt or missing files") {
    val scan = spark.read.parquet(written(ids(300).repartition(3), "base"))
    fallsBack(scan.filter(col("id") > 10))
    fallsBack(scan.limit(7))
    fallsBack(scan.join(scan.select(col("id").as("id2")),
      col("id") === col("id2")))
    val threshold = spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val many = spark.read.parquet(
      written(ids(20 * (threshold + 1)).repartition(threshold + 1), "many"))
    assert(many.inputFiles.length > threshold)
    fallsBack(many)
    val path = written(ids(50), "ignoring")
    Seq("ignoreCorruptFiles", "ignoreMissingFiles").foreach { k =>
      fallsBack(spark.read.option(k, "true").parquet(path))
      spark.conf.set(s"spark.sql.files.$k", "true")
      try fallsBack(spark.read.parquet(path))
      finally spark.conf.unset(s"spark.sql.files.$k")
    }
  }

  private def vectors(n: Int, seed: Long, dim: Int = 16): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("job witness: nearDupPairsAuto's prelude launches no job") {
    val emb = spark.read.parquet(written(vectors(400, 3L), "emb"))
    val (df, jobs) = jobsIn(Similarity.nearDupPairsAuto(emb, "vec_id",
      "embedding", 0.9, 16))
    assert(jobs == 0)
    assert(Similarity.routeOf(df).nonEmpty)
  }

  test("job witness: a second knnAuto call on the same indexDir runs " +
    "only its dim probe before the search; a rebuilt memo is never " +
    "served the old model") {
    val corpus = spark.read.parquet(written(vectors(500, 5L), "corpus"))
    val queries = spark.read.parquet(written(
      vectors(500, 5L).filter(col("vec_id") < 50), "queries"))
    val dir = tempDir("graft-card-ivf").resolve("index").toString
    def knn(emb: DataFrame, q: DataFrame, d: String) =
      Similarity.knnAuto(emb, "vec_id", "embedding", q, 5, reuse = 10L,
        indexDir = Some(d))
    def rows(df: DataFrame) = df.select("query_id", "neighbor_id", "cos")
      .collect().map(_.toSeq).toSet

    val (first, firstJobs) = jobsIn(knn(corpus, queries, dir))
    assert(Similarity.routeOf(first).map(_.chosen).contains("ivf"))
    val firstRows = rows(first)
    val (_, dimJobs) = jobsIn(corpus.select(size(col("embedding"))).head())
    val (second, secondJobs) = jobsIn(knn(corpus, queries, dir))
    assert(secondJobs == dimJobs,
      s"second call: $secondJobs jobs, the dim probe alone: $dimJobs")
    assert(firstJobs > secondJobs)
    assert(rows(second) == firstRows)

    // a different corpus size is a different stamp: the memo rebuilds
    // and the search uses the new model, as a fresh dir would
    val grown = spark.read.parquet(written(vectors(700, 9L), "grown"))
    val rebuilt = rows(knn(grown, queries, dir))
    val reference = rows(knn(grown, queries,
      tempDir("graft-card-ivf2").resolve("index").toString))
    assert(rebuilt == reference)
    assert(rebuilt != firstRows)
  }

  test("ivfLoadResident: a fresh memo is served the resident model, a " +
    "rebuilt one is reloaded") {
    val dir = tempDir("graft-card-res").resolve("index").toString
    val a = Similarity.ivfBuild(vectors(200, 1L), "vec_id", "embedding", 4)
    val b = Similarity.ivfBuild(vectors(200, 2L), "vec_id", "embedding", 4)
    def centers(i: Similarity.IvfIndex) =
      i.model.clusterCenters.map(_.toArray.toSeq).toSeq
    Similarity.ivfSave(a, dir)
    val loaded = Similarity.ivfLoadResident(spark, dir, "s1", fresh = false)
    assert(centers(loaded) == centers(a))
    val (hit, jobs) = jobsIn(
      Similarity.ivfLoadResident(spark, dir, "s1", fresh = true))
    assert(jobs == 0)
    assert(hit.model eq loaded.model)
    assert(hit.indexed.schema == loaded.indexed.schema)
    assert(hit.indexed.count() == 200L)

    graft.sources.Artifacts.deleteRecursively(java.nio.file.Paths.get(dir))
    Similarity.ivfSave(b, dir)
    assert(centers(Similarity.ivfLoadResident(spark, dir, "s2",
      fresh = false)) == centers(b))
    // same stamp, but the memo was rebuilt: reloaded, not served
    assert(centers(Similarity.ivfLoadResident(spark, dir, "s1",
      fresh = false)) == centers(b))
    assert(centers(Similarity.ivfLoadResident(spark, dir, "s1",
      fresh = true)) == centers(b))
  }
}
