package graft

import org.apache.spark.sql.functions._
import graft.functions.KllSketch
import graft.scaleops.{Similarity, TrainingData}
import graft.streaming.EventsStream

/** Pins the r5 hardening fixes (ADVICE r4 + VERDICT r4 #6): KLL
  * sketch input validation, PII pattern boundaries, SQ8 zero-norm
  * guard, mixture-sampling sign totality, the state-partition
  * derivation rule, the one place a session conf is set, the one
  * memo stamp protocol, and footer row counts for the routers. */
class HardeningSpec extends SparkSpec {

  private val mainRoot = new java.io.File("src/main/scala/graft")
  private def rel(f: java.io.File): String =
    mainRoot.toPath.relativize(f.toPath).toString
  private def scalaFiles(d: java.io.File): Seq[java.io.File] = {
    assert(d.isDirectory, s"run from the repository root: $d")
    d.listFiles.toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
  }

  import spark.implicits._

  // ---- KLL sketch deserialization ----------------------------------------

  test("kll deserialize round-trips and validates header") {
    val st = new KllSketch.State()
    (1 to 1000).foreach(i => st.update(i.toDouble, 64, 42L))
    val bytes = st.serialize(64)
    val back = KllSketch.deserialize(bytes, expectK = 64)
    assert(back.n == 1000L)
    assert(math.abs(back.quantile(0.5) - 500.0) <= 50.0)
  }

  test("kll deserialize rejects garbage, truncation, and k mismatch") {
    val garbage = Array.fill[Byte](64)(0x5A)
    val eGarbage = intercept[IllegalArgumentException] {
      KllSketch.deserialize(garbage)
    }
    assert(eGarbage.getMessage.contains("kll sketch"))

    intercept[IllegalArgumentException] { KllSketch.deserialize(Array[Byte](1, 2, 3)) }
    intercept[IllegalArgumentException] { KllSketch.deserialize(null) }

    val st = new KllSketch.State()
    (1 to 100).foreach(i => st.update(i.toDouble, 16, 42L))
    val k16 = st.serialize(16)
    // truncated body: valid header, missing level payload
    intercept[IllegalArgumentException] {
      KllSketch.deserialize(k16.take(k16.length - 9))
    }
    val eK = intercept[IllegalArgumentException] {
      KllSketch.deserialize(k16, expectK = 256)
    }
    assert(eK.getMessage.contains("different k"))
    // no expectation → any valid k accepted (the read-only scalar path)
    assert(KllSketch.deserialize(k16).n == 100L)
  }

  test("kll_quantile on hostile BINARY fails with the clear message") {
    val e = intercept[Exception] {
      Seq(Array.fill[Byte](32)(7)).toDF("sk")
        .select(KllSketch.quantileOf(col("sk"), 0.5)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("kll sketch")), chain(e).mkString(" | "))
  }

  // ---- PII pattern boundaries --------------------------------------------

  test("pii patterns respect word boundaries and octet ranges") {
    val cases = Seq(
      // (input, expected after redaction)
      ("ping 192.168.1.77 now", "ping <IP> now"),
      ("version v1.2.3.4 released", "version v1.2.3.4 released"),
      ("at 999.1.2.3 mark", "at 999.1.2.3 mark"),
      ("edge 255.255.255.255 ok", "edge <IP> ok"),
      ("call 555-123-4567 now", "call <PHONE> now"),
      ("id 555-123-4567x is not a phone", "id 555-123-4567x is not a phone"),
      ("card 4111 1111 1111 1111.", "card <CARD>."),
      ("sn x4111 1111 1111 1111", "sn x4111 1111 1111 1111"),
      ("mail a.b+c@example.org end", "mail <EMAIL> end"))
    val got = cases.map(_._1).toDF("text")
      .select(TrainingData.piiRedact(col("text")).as("r"))
      .as[String].collect()
    cases.zip(got).foreach { case ((in, want), r) =>
      assert(r == want, s"input: $in")
    }
  }

  // ---- SQ8 zero-norm guard -----------------------------------------------

  test("knnSq8 never surfaces zero-norm vectors or NaN scores") {
    val dim = 8
    val rows = (1 to 20).map { i =>
      val v = Array.tabulate(dim)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)
      (i.toLong, v)
    } :+ (99L, Array.fill(dim)(0f)) // degenerate row
    val emb = rows.toDF("id", "emb")
    val res = Similarity.knnSq8(emb, "id", "emb",
      emb.filter(col("id") <= 3), k = 5).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getLong(r.fieldIndex("neighbor_id")) != 99L,
        "zero vector seized a candidate slot")
      assert(!r.getDouble(r.fieldIndex("cos")).isNaN, "NaN cosine surfaced")
    }
  }

  // ---- mixture sampling totality ------------------------------------------

  test("mixtureKeep matches non-negative-modulus arithmetic for any id sign") {
    val ids = Seq(-2000007L, -1000003L, -42L, -1L, 0L, 1L, 999L, 1000003L)
    val got = ids.toDF("id")
      .select(col("id"), TrainingData.mixtureKeep(col("id"), lit(0.5)).as("keep"))
      .as[(Long, Boolean)].collect().toMap
    ids.foreach { id =>
      val m = 1000003L
      val inner = ((id % m) + m) % m
      val expect = ((inner * TrainingData.mixPrime) % 1000L + 1000L) % 1000L < 500L
      assert(got(id) == expect, s"id=$id")
    }
  }

  // ---- state-partition derivation -----------------------------------------

  test("statePartitionsFor scales with keys and clamps to session parallelism") {
    // SparkSpec session runs spark.sql.shuffle.partitions = 4
    assert(EventsStream.statePartitionsFor(spark, 0L) == 1)
    assert(EventsStream.statePartitionsFor(spark, 150L) == 1)
    assert(EventsStream.statePartitionsFor(spark, 20001L) == 2)
    assert(EventsStream.statePartitionsFor(spark, 60000L) == 3)
    assert(EventsStream.statePartitionsFor(spark, 10000000L) == 4,
      "must clamp to the session's shuffle parallelism")
    val seq = Seq(1L, 100L, 30000L, 50000L, 70000L, 1000000L)
      .map(EventsStream.statePartitionsFor(spark, _))
    assert(seq == seq.sorted, "derivation must be monotonic in keys")
  }

  test("lint: no graft code outside startMemorySink sets or unsets a " +
    "session conf") {
    // a stream's confs are set across its start() only, in one place;
    // query code that mutates the shared session leaks into every
    // later query of that session
    def mutates(l: String) = l.contains("conf.set(") || l.contains("conf.unset(")
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String])
      val start =
        if (f.getName != "EventsStream.scala") -1
        else lines.indexWhere(_.contains("def startMemorySink("))
      val end = if (start < 0) -1 else lines.indexWhere(_ == "  }", start)
      val inStarter = (i: Int) => start >= 0 && i > start && i < end
      if (f.getName == "EventsStream.scala")
        assert(start >= 0 && lines.indices.exists(i =>
          inStarter(i) && mutates(lines(i))), "startMemorySink not found")
      lines.indices.filter(i => mutates(lines(i)) && !inStarter(i))
        .map(i => s"${rel(f)}:${i + 1}: ${lines(i).trim}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("lint: stamps are read and written only in Artifacts.memo; " +
    "_SUCCESS is checked only by Similarity's two derived caches") {
    // one memo protocol: a hand-rolled stamp check elsewhere would
    // bring back its own crash ordering, and a _SUCCESS check outside
    // the derived caches would trust a directory the stamp no longer
    // vouches for
    val stampIo = (l: String) =>
      l.contains("readString(") || l.contains("writeString(")
    val caches = Seq("def pqArtifactsCached(", "def sq8CodesCached(")
    val member = "  (/\\*\\*|def |private|protected|val |lazy ).*"
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String])
      val cacheLines: Set[Int] =
        if (rel(f) != "scaleops/Similarity.scala") Set.empty
        else caches.flatMap { c =>
          val start = lines.indexWhere(_.contains(c))
          assert(start >= 0, s"$c not found")
          val end = lines.indexWhere(_.matches(member), start + 1)
          assert((start until end).exists(i => lines(i).contains("_SUCCESS")),
            s"$c no longer checks _SUCCESS")
          start until end
        }.toSet
      val stampFile = Set("sources/Artifacts.scala", "Verify.scala")(rel(f))
      lines.indices.filter { i =>
        (stampIo(lines(i)) && !stampFile) ||
          (lines(i).contains("_SUCCESS") && !cacheLines(i))
      }.map(i => s"${rel(f)}:${i + 1}: ${lines(i).trim}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("lint: router preludes and the scan-sized writer take row counts " +
    "from Cardinality.rows") {
    // a router's eager count() is a Spark job spent learning a number
    // the parquet footers already hold; Cardinality.rows reads them and
    // counts only a frame it cannot answer for
    val banned = Map(
      "scaleops/Similarity.scala" ->
        "(emb\\.count\\(\\)|queries\\.count\\(\\)|getOrElse\\(.*count\\(\\))".r,
      "sources/Sinks.scala" -> "\\.count\\(\\)".r)
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      banned.get(rel(f)).toSeq.flatMap { re =>
        val lines = java.nio.file.Files.readAllLines(f.toPath)
          .toArray(Array.empty[String])
        lines.indices.filter(i => re.findFirstIn(lines(i)).isDefined)
          .map(i => s"${rel(f)}:${i + 1}: ${lines(i).trim}")
      }
    }
    assert(banned.keys.forall(k => new java.io.File(mainRoot, k).isFile),
      "a linted file moved")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("winsorize: ~5% clipped per tail, mean stays inside the band") {
    val rows = graft.queries.Events.winsorize(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // exact-percentile clipping leaves at most ~5% per tail (ties
      // and interpolation can only shrink the strict-inequality count)
      assert(lo <= n * 0.06 && hi <= n * 0.06, s"overclipped: $r")
      assert(lo >= n * 0.03 && hi >= n * 0.03, s"underclipped: $r")
      assert(!r.isNullAt(4) && !r.getDouble(4).isNaN)
    }
  }
}
