package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r16 determinism fix: `round(avg(x), 6)` over per-row
  * 6-decimal grid values is computed in EXACT integer micro-units
  * (ScaleBase.micro6 / microMean6), so the gate-hashed mean cannot
  * depend on float-summation order — i.e. on partition layout or core
  * count (the r15 docs_clean_pipeline hash regression). */
class MicroMeanSpec extends SparkSpec with ScaleBase {

  // An exact half-tie by construction: four grid values whose mean is
  // k + 0.5 micro-units (0.1, 0.2, 0.3, 0.400002 → mean 0.2500005).
  private val tieVals = Seq(0.1, 0.2, 0.3, 0.400002)

  private def meanAt(nPart: Int): Double = {
    val df = spark.createDataFrame(
      tieVals.map(v => Tuple2("g", math.rint(v * 1e6) / 1e6))
    ).toDF("g", "v").repartition(nPart)
    df.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(micro6(col("v"))).as("s"))
      .select(microMean6("s", "n").as("m"))
      .head().getDouble(0)
  }

  test("microMean6 is partition-count independent on an exact half-tie") {
    val m1 = meanAt(1)
    val m7 = meanAt(7)
    assert(m1 == m7, s"partition-dependent mean: $m1 vs $m7")
    // round-half-up of 0.2500005 at 6 decimals
    assert(m1 == 0.250001, s"expected half-up tie-break, got $m1")
  }

  test("micro6 recovers the grid integer exactly") {
    // doubles nearest to 6-decimal values scale back to exact integers
    val vals = Seq(0.642259, 0.999999, 0.0, 1.0, 0.5321)
    val got = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
      .select(micro6(col("v")).as("k")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(642259L, 999999L, 0L, 1000000L, 532100L))
  }

  test("microMean6 over count(col) skips NULL rows; an all-NULL group is NULL") {
    val df = spark.createDataFrame(Seq(("a", Some(0.2)), ("a", None),
      ("a", Some(0.4)), ("b", None))).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(sum(micro6(col("v"))).as("s"), count(col("v")).as("n"))
      .select(col("g"), microMean6("s", "n").as("m"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got == Map("a" -> Some(0.3), "b" -> None))
  }

  test("microMean6 agrees with round(avg, 6) away from ties") {
    val vals = Seq(0.123456, 0.234567, 0.345678, 0.456789, 0.567891)
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val exact = df.agg(count(lit(1)).as("n"), sum(micro6(col("v"))).as("s"))
      .select(microMean6("s", "n")).head().getDouble(0)
    val floaty = df.agg(round(avg(col("v")), 6)).head().getDouble(0)
    assert(exact == floaty, s"$exact vs $floaty")
  }
}
