package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AvroSpec extends SparkSpec {

  test("avro round-trip: every supported type, nulls, multi-partition") {
    val st = StructType(Seq(
      StructField("id", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("ts", TimestampType)))
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T12:34:56.789012Z"))
    val rows = Seq(
      Row(1L, 7, 3.14159, 2.5f, true, "héllo", Array[Byte](1, 2, 3), ts),
      Row(2L, null, null, null, null, null, null, null),
      Row(3L, -1, Double.MinPositiveValue, -0.0f, false, "", Array[Byte](), ts))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), st)
    val dir = tempDir("graft-avro").toString
    graft.sources.Avro.write(df, dir)
    val back = graft.sources.Avro.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      st.map(f => (f.name, f.dataType)))
    val got = back.orderBy("id").collect()
    val want = rows.sortBy(_.getLong(0))
    assert(got.length == 3)
    got.zip(want).foreach { case (g, w) =>
      (0 until st.length).foreach { i =>
        (g.get(i), w.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b, s"col ${st(i).name}: $a != $b")
        }
      }
    }
    // multi-partition layout: one container per input partition
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(parts.length == 2)
  }

  test("avro schema mapping is inverse-consistent; unsupported types refuse") {
    import graft.sources.Avro
    val st = StructType(Seq(StructField("x", LongType),
      StructField("y", StringType), StructField("t", TimestampType)))
    assert(Avro.structFor(Avro.avroSchemaFor(st)) ==
      StructType(st.map(_.copy(nullable = true))))
    val bad = StructType(Seq(StructField("m", MapType(StringType, LongType))))
    intercept[IllegalArgumentException] { Avro.avroSchemaFor(bad) }
  }

  test("avro read parallelizes per file and unions all parts") {
    val df = spark.range(100).select(col("id"),
      concat(lit("doc"), col("id")).as("s"))
    val dir = tempDir("graft-avro2").toString
    graft.sources.Avro.write(df.repartition(5), dir)
    val back = graft.sources.Avro.read(spark, dir)
    assert(back.rdd.getNumPartitions == 5)
    assert(back.count() == 100)
    assert(back.agg(sum(col("id"))).head().getLong(0) == 4950L)
  }
}
