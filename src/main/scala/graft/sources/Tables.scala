package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the harness star-schema tables and for raw CSV ingest.
  *
  * The reference loads data eagerly with pandas (`pd.read_csv`,
  * reference data_analysis.py:18) and then relies on *physical row
  * order* for every time-series operation. Spark has no stable row
  * order, so CSV ingest attaches an explicit `_row_id` ordering
  * column (SURVEY.md §8.1) that all window/split logic orders by.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Lazy parquet scan; Catalyst pushes filters/column pruning into it.
    *
    * `events.ts` is TIMESTAMP(NANOS) in the parquet footer, which
    * Spark 4 rejects by default ([PARQUET_TYPE_ILLEGAL]). We read
    * nanos as a long and rebuild a microsecond TimestampType column
    * with integer division (`DIV` — ns-since-epoch ~1.7e18 overflows
    * a double, so `/ 1000.0` would silently lose precision). The
    * result is exactly DuckDB's `CAST(ts AS TIMESTAMP)` truncation,
    * which every oracle mirrors. Reading nanos as a long needs
    * `spark.sql.legacy.parquet.nanosAsLong`, so readers expect a
    * session built from `graft.Sessions.builder()`, which sets it.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // TIMESTAMP(NANOS) read as ns-since-epoch
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // NTZ parquet (no UTC adjustment flag): reinterpret as an
        // instant in the session zone (UTC) so unix_micros/window
        // functions accept it — same wall-clock values either way
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** CSV scan with header + schema inference, mirroring
    * `pd.read_csv(filepath)` (reference data_analysis.py:18), plus an
    * explicit `_row_id` that makes pandas' implicit file order a real
    * column.
    *
    * `monotonically_increasing_id` is ordered *within* each input
    * split, and splits are assigned in file/offset order for a single
    * file read, so ascending `_row_id` == file row order. For
    * multi-file ingests at scale, order by (input file, _row_id)
    * instead — exposed via `orderCols`.
    */
  def csvWithRowId(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
      .withColumn("_file", input_file_name())
      .withColumn("_row_id", monotonically_increasing_id())

  val orderCols: Seq[String] = Seq("_file", "_row_id")

  /** Register every harness table as a temp view so SQL users can
    * query the star schema directly (`spark.sql("... FROM lineitem")`). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
