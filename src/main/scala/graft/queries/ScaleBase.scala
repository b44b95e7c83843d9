package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Shared table-loading plumbing for the ScaleQueries trait family
  * (split from the 2.3k-line ScaleQueries.scala in r10 — pure
  * mechanical move, zero behavior change). */
private[queries] trait ScaleBase {
  protected def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** Width-before-weight load for per-row-HEAVY ops (shingling,
    * n-gram scoring, tokenize-everything maps) over a bytes-small
    * table: one parquet file is ONE scan partition at any
    * maxPartitionBytes (a row group is unsplittable), so without an
    * explicit repartition the heavy map runs on a single core of 32.
    * The shuffle costs megabytes; the map is the dominant term
    * (measured on text_pii_redact at the sf1 soak: 8.7 → 2.3 s).
    * Only for heavy maps — plain column scans and filters stay on
    * [[t]] (an unconditional shuffle would tax every cheap query). */
  protected def tw(s: SparkSession, d: String, n: String,
                 key: String): DataFrame =
    // explicit count via Sessions.widen (r15): repartition(col) is
    // AQE-coalescible, and at bench SFs the ~1 MB shuffle coalesced
    // back to ONE partition — exactly the single-core heavy map this
    // helper exists to prevent
    graft.Sessions.widen(t(s, d, n), col(key))

  /** Exact micro-units (×1e6) of a double already on the 1e-6 grid
    * (i.e. produced by a per-row `round(x, 6)`). The value is within
    * ~1e-9 of an integer after scaling, so the round/cast recovers
    * the grid integer exactly and identically in Spark and DuckDB. */
  protected def micro6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * lit(1000000.0), 0).cast("long")

  /** `round(avg(x), 6)` of 1e-6-grid values via EXACT integer
    * arithmetic: round-half-up of the rational mean, computed as
    * `(2·Σmicro + n) DIV (2·n)` micro-units. A float `avg` over grid
    * values lands exactly on the half-rounding boundary whenever
    * n ∤ Σmicro but 2n | 2Σmicro+n — common by construction, and then
    * the 6th decimal depends on float-summation ORDER, i.e. on the
    * partition layout / core count (the r15 docs_clean_pipeline hash
    * regression). Integer arithmetic is order-free: the same value at
    * any core count, and bit-identical to the DuckDB oracle's mirror
    * expression. Only for columns the gate hash-checks.
    *
    * `nCol` must count the rows `sumMicroCol` summed — `count(x)`,
    * not `count(*)`, when x can be NULL — and the sum must be
    * non-negative: Spark `DIV` truncates toward zero while DuckDB `//`
    * floors, so the two engines differ on a negative numerator. */
  protected def microMean6(sumMicroCol: String, nCol: String): org.apache.spark.sql.Column =
    expr(s"CAST((2 * $sumMicroCol + $nCol) DIV (2 * $nCol) AS DOUBLE) / 1000000.0")
}
