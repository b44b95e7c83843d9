package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One registered engine query: a Spark implementation, an optional
  * DuckDB oracle (ANSI SQL over the same parquet tables), and
  * `benchSkip` for protocol-certification queries that belong in the
  * CORRECTNESS gate but not the timed bench (e.g. the full 18×5
  * AutoML grid: minutes of deliberate fold-fits that measure the
  * protocol, not an operator). Skipped names are printed in the bench
  * JSON so the exclusion is visible, never silent.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchSkip: Boolean = false)

/** Numeric-stability helpers shared by queries and their oracles.
  *
  * Policy (SURVEY.md §8.7): relational/stat operators must hash-match
  * a DuckDB oracle exactly. Floating sums are order-dependent, so:
  *   - money-style sums go through DECIMAL(18,4) (exact, associative,
  *     identical in both engines), cast back to double at the end;
  *   - bounded ratios (corr, acf, cosine) are rounded to 6 dp — the
  *     cross-engine delta is ~1e-15 so a 1e-6 grid is collision-safe.
  */
object QUtil {
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Exact sum of a money expression, returned as double. */
  def moneySum(c: Column): Column = sum(c).cast("double")

  def r6(c: Column): Column = round(c, 6)
  def r4(c: Column): Column = round(c, 4)
}
