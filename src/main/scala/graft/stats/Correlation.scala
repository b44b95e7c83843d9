package graft.stats

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Divide, EqualTo, Expression, If, Literal, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.expressions.aggregate.PearsonCorrelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** D3 — Pearson correlation of each feature against the label in a
  * single aggregate pass (reference `corrwith`,
  * data_analysis.py:125-139: one loop per column; here one scan total
  * regardless of column count — the formulation that survives 100 TB).
  */
object Correlation {

  /** Pearson r of `f` against `label`, as Spark's `corr` computes it
    * over the rows where both are non-NULL; NULL when either side has
    * zero variance (pandas `corrwith` gives NaN there). */
  private def pearson(f: String, label: String): Column =
    round(GraftBridge.column(
      PearsonR(GraftBridge.expression(col(f)), GraftBridge.expression(col(label)))
        .toAggregateExpression()), 6)

  /** Wide result: one row, a `corr_<feature>` column per feature. */
  def corrWithWide(df: DataFrame, features: Seq[String], label: String): DataFrame =
    df.agg(
      pearson(features.head, label).as(s"corr_${features.head}"),
      features.tail.map(f => pearson(f, label).as(s"corr_$f")): _*)

  /** Long result: (feature, r) — one row per feature, still one scan
    * (the stack happens after the aggregate). */
  def corrWithLong(df: DataFrame, features: Seq[String], label: String): DataFrame = {
    val wide = corrWithWide(df, features, label)
    val stackExpr = features
      .map(f => s"'$f', corr_$f")
      .mkString(s"stack(${features.size}, ", ", ", ") as (feature, r)")
    wide.selectExpr(stackExpr)
  }
}

/** Spark's `corr` — the same buffer and updates, so the same r bit for
  * bit — with a guarded result: under ANSI mode `corr` divides by the
  * zero deviation of a constant column and throws DIVIDE_BY_ZERO; this
  * returns NULL for it. */
private[stats] case class PearsonR(x: Expression, y: Expression)
    extends PearsonCorrelation(x, y, true) {
  override val evaluateExpression: Expression = {
    val mk = Multiply(xMk, yMk)
    If(EqualTo(mk, Literal(0.0)), Literal(null, DoubleType), Divide(ck, Sqrt(mk)))
  }
  override def prettyName: String = "pearson_r"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PearsonR =
    copy(x = newLeft, y = newRight)
}
