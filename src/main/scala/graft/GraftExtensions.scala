package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{ArrayDot, CmsEstimate, KllMergeAgg, KllQuantile, KllSketchAgg, ReservoirSample, SortedIntersectCount, WordShingles}

/** SparkSessionExtensions entry point: exposes the engine's custom
  * Catalyst expressions to plain SQL users —
  *
  * {{{
  * builder.withExtensions(new GraftExtensions) // a SparkSession builder
  * // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * spark.sql("SELECT array_dot(a, b), word_shingles(text, 3) FROM t")
  * }}}
  *
  * No custom Rules or Strategies are injected — the engine's plans
  * are all expressible in standard Catalyst (SURVEY.md §4); functions
  * are the one extension surface it needs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** Register every engine function into an ALREADY-RUNNING session's
    * function registry — the path for hosts that hand us a session
    * built without `spark.sql.extensions` (the driver's Verify/Bench
    * mains). Same builders as the extension injection, one list. */
  def registerInto(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  // shared by the kll builders (the mergeable-quantile trio — see
  // graft.functions.KllSketch, the percentile twin of Spark's
  // hll_sketch_agg / hll_union_agg / hll_sketch_estimate)
  private def intLit(e: Expression, fn: String, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integral literal, got $other")
  }

  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    ((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "array_dot(a, b) takes 2 arguments")
        ArrayDot(children.head, children(1))
      })),
    ((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "sorted_intersect_count(a, b) takes 2 arguments")
        SortedIntersectCount(children.head, children(1))
      })),
    ((
      FunctionIdentifier("reservoir_sample"),
      new ExpressionInfo(classOf[ReservoirSample].getName, "reservoir_sample"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "reservoir_sample(value, k, seed) takes 3 arguments")
        def intLit(e: Expression, name: String): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case Literal(v: Short, _) => v.toLong
          case Literal(v: Byte, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"reservoir_sample: $name must be a non-null integral literal, got $other")
        }
        val k = intLit(children(1), "k")
        require(k > 0 && k <= Int.MaxValue, s"reservoir_sample: bad k $k")
        // cast the value like the Scala-side apply() does — without it
        // an INT column passes analysis and crashes in update()
        ReservoirSample(
          org.apache.spark.sql.catalyst.expressions.Cast(children.head,
            org.apache.spark.sql.types.LongType),
          k.toInt, intLit(children(2), "seed")).toAggregateExpression()
      })),
    ((
      FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "kll_sketch_agg(value[, k[, seed]])")
        val k = if (children.length >= 2)
          intLit(children(1), "kll_sketch_agg", "k").toInt else 256
        val seed = if (children.length == 3)
          intLit(children(2), "kll_sketch_agg", "seed") else 42L
        KllSketchAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(children.head,
            org.apache.spark.sql.types.DoubleType),
          k, seed).toAggregateExpression()
      })),
    ((
      FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "kll_merge_agg(sketch[, k[, seed]])")
        val k = if (children.length >= 2)
          intLit(children(1), "kll_merge_agg", "k").toInt else 256
        val seed = if (children.length == 3)
          intLit(children(2), "kll_merge_agg", "seed") else 42L
        KllMergeAgg(children.head, k, seed).toAggregateExpression()
      })),
    ((
      FunctionIdentifier("sq8_encode"),
      new ExpressionInfo(classOf[graft.functions.Sq8Encode].getName, "sq8_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sq8_encode(vec, scale) takes 2 arguments")
        graft.functions.Sq8Encode(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.DoubleType))
      })),
    ((
      FunctionIdentifier("sq8_intdot"),
      new ExpressionInfo(classOf[graft.functions.Sq8IntDot].getName, "sq8_intdot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sq8_intdot(a, b) takes 2 arguments")
        graft.functions.Sq8IntDot(children.head, children(1))
      })),
    ((
      FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cms_estimate(sketch, value) takes 2 arguments")
        CmsEstimate(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.LongType))
      })),
    ((
      FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kll_quantile(sketch, q) takes 2 arguments")
        KllQuantile(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.DoubleType))
      })),
    ((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "word_shingles(text, k) takes 2 arguments")
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles: k must be an integer literal, got $other")
        }
        WordShingles(children.head, k)
      })),
    ((
      FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[graft.functions.TopKByScore].getName,
        "topk_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "topk_by_score(score, id, k) takes 3 arguments")
        val k = intLit(children(2), "topk_by_score", "k")
        require(k > 0 && k <= 1024, s"topk_by_score: bad k $k")
        // coerce like the Scala Column apply (which casts both args):
        // update() reads the buffer as (Double, Long), so an uncast
        // INT id or FLOAT/DECIMAL score from SQL would CCE mid-job
        graft.functions.TopKByScore(
          org.apache.spark.sql.catalyst.expressions.Cast(children(0),
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.LongType), k.toInt)
          .toAggregateExpression()
      })),
    ((
      FunctionIdentifier("bigram_hash_pairs"),
      new ExpressionInfo(classOf[graft.functions.BigramHashPairsExpr].getName,
        "bigram_hash_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "bigram_hash_pairs(tokens) takes 1 argument")
        graft.functions.BigramHashPairsExpr(children.head)
      })),
    ((
      FunctionIdentifier("token_hashes"),
      new ExpressionInfo(classOf[graft.functions.TokenHashesExpr].getName,
        "token_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "token_hashes(tokens) takes 1 argument")
        graft.functions.TokenHashesExpr(children.head)
      })),
    ((
      FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[graft.functions.LshBucketsExpr].getName,
        "lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 4 || children.length == 5,
          "lsh_buckets(vec, tables, planes, dim[, seed])")
        val t = intLit(children(1), "lsh_buckets", "tables").toInt
        val p = intLit(children(2), "lsh_buckets", "planes").toInt
        val d = intLit(children(3), "lsh_buckets", "dim").toInt
        val seed = if (children.length == 5)
          intLit(children(4), "lsh_buckets", "seed") else 42L
        graft.functions.LshBucketsExpr(children.head, t, p, d,
          graft.functions.Lsh.planesFor(t, p, d, seed).toIndexedSeq)
      })))
}
