package graftbench

import graft.queries.Registry

/** Registered engine queries run as benchmark operations, materialized
  * through the `noop` sink. In the first warm-up pass each row writes
  * its output as parquet instead, and its DuckDB oracle SQL is kept,
  * for the runner to compare after the run. */
object Registered {
  def run(ctx: Ctx, layer: String, name: String): Unit = {
    val q = Registry.byName(name)
    val keep = ctx.pass < 0 && !ctx.oracles.contains(name)
    ctx.op(layer, name) {
      val df = q.run(ctx.spark, ctx.data)
      if (keep) df.write.mode("overwrite").parquet(s"${ctx.checksDir}/$name")
      else df.write.format("noop").mode("overwrite").save()
    }(_ => ())
    if (keep) ctx.oracles(name) = q.oracle.getOrElse("")
  }
}
