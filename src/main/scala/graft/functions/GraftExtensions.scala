package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's native expressions.
  *
  * DataFrame callers go through `VectorExpressions` (no session setup
  * needed); this class additionally exposes the kernels to `spark.sql`
  * users. Activate per session with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)` — the standard
  * `SparkSessionExtensions` injection point, so a cluster admin can
  * enable the library fleet-wide via config alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, impl: Class[_])(
      builder: (Expression, Expression) => Expression) =
    (new FunctionIdentifier(name),
     new ExpressionInfo(impl.getName, name),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         s"$name requires exactly 2 arguments, got ${args.length}")
       builder(args(0), args(1))
     })

  private def fn1(name: String, impl: Class[_])(
      builder: Expression => Expression) =
    (new FunctionIdentifier(name),
     new ExpressionInfo(impl.getName, name),
     (args: Seq[Expression]) => {
       require(args.length == 1,
         s"$name requires exactly 1 argument, got ${args.length}")
       builder(args(0))
     })

  override def apply(ext: SparkSessionExtensions): Unit = {
    // planner strategies (graft.plans.AsOfJoin, RankByRange, SmallSort)
    // — fleet-wide activation via config; the DataFrame helpers and
    // Tables.configure also register them lazily per session, so either
    // path works
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RankByRangeStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SmallSortStrategy)
    ext.injectFunction(fn("graft_dot", classOf[DotProduct])(DotProduct.apply))
    ext.injectFunction(fn1("graft_bitmap_agg", classOf[BitmapBuildAgg])(
      e => BitmapBuildAgg(e).toAggregateExpression()))
    ext.injectFunction(fn1("graft_bitmap_union_agg", classOf[BitmapUnionAgg])(
      e => BitmapUnionAgg(e).toAggregateExpression()))
    ext.injectFunction(fn1("graft_bitmap_count", classOf[BitmapCount])(
      BitmapCount.apply))
    ext.injectFunction(fn("graft_quantile_agg", classOf[QuantileBuildAgg]) {
      (value, relErr) =>
        require(relErr.foldable, "graft_quantile_agg relErr must be a literal")
        val e = relErr.eval() match {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"graft_quantile_agg relErr must be a numeric literal, got $other")
        }
        require(e > 0 && e < 1, s"graft_quantile_agg relErr must be in (0,1), got $e")
        QuantileBuildAgg(value, e).toAggregateExpression()
    })
    ext.injectFunction(fn1("graft_quantile_merge_agg", classOf[QuantileMergeAgg])(
      e => QuantileMergeAgg(e).toAggregateExpression()))
    ext.injectFunction(fn("graft_quantile_query", classOf[QuantileQuery])(
      QuantileQuery.apply))
    ext.injectFunction(fn("graft_l2sq", classOf[SquaredL2])(SquaredL2.apply))
    ext.injectFunction(fn("graft_bloom_contains", classOf[BloomMightContain])(
      BloomMightContain.apply))
    ext.injectFunction((new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomBuildAgg].getName, "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_bloom_agg requires (key, numBits, numHashes), got ${args.length} args")
        require(args(1).foldable && args(2).foldable,
          "graft_bloom_agg numBits/numHashes must be literals")
        // validate here, at analysis time, with clear messages — not as
        // a ClassCastException in planning or a per-task require on the
        // executors
        def intArg(e: Expression, name: String): Int = e.eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg $name must be an integer literal, got $other")
        }
        val bits = intArg(args(1), "numBits")
        val hashes = intArg(args(2), "numHashes")
        require(bits > 0 && bits % 8 == 0,
          s"graft_bloom_agg numBits must be a positive multiple of 8, got $bits")
        require(hashes > 0, s"graft_bloom_agg numHashes must be positive, got $hashes")
        BloomBuildAgg(args(0), bits, hashes).toAggregateExpression()
      }))
  }
}
