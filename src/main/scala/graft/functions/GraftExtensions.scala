package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension entry point — the supported Spark hook for custom
  * Catalyst surface (`spark.sql.extensions=graft.functions.GraftExtensions`).
  * Registers the native expressions with the function registry so SQL
  * users get them too: `SELECT vector_dot(a, b) FROM embeddings`, and
  * plans the group-local node ([[GroupLocal]]).
  * Installed by `SparkEntry.configure`, so every session (Verify,
  * Bench, tests) carries the same SQL surface. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => GroupLocalDedup)
    ext.injectPlannerStrategy(_ => GroupLocalStrategy)
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vector_dot expects exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "poly_hash expects exactly 1 argument")
        PolyHash(children.head)
      }))
    // the ordered vector sum aggregate (the analyzer wraps a bare
    // AggregateFunction returned from the registry in an
    // AggregateExpression itself)
    ext.injectFunction((
      new FunctionIdentifier("ordered_vector_sum"),
      new ExpressionInfo(classOf[OrderedVectorSumAgg].getName, "ordered_vector_sum"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "ordered_vector_sum expects (idx, vec) — exactly 2 arguments")
        OrderedVectorSumAgg(children.head, children(1))
      }))
  }
}
