package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers the engine's native
  * expressions under SQL names so `spark.sql("SELECT graft_dot(a,b)")`
  * works anywhere in a session wired with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (part of
  * [[graft.GraftSession.conf]]) or set up by [[graft.GraftSession.setup]].
  *
  * The registry path (rather than `udf.register`) keeps the functions
  * full Catalyst citizens: codegen, constant folding, null propagation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** (identifier, info, builder) triples — the same list serves the
    * extensions hook and direct FunctionRegistry registration. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot expects two array<float> arguments")
        DotProduct(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "graft_dot_long"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_dot_long expects two array<bigint> arguments")
        DotProductLong(children.head, children(1))
      }))

  /** Register into an already-built session (GraftSession.setup). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
