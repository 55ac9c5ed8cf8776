package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal, TypeOf}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions: the engine's native Catalyst functions and [[FoldTypeOf]].
  * Install via `GraftSession` (programmatic `withExtensions`) or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on any
  * spark-submit — the cluster-deployment path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vector_dot(a, b) takes 2 arguments")
        VectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vector_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "vector_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vector_cosine(a, b) takes 2 arguments")
        VectorCosine(children.head, children(1))
      }))
    ext.injectPostHocResolutionRule(_ => FoldTypeOf)
  }
}

/** Folds a resolved `typeof(x)` to its string literal during analysis:
  * Spark 4.1's `TypeOf` generates `UTF8String.fromString(int)`, unquoted, so
  * a filter that `ConvertToLocalRelation` compiles (before
  * `ConstantFolding`) failed in Janino and fell back to interpreted code.
  */
object FoldTypeOf extends Rule[LogicalPlan] {
  // resolveOperators skips subtrees analyzed before; leaves are skipped as
  // an expression walk over a local relation visits every one of its rows
  def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case p if p.children.nonEmpty => p.transformExpressions {
      case t: TypeOf if t.child.resolved => Literal(t.eval(), t.dataType)
    }
  }
}
