package graft.plans

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** SparkSessionExtensions wiring (design-brief custom-operator path c).
  *
  * Registers graft's native expressions as SQL functions, injects the
  * FoldSelfCosine optimizer rule and the GraftStrategy planner strategy, so
  * `spark.sql("SELECT cosine_sim(a, b)")` works and trivially-true
  * similarity comparisons fold away at plan time. GraftSession installs
  * these on every session the engine builds.
  *
  * Every ranked cut calls TopKAgg.perGroup directly; an optimizer rule
  * that rewrote eligible `row_number() <= k` windows to the bounded heap
  * was removed after it was measured to change the plan of one driver
  * query only.
  *
  * Activate with:
  *   GraftSession.builder()                                              // code
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions             // cluster
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectOptimizerRule(_ => FoldSelfCosine)
    ext.injectPlannerStrategy(_ => GraftStrategy)
  }
}

/** cosine_sim(x, x) ≡ 1.0 for non-null x (norms cancel): fold at plan time.
  * The rewrite keeps null semantics by only firing on deterministic,
  * provably-equal children. */
object FoldSelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case c @ CosineSimilarity(l, r) if l.deterministic && l.semanticEquals(r) && !l.nullable =>
      Literal(1.0, DoubleType)
    case c => c
  }
}
