package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: recognize the `row_number().over(partitionBy.orderBy)
  * <= k` idiom and re-plan it through [[TopKPerKeyNode]] — users keep
  * writing the standard DataFrame pattern, the session re-plans it as
  * map-side bounded heaps (no sort of the input, exchange carries k rows
  * per key per partition).
  *
  * The original Window stays ABOVE the injected top-k node, recomputing the
  * rank over the already-k-bounded rows: downstream references to the rank
  * column stay valid (same exprId), and the Filter still applies — on a
  * total order it filters nothing; on a tied order it resolves the tie the
  * same way the un-rewritten plan would (row_number under ties is
  * nondeterministic in both shapes).
  *
  * Match conditions (conservative by design): exactly one window
  * expression, and it is ROW_NUMBER (rank/dense_rank admit >k rows under
  * ties — not a top-k); partition keys and order keys are plain attributes;
  * the bound is a positive integer literal. The guard on an already-rewritten
  * child makes the rule a fixpoint under the optimizer's repeated batches.
  *
  * Registered by [[graft.catalyst.GraftExtensions]] (at session build, or
  * on a live session through `install`); Spark's own WindowGroupLimit
  * optimization (3.5+) bounds rows per partition but still requires the
  * sort — this rule removes the sort itself.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def bound(cond: Expression, rnId: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rnId => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rnId => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rnId && k == 1 => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
          parts, order, child, _))
        if !child.isInstanceOf[TopKPerKeyNode] &&
          parts.nonEmpty && parts.forall(_.isInstanceOf[Attribute]) &&
          order.nonEmpty && order.forall(_.child.isInstanceOf[Attribute]) =>
      bound(cond, al.exprId) match {
        case Some(k) if k > 0 =>
          Filter(cond, w.copy(child =
            TopKPerKeyNode(parts.map(_.asInstanceOf[Attribute]), order, k, child)))
        case _ => f
      }
  }
}
