package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Removes full-column duplicate elimination that a downstream
  * duplicate-insensitive aggregate makes redundant:
  *
  *   distinct(f(distinct(X)))  ==  distinct(f(X))
  *
  * for any row-pointwise f (Project/Filter/Union chains): those operators
  * satisfy set(f(M)) = set(f(set(M))) for a multiset M, and an aggregate
  * whose aggregate functions are all MAX/MIN (or that aggregates nothing —
  * a plain distinct) depends only on the SET of its input rows. So every
  * distinct-like aggregate strictly below it, reachable through
  * deterministic Project/Filter/Union edges, can be dropped — deleting a
  * full-width shuffle each.
  *
  * This is the medallion consumption pattern: silver deduplicates each
  * source branch (reference semantics,
  * /root/reference/pipelineApplication/silverLayer/BuildSilverLayer.py:292,307), and
  * gold's directory/pivot queries re-aggregate duplicate-insensitively
  * (BuildGoldLayer.py:160 distinct; :104-137 pivot cells) — the reference
  * pays the full dedup shuffles anyway; with this rule the engine pays only
  * the final one. At 100 TB each eliminated dedup is a full-table shuffle
  * that never runs.
  *
  * Safety limits (deliberately narrow):
  *  - only FULL-column distinct-like aggregates are removed — a subset-key
  *    `dropDuplicates(cols)` picks arbitrary representative rows and is NOT
  *    set-preserving;
  *  - traversal crosses only deterministic Project/Filter and Union — joins
  *    and generators are set-preserving too, but removal there can explode
  *    intermediate multiplicity, so they are left alone;
  *  - the outer aggregate qualifies only if every aggregate function is
  *    Max/Min (pass-through grouping columns carry no aggregate function).
  *
  * Runs on `spark.experimental.extraOptimizations` (after the main batches,
  * when `Deduplicate` has already been rewritten to a distinct-shaped
  * `Aggregate`) or as an injected rule — `graft.catalyst.GraftExtensions`
  * installs it either way.
  */
object DedupCollapseRule extends Rule[LogicalPlan] {

  private def aggFns(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })

  /** A grouping-only aggregate (no aggregate functions) is a pure
    * set-function of its input — one output tuple per distinct grouping
    * value — as is one whose only aggregate functions are MAX/MIN. */
  private def duplicateInsensitive(a: Aggregate): Boolean =
    a.groupingExpressions.forall(_.deterministic) &&
      a.aggregateExpressions.forall(_.deterministic) &&
      aggFns(a).forall(_.aggregateFunction match {
        case _: Max | _: Min => true
        case _               => false
      })

  /** Grouping-only aggregate: no aggregate functions, so every output
    * expression is a function of the grouping expressions (analyzer
    * invariant) — i.e. a row-pointwise function — and the output SET equals
    * the set of the same projection over the raw child rows. Under a
    * duplicate-insensitive consumer it therefore reduces to a Project.
    * (The optimizer hands us dedups in this shape: `Deduplicate` is already
    * rewritten, adjacent projections are merged into the aggregate — e.g.
    * `Aggregate [k,g,v], [g, k, lit AS tag]`.)
    *
    * `groupingExpressions` must be NON-empty: a GLOBAL aggregate emits
    * exactly one row even over empty input, while the Project replacing it
    * would emit zero — not set-preserving, so removal would be unsound
    * (max over {()} vs max over {} differ). */
  private def groupingOnly(a: Aggregate): Boolean =
    a.groupingExpressions.nonEmpty &&
      aggFns(a).isEmpty &&
      a.aggregateExpressions.forall(_.deterministic) &&
      a.groupingExpressions.forall(_.deterministic)

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case proj: Project if proj.projectList.forall(_.deterministic) =>
      proj.copy(child = strip(proj.child))
    case f: Filter if f.condition.deterministic =>
      f.copy(child = strip(f.child))
    case u: Union =>
      u.withNewChildren(u.children.map(strip))
    case inner: Aggregate if groupingOnly(inner) =>
      Project(inner.aggregateExpressions, strip(inner.child))
    // keys must be non-empty for the same reason groupingOnly requires
    // grouping columns: a zero-column dedup of a non-empty input collapses
    // to one (empty) row, which removal would multiply back out
    case d: Deduplicate
        if d.keys.nonEmpty &&
          AttributeSet(d.keys) == AttributeSet(d.child.output) =>
      strip(d.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case a: Aggregate if duplicateInsensitive(a) =>
      val stripped = strip(a.child)
      if (stripped eq a.child) a else a.copy(child = stripped)
  }
}
