package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BaseOrdering, Descending, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Whole-operator extension tier ((c) in the build guidance): per-key bounded
  * top-k as a custom `LogicalPlan` + `SparkStrategy` + `SparkPlan` pair.
  *
  * The DataFrame idiom for "top k rows per key" is
  * `row_number().over(Window.partitionBy(keys).orderBy(ord)) <= k` — which
  * physically SORTS every row of every partition (WindowExec requires
  * `SortOrder(keys ++ ord)`) and shuffles the full input. For the ANN/top-k
  * workloads this engine targets, the input is |queries| × |corpus| scored
  * pairs, and all but k·|queries| rows are discarded after the sort.
  *
  * This operator keeps a bounded binary heap per key instead:
  *
  *  - partial stage (map-side, before any exchange): each input partition
  *    reduces to ≤ k rows per key — the exact analogue of partial
  *    aggregation, so the exchange moves k·parts rows per key, not the
  *    full scored set;
  *  - final stage (after a `ClusteredDistribution(keys)` exchange that
  *    `EnsureRequirements` inserts): merges the partials and emits each
  *    key's rows in sort order.
  *
  * No sort of the input ever happens; per-partition work is O(n log k) with
  * O(keys·k) memory. At 100 TB the win over WindowExec is the difference
  * between shuffling the scored pairs and shuffling the answer.
  */
case class TopKPerKeyNode(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner rule: logical node → partial/final exec pair. Registered by
  * [[graft.catalyst.GraftExtensions]] — on a live session through the
  * PUBLIC `spark.experimental.extraStrategies` hook (no private session
  * surgery). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, isFinal = true,
        TopKPerKeyExec(keys, order, k, isFinal = false, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    isFinal: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String = if (isFinal) "TopKPerKeyFinal" else "TopKPerKeyPartial"

  /** Final needs key-clustering (EnsureRequirements inserts the hash
    * exchange); partial runs wherever the child already is. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (isFinal) ClusteredDistribution(keys) :: Nil else UnspecifiedDistribution :: Nil

  /** Row-pruning only — partitioning passes through untouched. Without
    * this override the exec reports UnknownPartitioning, and a consumer
    * that also clusters by the keys (a downstream groupBy, or the
    * row_number Window the rewrite rule replaces this with) pays a second,
    * redundant exchange of the already-clustered k-per-key results. */
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val emitSorted = isFinal
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord: BaseOrdering = RowOrdering.create(sortOrder, childOutput)
      // max-heap under the sort order: the heap head is the WORST of the
      // current k best, so admission is a single compare against it
      val heapOrd: Ordering[InternalRow] = (a, b) => ord.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap { heap =>
        // dequeueAll yields worst-first; final output is best-first per key
        val rows = heap.dequeueAll
        if (emitSorted) rows.reverseIterator else rows.iterator
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Public API: `TopKPerKey(df, keys, Seq("score" -> false, "id" -> true), k)`
  * — top k rows per key, ordered by the given (column, ascending) specs. */
object TopKPerKey {

  def apply(df: DataFrame, keyCols: Seq[String],
            orderSpec: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.catalyst.GraftExtensions.install(spark)
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name).mkString(", ")}"))
    val keys = keyCols.map(attr)
    val order = orderSpec.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    GraftSqlBridge.ofRows(spark, TopKPerKeyNode(keys, order, k, child))
  }
}
