package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, BoundReference, Expression, ExpressionSet, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator path (SURVEY §4 preference (c)): top-n rows per
  * key WITHOUT sorting each key group.
  *
  * Spark expresses top-n-per-group as window row_number + filter, which
  * sorts every key group in full. This operator keeps a bounded heap per
  * key: O(rows · log n) per partition, O(keys · n) memory, no sort. At
  * 100 TB with heavy keys that is the difference between a bounded-state
  * stream-through and a full spill-sort of the fact table.
  *
  * Tie discipline: callers must provide a TOTAL ordering (as all graft
  * queries do) — heap eviction on a partial ordering would be
  * nondeterministic where row_number would pick arbitrarily anyway.
  *
  * Keyless inputs (`keys.isEmpty`, i.e. global top-n) require ALL rows on
  * one partition in the final pass — without that the operator would
  * return n rows PER PARTITION. The map-side partial pass still bounds
  * what that single reducer receives to n rows per input partition.
  *
  * Per-key limits: `limitExpr`, when set, overrides `n` — each key's
  * heap size is the expression's value on that key's rows (contract:
  * every row of a key must evaluate to the same value, e.g. a column
  * broadcast-joined from a per-key config dim). A limit of 0 keeps
  * nothing for that key. This is what lets a variable-quota selection
  * ("the (target mod c) smallest draws per class") stay a bounded-heap
  * stream-through instead of a rank-the-whole-class window.
  *
  * Rank: `rank`, when set, is a non-null int column of the child that
  * the final pass overwrites with each survivor's 1-based position within
  * its key under `order` — the value `row_number()` over the same total
  * order would give (the caller adds it as a placeholder; being a child
  * column, it is deduplicated and pruned like any other). The final heap
  * already emits each key's survivors best-first, so numbering them is
  * free; a window stacked on the result would sort the survivors again
  * to derive the same number.
  */
case class TopNPerKey(n: Int, keys: Seq[Expression], order: Seq[SortOrder],
    child: LogicalPlan,
    maxPartialKeys: Int = TopNPerKey.DefaultMaxPartialKeys,
    limitExpr: Option[Expression] = None,
    rank: Option[Expression] = None) extends UnaryNode {
  require(limitExpr.isDefined || n > 0, s"TopNPerKey needs n > 0, got $n")
  require(order.nonEmpty, "TopNPerKey needs at least one ordering expression")
  override def output: Seq[Attribute] = child.output
  // survivors keep every child constraint except the placeholder's value
  override protected lazy val validConstraints: ExpressionSet = {
    val numbered = AttributeSet(rank.toSeq.flatMap(_.references))
    ExpressionSet(child.constraints.filterNot(_.references.intersect(numbered).nonEmpty))
  }
  override protected def withNewChildInternal(c: LogicalPlan): TopNPerKey = copy(child = c)
}

object TopNPerKey {
  /** Cap on distinct keys tracked per partition in the partial pass.
    * 2^17 keys × n rows of heap state stays comfortably inside a task's
    * memory at any realistic row width; beyond it rows pass through
    * unreduced (correct, just less map-side reduction). */
  val DefaultMaxPartialKeys: Int = 1 << 17
}

case class TopNPerKeyExec(n: Int, keys: Seq[Expression], order: Seq[SortOrder],
    partial: Boolean, maxPartialKeys: Int, limitExpr: Option[Expression],
    rank: Option[Expression], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** Final pass co-locates each key's rows (ALL rows on one partition for
    * keyless/global top-n — n rows per partition otherwise, a wrong
    * result); the partial pass runs on whatever partitioning the child
    * has (map-side combine: each input partition reduces to at most
    * keys*n rows BEFORE the exchange). */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val nLocal = n
    val keyExprs = keys
    val orderExprs = order
    val isPartial = partial
    val keyCap = maxPartialKeys
    val limitExprLocal = limitExpr
    val rankOrdinal = rank.map(e =>
      BindReferences.bindReference(e, childOutput).asInstanceOf[BoundReference].ordinal)
    child.execute().mapPartitions ({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val cmp = new LazilyGeneratedOrdering(
        BindReferences.bindReferences(orderExprs, childOutput))
      // per-key limit (contract: constant within a key); null → 0
      val boundLimit = limitExprLocal.map(e =>
        BindReferences.bindReference(e, childOutput))
      def limitOf(row: InternalRow): Int = boundLimit match {
        case None => nLocal
        case Some(e) => e.eval(row) match {
          case null => 0
          case v: Number => math.max(0, v.intValue())
        }
      }
      // PriorityQueue dequeues the MAX of the ordering; with SortOrder
      // semantics (compare < 0 == ranks earlier), max == worst kept row.
      implicit val rowOrd: Ordering[UnsafeRow] =
        (a: UnsafeRow, b: UnsafeRow) => cmp.compare(a, b)
      val heaps = mutable.HashMap.empty[UnsafeRow, (Int, mutable.PriorityQueue[UnsafeRow])]
      // Partial pass guard: past `keyCap` distinct keys, rows of NEW keys
      // stream through unreduced (no copy, no state) — the final pass
      // still sees every candidate, and task memory stays bounded on
      // high-cardinality keys. The final pass has no cap: it must hold
      // every co-located key, the same memory class as a hash aggregate.
      val streamed = it.flatMap { row =>
        val unsafe = row.asInstanceOf[UnsafeRow]
        val key = keyProj(unsafe)
        heaps.get(key) match {
          case None =>
            if (isPartial && heaps.size >= keyCap) {
              // reused-buffer row is consumed downstream before next()
              Iterator.single[InternalRow](unsafe)
            } else {
              val lim = limitOf(unsafe)
              val pq = mutable.PriorityQueue.empty[UnsafeRow]
              if (lim > 0) pq.enqueue(unsafe.copy())
              heaps.put(key.copy(), (lim, pq))
              Iterator.empty
            }
          case Some((lim, pq)) =>
            if (pq.size < lim) pq.enqueue(unsafe.copy())
            else if (lim > 0 && cmp.compare(unsafe, pq.head) < 0) {
              pq.dequeue(); pq.enqueue(unsafe.copy())
            }
            Iterator.empty
        }
      }
      // each heap drains best-first; the heap rows are private copies, so
      // the final pass numbers them in place
      def best(pq: mutable.PriorityQueue[UnsafeRow]): Iterator[InternalRow] = {
        val rows = pq.dequeueAll.reverseIterator
        rankOrdinal.fold[Iterator[InternalRow]](rows)(ord =>
          rows.zipWithIndex.map { case (row, i) => row.setInt(ord, i + 1); row })
      }
      // the heap suffix is by-name: evaluated only after `streamed` is
      // exhausted, i.e. after the input is fully consumed
      streamed ++ heaps.valuesIterator.flatMap(h => best(h._2))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TopNPerKeyExec =
    copy(child = c)
}

/** Planner rule mapping the logical node to its physical operator. */
object TopNPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopNPerKey(n, keys, order, child, cap, limitExpr, rank) =>
      // partial (map-side) pass under the final pass — the exchange that
      // EnsureRequirements inserts between them carries only the
      // per-partition survivors; only the final pass numbers them
      TopNPerKeyExec(n, keys, order, partial = false, cap, limitExpr, rank,
        TopNPerKeyExec(n, keys, order, partial = true, cap, limitExpr, None,
          planLater(child))) :: Nil
    case _ => Nil
  }
}
