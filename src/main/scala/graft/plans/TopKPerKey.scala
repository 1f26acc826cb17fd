package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator plan: exact top-k rows per key — the reference's
  * keep-best-per-group dedup (D2, hyperlink_extractor.py:172-195) and
  * top-k-per-group (O-rows) as a first-class operator.
  *
  * Why custom (SURVEY.md §2.2 option (c)): the built-in formulation is
  * `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`, whose physical
  * plan SORTS every partition fully (O(n log n) over all rows and a full
  * materialization). This operator keeps a bounded k-heap per key
  * (O(n log k), no sort, no full buffering) after clustering by key — at
  * 10^12 rows with small k that is the difference between a sort of the
  * whole shuffle output and a streaming pass.
  *
  * Distribution contract: the FINAL exec requires `ClusteredDistribution` —
  * EnsureRequirements inserts the hash exchange, so every key's rows meet in
  * one partition and the per-partition heaps are globally exact.
  *
  * Map-side partial (VERDICT r4 #5): the strategy plans the final exec over
  * a PARTIAL copy of itself with no distribution requirement — per-input-
  * partition k-heaps run BEFORE the exchange, so at most k rows per key per
  * input partition cross the shuffle. Correct because top-k-per-key is
  * combinable: topK(topK(p1) ∪ topK(p2) ∪ …) = topK(p1 ∪ p2 ∪ …) (any row
  * dropped by a partial heap is beaten by k rows of the same key that DO
  * cross). This is what keeps low-cardinality keys from serializing the
  * whole input through a handful of reduce tasks: with |keys| = 5 the
  * exchange moves ≤ 5k·P rows instead of every row, and the reduce-side
  * heaps stream a bounded input. The reduce side still runs one task per
  * key at worst — streaming a tiny input, not sorting the corpus (the
  * window formulation's trap, q_topk).
  */
final case class TopKPerKeyNode(
    groupExprs: Seq[Expression],
    order: SortOrder,
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  // round-5 review: k <= 0 would NPE in the exec (an empty heap's peek()
  // feeds the generated comparator) — fail at plan construction instead
  require(k >= 1, s"top-k per key needs k >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    order: SortOrder,
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(groupExprs)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupExprsLocal = groupExprs
    val orderLocal = order
    val kLocal = k
    val partialLocal = partial
    // Memory fallback for the PARTIAL (round-5 review): on high-cardinality
    // keys (keep-best-per-url dedup) a map-side heap per key retains ~the
    // whole partition where rows previously streamed straight into the
    // exchange. Beyond this many keys the partial stops admitting new
    // heaps and passes overflow-key rows through unchanged — emitting
    // MORE than top-k from the partial is always correct (the clustered
    // final pass prunes exactly), so this is the ObjectHashAggregate
    // fallback shape: bounded memory, graceful degradation to the
    // no-partial plan for the keys past the cap.
    val maxPartialKeys =
      if (partial) conf.getConfString("spark.graft.topk.maxPartialKeys", "65536").toInt
      else Int.MaxValue // the final MUST group every key it receives
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(groupExprsLocal, childOutput)
      val rowOrdering = GenerateOrdering.generate(Seq(orderLocal), childOutput)
      // per key: bounded heap holding the CURRENT top-k (max-heap on the
      // ordering so the worst retained row is at the head)
      val heaps = new java.util.HashMap[InternalRow,
        java.util.PriorityQueue[InternalRow]]()
      val passedThrough = rows.flatMap { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null && heaps.size() >= maxPartialKeys) {
          // overflow key on a partial: stream the row to the exchange
          // (consumed before the next iterator step — no copy needed)
          Iterator.single(row)
        } else {
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](kLocal + 1,
              rowOrdering.reversed())
            heaps.put(key.copy(), heap)
          }
          if (heap.size < kLocal) heap.add(row.copy())
          else if (rowOrdering.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.copy())
          }
          Iterator.empty
        }
      }
      // Lazy emission: pass-through rows stream first (while heaps fill),
      // then one k-bounded heap drains at a time (ascending order of the
      // SortOrder within each key) — no whole-partition output buffer.
      // Retained memory = k rows per key for at most maxPartialKeys keys
      // on a partial; on the final, k rows per distinct clustered key —
      // the same key-space bound as a hash aggregate over the grouping.
      import scala.jdk.CollectionConverters._
      passedThrough ++ heaps.values.iterator.asScala.flatMap { h =>
        val drained = new Array[InternalRow](h.size)
        var i = drained.length - 1
        while (i >= 0) { drained(i) = h.poll(); i -= 1 }
        drained.iterator
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to the exec (added to
  * `spark.experimental.extraStrategies` by `GraftBridge.topKPerKey`). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(g, o, k, child) =>
      // final over partial: the partial runs map-side (no distribution
      // requirement), EnsureRequirements inserts the exchange between them
      TopKPerKeyExec(g, o, k, partial = false,
        TopKPerKeyExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}
