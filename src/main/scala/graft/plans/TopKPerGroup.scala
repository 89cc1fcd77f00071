package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per group as a first-class operator (extension tier (c):
  * custom LogicalPlan + Strategy + SparkPlan).
  *
  * The declarative formulation — `row_number().over(partitionBy(g)
  * .orderBy(o)) <= k` — shuffles EVERY row to the group's reducer and
  * sorts whole partitions before discarding all but k. This operator
  * plans two physical stages instead:
  *
  *   TopKFinalExec       (requires clustering on g; ≤ k rows out/group)
  *     +- Exchange       (inserted by EnsureRequirements)
  *        +- TopKPartialExec  (map-side bounded heaps: ≤ k rows/group
  *                             LEAVE each input partition)
  *
  * so the exchange moves at most k·groups·partitions rows — on a 100 TB
  * fact table with small k this is the difference between shuffling the
  * table and shuffling a rounding error. The same partial/final split
  * Spark applies to aggregates, applied to order statistics.
  *
  * The optimizer is the only way in: [[TopKRewriteRule]] builds this node
  * from the window idiom (`Pipe.topPerGroup`), and [[TopKStrategy]]
  * plans it; [[graft.functions.GraftExtensions]] installs both.
  */
final case class TopKPerGroup(groupExprs: Seq[Expression],
                              order: Seq[SortOrder], k: Int,
                              child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

abstract class TopKExecBase extends UnaryExecNode {
  def groupExprs: Seq[Expression]
  def order: Seq[SortOrder]
  def k: Int
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  /** Bounded-heap pass: keep the k best rows (under `order`) per group
    * within each partition. */
  protected def boundedTopK(rdd: RDD[InternalRow]): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val ord = order
    val kk = k
    rdd.mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gExprs, childOutput)
      // heap rows stay typed as InternalRow: the SparkPlan contract does
      // NOT guarantee UnsafeRow output (a child emitting
      // GenericInternalRow would ClassCastException on a cast), and
      // GenerateOrdering's BaseOrdering compares InternalRow directly
      val rowOrd: Ordering[InternalRow] = GenerateOrdering.generate(ord, childOutput)
      // max-heap under rowOrd: head = worst kept row, evicted first
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](rowOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) {
          heap.enqueue(row.copy())
        } else if (rowOrd.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator)
    }
  }
}

/** Map-side prune: no distribution requirement; ≤ k rows per group leave
  * each input partition. */
final case class TopKPartialExec(groupExprs: Seq[Expression],
                                 order: Seq[SortOrder], k: Int,
                                 child: SparkPlan) extends TopKExecBase {
  override protected def doExecute(): RDD[InternalRow] =
    boundedTopK(child.execute())
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Reduce-side finish: requires co-clustering on the group keys, so
  * EnsureRequirements inserts the (pruned) exchange below. */
final case class TopKFinalExec(groupExprs: Seq[Expression],
                               order: Seq[SortOrder], k: Int,
                               child: SparkPlan) extends TopKExecBase {
  override def requiredChildDistribution: Seq[Distribution] =
    // empty grouping = GLOBAL top-k: all partials must meet in one place
    // (UnspecifiedDistribution would emit k rows PER PARTITION)
    if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))
  override protected def doExecute(): RDD[InternalRow] =
    boundedTopK(child.execute())
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKFinalExec(g, o, k,
        TopKPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}
