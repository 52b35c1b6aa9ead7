package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension — the last rung of the custom-op
  * ladder after expressions (FloatDot), optimizer rules (DotFusion) and
  * typed Aggregators (ExactStats): a custom LOGICAL node, planned by a
  * custom STRATEGY into a custom PHYSICAL operator.
  *
  * The operator is exact top-k per group, the q15 shape. The built-in
  * plan is `row_number() OVER (PARTITION BY g ORDER BY v)` + filter:
  * a full sort of EVERY group's rows (O(n log n) per partition, sort
  * buffers sized by the whole partition, spill when big). This
  * operator keeps one bounded k-heap per group instead: O(n log k)
  * comparisons and k·|groups-per-partition| rows of memory — the same
  * memory regime as hash aggregation, NOT unconditionally better than
  * the window: when rows-per-group ≫ k it streams past data the sort
  * would buffer, but it has no spill path, so for extreme group
  * cardinality per partition (k·groups approaching partition size)
  * the spilling window sort is the right plan and this operator is
  * the wrong one. Pick it the way you'd pick hash agg over sort agg.
  * The shuffle is unchanged (the node DECLARES
  * `ClusteredDistribution(group)` and lets Spark plan the exchange —
  * distribution contracts, not hand-wired exchanges).
  */
case class TopKPerGroupNode(k: Int, group: Seq[Expression],
                            order: Expression, tie: Expression,
                            child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class TopKPerGroupExec(k: Int, group: Seq[Expression],
                            order: Expression, tie: Expression,
                            child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** Same-group rows must co-locate; Spark inserts (or elides, if the
    * child is already partitioned compatibly) the exchange. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val orderExpr = order
    val tieExpr = tie
    val childOutput = child.output
    val kk = k
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      // rank order: better rows FIRST (value desc, tie asc) — the
      // codegen'd/interpreted ordering Spark's own sorts use
      val rankOrd = RowOrdering.create(
        Seq(SortOrder(orderExpr, Descending), SortOrder(tieExpr, Ascending)),
        childOutput)
      val heaps =
        mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      rows.foreach { row =>
        // probe with the projection's REUSED row; copy the key only on
        // first insertion — the hot path allocates nothing
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            // max-heap under rankOrd ⇒ head is the WORST kept row
            val h = mutable.PriorityQueue.empty[InternalRow](rankOrd)
            heaps.put(probe.copy(), h)
            h
        }
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (rankOrd.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.reverseIterator // best-first within the group
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Plans the logical node; everything else falls through to Spark.
  * Every session carries it: [[graft.functions.GraftExtensions]]
  * injects it at session build. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(k, g, o, t, child) =>
      TopKPerGroupExec(k, g, o, t, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopK {

  /** Exact top-`k` rows per `groupCols`, ranked by `orderCol`
    * descending with `tieCol` ascending as the deterministic
    * tiebreak. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   tieCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(groupCols.nonEmpty,
      "topKPerGroup requires at least one group column (for global " +
        "top-k use orderBy(...).limit(k) — Spark plans TakeOrdered)")
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(sys.error(s"no column '$name' in ${analyzed.output}"))
    GraftBridge.ofRows(df.sparkSession,
      TopKPerGroupNode(k, groupCols.map(attr), attr(orderCol), attr(tieCol),
        analyzed))
  }
}
