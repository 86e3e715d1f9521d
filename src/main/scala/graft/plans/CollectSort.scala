package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Plans a collected global ORDER BY over a small child as a
  * [[CollectSortExec]]: `ReturnAnswer(Sort(order, global = true, child))`
  * whose `child.stats.sizeInBytes` is within
  * `spark.sql.autoBroadcastJoinThreshold`, read at each planning, so AQE's
  * re-planning decides again on a finished stage's runtime size. That
  * threshold is Spark's own measure of what the driver may hold; -1 turns
  * the strategy off.
  *
  * Spark plans such a sort as a range exchange, whose `RangePartitioner`
  * runs a sampling job that recomputes the whole child stage, then the
  * shuffle, then per-partition sorts, and the caller collects the rows to
  * the driver anyway. Finishing collected work on the driver is what
  * Spark's own `CollectLimitExec` and `TakeOrderedAndProjectExec` do.
  * A `Limit` over the sort is not matched: Spark's `SpecialLimits` plans
  * it as `TakeOrderedAndProject`.
  */
object CollectSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) if fitsDriver(child) =>
      CollectSortExec(order, planLater(child)) :: Nil
    case _ => Nil
  }

  private def fitsDriver(child: LogicalPlan): Boolean = {
    val bound = SQLConf.get.autoBroadcastJoinThreshold
    val size = child.stats.sizeInBytes
    bound >= 0 && size >= 0 && size <= bound
  }
}

/** A global sort at the root of a query.
  *
  * `executeCollect` (`collect()`, and AQE's final `ResultQueryStage`)
  * collects the child and sorts the rows on the driver with a stable
  * sort and the ordering `TakeOrderedAndProjectExec` uses, so nulls
  * first/last, NaN, -0.0 and collations order as in `SortExec`.
  *
  * `doExecute` (`toLocalIterator`, `queryExecution.toRdd`, a persisted
  * frame's cache build) runs the distributed sort Spark would have
  * planned: a range exchange over `spark.sql.shuffle.partitions`, then
  * `SortExec`. The node declares that plan's partitioning and ordering.
  * `Dataset.rdd` and writes plan their own queries, without this node.
  */
case class CollectSortExec(order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputOrdering: Seq[SortOrder] = order

  override def outputPartitioning: Partitioning =
    RangePartitioning(order, conf.numShufflePartitions)

  override def executeCollect(): Array[InternalRow] = {
    // a copy: some children (LocalTableScanExec) hand out their own array
    val rows = child.executeCollect().clone()
    java.util.Arrays.sort(rows, new LazilyGeneratedOrdering(order, child.output))
    rows
  }

  // built under the node's own session, as the planner builds nodes:
  // an internal RDD or a cache build may run where no session is active
  @transient private lazy val rangeSort: SparkPlan = GraftSqlBridge.withActive(session) {
    SortExec(order, global = true, ShuffleExchangeExec(outputPartitioning, child))
  }

  override protected def doExecute(): RDD[InternalRow] = rangeSort.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): CollectSortExec =
    copy(child = newChild)
}
