package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort whose input is estimated at or below
  * `spark.sql.autoBroadcastJoinThreshold` as one sort over a single
  * partition. Spark's default plan is a range-partitioned exchange,
  * and its partitioner first runs a sampling job over the sort's
  * whole input plan to pick the range bounds, so the scan and compute
  * under the sort run twice. The threshold is the size Spark already
  * holds whole in one place for a broadcast; a larger input keeps the
  * range exchange, and a threshold of zero or less turns this off just
  * as it turns off broadcasts. `orderBy(...).limit(k)` is unaffected:
  * Spark plans it at the `Limit` node, as `TakeOrderedAndProject`,
  * before reaching the sort. */
object SmallSort extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOnePartition(child) =>
      SortExec(order, global = true, OnePartitionExec(planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold > 0 && child.stats.sizeInBytes <= threshold
  }

  /** Adds the strategy to the session once; later calls add nothing. */
  def install(s: SparkSession): Unit = {
    val exp = s.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this)) exp.extraStrategies :+= this
    }
  }
}

/** Its child's rows in one partition. Requiring all tuples lets Spark
  * add the single-partition exchange below it only when the child is
  * not in one partition already, as after a top-k, a global aggregate
  * or an unpartitioned window. */
private[graft] case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
