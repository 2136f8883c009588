package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{ShuffledRowRDD, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
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
  * before reaching the sort. The input reaches one partition through
  * [[OnePartitionExec]], inside the sort's own job. */
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

/** Its child's rows in one partition, gathered inside the job that
  * reads them. Requiring `AllTuples` instead would make Spark plan a
  * single-partition exchange below the sort whenever the child's
  * planned partitioning is not already one partition (a file scan
  * reports unknown partitioning, a hash exchange the session's count),
  * and under AQE every exchange is a job of its own, with its own
  * re-optimization, even where AQE has already coalesced the child to
  * one partition. So the child is taken as it runs: one partition
  * passes through unchanged (a coalesced shuffle, a top-k, a global
  * aggregate, a one-split scan), none becomes one empty partition, and
  * more are shuffled into one in the same job, as Spark's
  * `TakeOrderedAndProjectExec` gathers its local top-k. No stage below
  * changes its task count: the sort above runs in one task either
  * way. */
private[graft] case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = readMetrics ++ writeMetrics

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    rdd.getNumPartitions match {
      case 1 => rdd
      case 0 => sparkContext.parallelize(Seq.empty[InternalRow], 1)
      case _ => new ShuffledRowRDD(
        ShuffleExchangeExec.prepareShuffleDependency(rdd, child.output, SinglePartition,
          new UnsafeRowSerializer(child.output.size), writeMetrics),
        readMetrics)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
