package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.internal.SQLConf

/** [[SmallSort]]: a global sort over an input estimated at or below
  * the broadcast threshold runs in one partition with no sampling
  * job and no exchange job: [[OnePartitionExec]] passes a child in one
  * partition through and gathers any other inside the sort's job.
  * Larger inputs, a disabled threshold and top-k limits keep Spark's
  * own plans. */
class SortPlanSpec extends SparkSpec {

  private def entry(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the broadcast threshold disabled, restored after. */
  private def withoutThreshold[T](body: => T): T = {
    val before = spark.conf.getAll.get(threshold)
    spark.conf.set(threshold, "-1")
    try body
    finally before match {
      case Some(v) => spark.conf.set(threshold, v)
      case None    => spark.conf.unset(threshold)
    }
  }

  /** `body` planned with the gather as a single-partition exchange
    * below the sort, the form that requires all tuples of its child. */
  private def withExchangeGather[T](body: => T): T = {
    val exp = spark.experimental
    val before = exp.extraStrategies
    exp.extraStrategies = ExchangeGatherSort +: before
    try body finally exp.extraStrategies = before
  }

  /** The shuffle bytes each job `body` submits writes, in job order. */
  private def shuffleWritesByJob(body: => Unit): Seq[Long] = {
    val stagesOf = new ConcurrentHashMap[Int, Seq[Int]]()
    val written = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "spec-body")
          stagesOf.put(e.jobId, e.stageIds)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val jobs = jobsOf(body)
      assert(stagesOf.size == jobs)
      stagesOf.asScala.toSeq.sortBy(_._1).map { case (_, stages) =>
        stages.map(st => written.getOrDefault(st, 0L)).sum
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def collected(df: DataFrame): (String, Int, Seq[Row]) = {
    var rows: Seq[Row] = Nil
    val jobs = jobsOf { rows = df.collect().toSeq }
    (plan(df), jobs, rows)
  }

  test("q02's presentation sort runs in one partition, with no range exchange") {
    val df = entry("q02_project_enrich")
    val p = plan(df)
    assert(p.contains("OnePartition"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(jobsOf { df.collect() } == 1)
  }

  test("with the threshold disabled q02 range-partitions again: two more jobs, same rows") {
    val (_, smallJobs, small) = collected(entry("q02_project_enrich"))
    val (rangedPlan, rangedJobs, ranged) = withoutThreshold(collected(entry("q02_project_enrich")))
    assert(rangedPlan.contains("rangepartitioning"), rangedPlan)
    assert(!rangedPlan.contains("SinglePartition"), rangedPlan)
    // the range sampler's job and the range exchange's stage job
    assert(rangedJobs == smallJobs + 2, s"range sort $rangedJobs jobs, one-partition sort $smallJobs")
    assert(small.nonEmpty)
    assert(small == ranged)
  }

  test("q06's spread child is gathered inside its job: one job fewer than an exchange, same rows") {
    val df = entry("q06_json_extract")
    val p = plan(df)
    assert(p.contains("OnePartition") && !p.contains("SinglePartition"), p)
    var rows: Seq[Row] = Nil
    val writes = shuffleWritesByJob { rows = df.collect().toSeq }
    // the spread's stage job, then the sort's job, whose gather writes
    // the spread's partitions into one
    assert(writes.size == 2 && writes.forall(_ > 0), writes)
    val (exchangePlan, exchangeJobs, viaExchange) =
      withExchangeGather(collected(entry("q06_json_extract")))
    assert(exchangePlan.contains("Exchange SinglePartition"), exchangePlan)
    assert(writes.size == exchangeJobs - 1, s"gather ${writes.size} jobs, exchange $exchangeJobs")
    val (_, _, ranged) = withoutThreshold(collected(entry("q06_json_extract")))
    assert(rows.nonEmpty)
    assert(rows == ranged)
    assert(rows == viaExchange)
  }

  test("an empty file subset has no partitions and sorts to zero rows in one") {
    val orders = s"$sfDir/orders.parquet"
    val df = Tables.parquet(spark, orders, Nil).orderBy("o_orderkey")
    val p = plan(df)
    assert(p.contains("OnePartition"), p)
    assert(df.collect().isEmpty)
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
  }

  test("q18's sort input is estimated above the threshold and keeps range partitioning") {
    // the rollup's inner joins are estimated at the product of their
    // sides, far above the threshold even at sf0.001
    val p = plan(entry("q18_rollup"))
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("orderBy(...).limit(k) still plans TakeOrderedAndProject; re-sorting it adds no exchange") {
    val byPrice = Seq(col("o_totalprice").desc, col("o_orderkey"))
    val top = Tables.orders(spark, sfDir).orderBy(byPrice: _*).limit(5)
    val p = plan(top)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the t60Present shape: a top-k is already in one partition, so
    // ranking and re-sorting it needs no exchange of any kind, and the
    // sort's gather passes it through without a shuffle
    val ranked = top.withColumn("rank", row_number().over(Window.orderBy(byPrice: _*)))
      .orderBy(col("rank").desc)
    val rp = plan(ranked)
    assert(rp.contains("OnePartition") && !rp.contains("Exchange"), rp)
    var ranks: Seq[Int] = Nil
    val writes = shuffleWritesByJob { ranks = ranked.collect().map(_.getAs[Int]("rank")).toSeq }
    assert(writes == Seq(0L), writes)
    assert(ranks == Seq(5, 4, 3, 2, 1))
  }

  test("the strategy is installed once per session, however many loads") {
    def installed(s: org.apache.spark.sql.SparkSession): Int =
      s.experimental.extraStrategies.count(_ eq SmallSort)
    (1 to 5).foreach(_ => Tables.orders(spark, sfDir))
    assert(installed(spark) == 1)
    // a fresh session starts without it; concurrent first loads add it once
    val fresh = spark.newSession()
    assert(installed(fresh) == 0)
    val threads = (1 to 8).map(_ => new Thread(() =>
      (1 to 10).foreach(_ => Tables.nation(fresh, sfDir))))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(installed(fresh) == 1)
  }
}

/** The one-partition sort with its gather planned as an exchange: a
  * pass-through that requires all tuples of its child, so Spark puts
  * a single-partition exchange below it. */
private object ExchangeGatherSort extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if child.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold =>
      SortExec(order, global = true, AllTuplesExec(planLater(child))) :: Nil
    case _ => Nil
  }
}

private case class AllTuplesExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): AllTuplesExec =
    copy(child = newChild)
}
