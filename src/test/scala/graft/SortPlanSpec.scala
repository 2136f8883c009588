package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** [[SmallSort]]: a global sort over an input estimated at or below
  * the broadcast threshold runs in one partition with no sampling
  * job, while larger inputs, a disabled threshold and top-k limits
  * keep Spark's own plans. */
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

  test("q02's presentation sort runs in one partition, with no range exchange") {
    val p = plan(entry("q02_project_enrich"))
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("with the threshold disabled q02 range-partitions again: one more job, same rows") {
    def collected(df: DataFrame): (String, Int, Seq[Row]) = {
      var rows: Seq[Row] = Nil
      val jobs = jobsOf { rows = df.collect().toSeq }
      (plan(df), jobs, rows)
    }
    val (_, smallJobs, small) = collected(entry("q02_project_enrich"))
    val (rangedPlan, rangedJobs, ranged) = withoutThreshold(collected(entry("q02_project_enrich")))
    assert(rangedPlan.contains("rangepartitioning"), rangedPlan)
    assert(!rangedPlan.contains("SinglePartition"), rangedPlan)
    assert(rangedJobs == smallJobs + 1, s"range sort $rangedJobs jobs, one-partition sort $smallJobs")
    assert(small.nonEmpty)
    assert(small == ranged)
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
    // ranking and re-sorting it needs no exchange of any kind
    val ranked = top.withColumn("rank", row_number().over(Window.orderBy(byPrice: _*)))
      .orderBy(col("rank").desc)
    val rp = plan(ranked)
    assert(rp.contains("OnePartition") && !rp.contains("Exchange"), rp)
    assert(ranked.collect().map(_.getAs[Int]("rank")).toSeq == Seq(5, 4, 3, 2, 1))
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
