package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.util.control.NonFatal

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, udf}
import graft.ann.Ann

/** [[Par.run]] under failure: the first thunk failure cancels the
  * jobs its siblings are running and is rethrown, leaving no running
  * job and no changed session conf behind; without a failure the
  * thunks' jobs keep the caller's job group. A caller that persists
  * frames around Par.run (a55) releases them on that failure too.
  * A query cancelled while a one-partition sort gathers its input
  * inside the sort's job leaves nothing behind either.
  * [[Par.spread]]'s shuffle keeps the session's partition count under
  * AQE. */
class ParSpec extends SparkSpec {

  test("Par.spread plans a by-count shuffle that AQE does not coalesce") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val input = spark.range(64).toDF("id")
    // control: the same tiny input under a count-less repartition is
    // coalesced, so the input is small enough to show the difference
    assert(input.repartition(col("id")).queryExecution.toRdd.getNumPartitions < n)
    val spread = Par.spread(input, col("id"))
    val origins = spread.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.shuffleOrigin
    }
    assert(origins == Seq(REPARTITION_BY_NUM), origins)
    assert(spread.queryExecution.toRdd.getNumPartitions == n)
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq == (0L until 64L))
  }

  test("a failing thunk cancels its sibling's running job, then rethrows") {
    val sc = spark.sparkContext
    val confBefore = spark.conf.getAll
    val slowStarted = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Par.run(spark, Seq(
        // ~50 s if left to finish: 2 tasks of 500 rows at 100 ms a row
        () => sc.parallelize(1 to 1000, 2).map { i => Thread.sleep(100); i }.count(),
        () => {
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < deadline)
            Thread.sleep(10)
          slowStarted.set(sc.statusTracker.getActiveJobIds.nonEmpty)
          throw new IllegalStateException("injected")
        }))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(thrown.getMessage == "injected")
    assert(slowStarted.get, "the failure must strike while the sibling's job runs")
    assert(elapsed < 20, s"Par.run waited $elapsed s: the sibling job was not cancelled")
    // job ends reach the status tracker through the listener bus
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(spark.conf.getAll == confBefore)
  }

  test("the thunks' jobs carry the caller's job group and results keep input order") {
    var out: Seq[Long] = Nil
    val jobs = jobsOf {
      out = Par.run(spark, Seq(3L, 1L, 2L).map(n => () => spark.range(n).count()))
    }
    assert(out == Seq(3L, 1L, 2L))
    assert(jobs >= 3, s"only $jobs of the thunks' jobs carried the caller's group")
  }

  test("a55 leaves no cached frame, running job or conf change when a Par.run job is cancelled") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    val group = s"a55-fault-${System.nanoTime()}"
    val cancelled = new AtomicBoolean(false)
    // the first job a55's Par.run thunks submit cancels the caller's
    // job group, and every later job in it (small jobs could finish
    // before a plain cancel reaches them)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties.getProperty("spark.job.tags")).getOrElse("")
        if (e.properties.getProperty("spark.jobGroup.id") == group &&
            tags.contains("graft-par-") && cancelled.compareAndSet(false, true))
          sc.cancelJobGroupAndFutureJobs(group)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "a55 fault injection")
      try intercept[SparkException](Ann.a55PqTradeoff(spark, sfDir))
      finally sc.clearJobGroup()
    } finally sc.removeSparkListener(listener)
    assert(cancelled.get, "no job of a55's Par.run started")
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(sc.getPersistentRDDs.isEmpty, s"cached frames left: ${sc.getPersistentRDDs}")
    assert(spark.conf.getAll == confBefore)
  }

  test("cancelling a query's job tag while its sort gathers in-job leaves no job or frame behind") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    def q06 = SparkEntry.queries("q06_json_extract")(spark, sfDir)
    val expected = q06.collect().toSeq
    // q06 spread over the session's partitions once more, with a slow
    // column between the spread and the sort: it is computed in the
    // map stage of the gather inside the sort's job
    GatherFault.started.set(false)
    val slow = udf { (id: Long) => GatherFault.started.set(true); Thread.sleep(200); id }
    val gathered = Par.spread(q06, col("event_id"))
      .withColumn("slow", slow(col("event_id"))).orderBy("event_id")
    val p = gathered.queryExecution.executedPlan.toString
    assert(p.contains("OnePartition") && !p.contains("SinglePartition"), p)
    val tag = s"gather-fault-${System.nanoTime()}"
    val failure = new AtomicReference[Throwable]()
    val runner = new Thread(() => {
      sc.addJobTag(tag)
      try gathered.collect()
      catch { case NonFatal(e) => failure.set(e) }
      finally sc.removeJobTag(tag)
    })
    runner.start()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!GatherFault.started.get && System.nanoTime() < deadline) Thread.sleep(10)
    assert(GatherFault.started.get, "the gather's map stage never ran")
    sc.cancelJobsWithTag(tag)
    runner.join(30000)
    assert(!runner.isAlive, "the cancelled collect did not return")
    assert(failure.get.isInstanceOf[SparkException], failure.get)
    val idle = System.nanoTime() + 10L * 1000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < idle)
      Thread.sleep(10)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(sc.getPersistentRDDs.isEmpty, s"cached frames left: ${sc.getPersistentRDDs}")
    assert(spark.conf.getAll == confBefore)
    assert(q06.collect().toSeq == expected)
  }
}

/** Set by the gather fault-injection UDF once its map stage runs. */
private object GatherFault {
  val started = new AtomicBoolean(false)
}
