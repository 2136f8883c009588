package graft

import java.util.concurrent.atomic.AtomicBoolean

/** [[Par.run]] under failure: the first thunk failure cancels the
  * jobs its siblings are running and is rethrown, leaving no running
  * job and no changed session conf behind; without a failure the
  * thunks' jobs keep the caller's job group. */
class ParSpec extends SparkSpec {

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
}
