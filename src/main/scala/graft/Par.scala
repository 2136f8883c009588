package graft

import org.apache.spark.sql.SparkSession

/** Driver-side parallelism decisions, made in one place. */
private[graft] object Par {

  /** The session's `spark.sql.shuffle.partitions`: the partition COUNT
    * the explicit repartitions pin. A by-column repartition is an
    * AQE-coalescible shuffle, and a stream that is tiny in BYTES but
    * explodes downstream (band buckets, self-join candidates) gets
    * coalesced to one partition — measured at sf0.1, the whole
    * 12M-pair minhash explosion ran in ONE task. An explicit-number
    * repartition plans as REPARTITION_BY_NUM, which AQE never
    * coalesces, and the value is the cluster's own setting, not a
    * local constant. Some deployments set the conf to a non-numeric
    * value (e.g. an "auto" shuffle mode): that falls back to Spark's
    * default of 200, visibly, so the drift can be found in the logs. */
  def shufflePartitions(s: SparkSession): Int =
    try s.conf.get("spark.sql.shuffle.partitions").toInt
    catch {
      case _: NumberFormatException | _: NoSuchElementException =>
        System.err.println(
          "[graft] spark.sql.shuffle.partitions is not a number; using 200")
        200
    }

  /** Overlap of INDEPENDENT Spark actions (optimization guide §2.6):
    * Spark's scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because the driver
    * calls them sequentially. Used for eager cache warm-ups (d51/d53's
    * truth+candidate counts, a55's per-grid-point encode passes) and
    * the fold's per-generation state writes: each thunk materializes a
    * DISTINCT frame or artifact, so there is no cold-cache race between
    * them, and overlapping them lets a small job back-fill the executor
    * tail of a large one instead of waiting for it.
    *
    * Results come back in input order. Any thunk failure rethrows
    * (Await propagates the first), preserving fail-stop semantics. The
    * pool is bounded (default 4 in flight — enough to fill a stage
    * tail, not so many that jobs fight for task slots) and torn down
    * before returning, so no thread leaks across invocations. */
  def run[T](thunks: Seq[() => T], maxInFlight: Int = 4): Seq[T] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, maxInFlight))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.sequence(thunks.map(t => Future(t()))), Duration.Inf)
      finally pool.shutdown()
    }
}
