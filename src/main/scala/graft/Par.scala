package graft

import java.util.UUID
import java.util.concurrent.{CancellationException, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver-side parallelism decisions, made in one place. */
private[graft] object Par {

  /** Hash-spreads `df` on `keys` over the session's shuffle-partition
    * count. Every explicit-count spread in the engine goes through here,
    * so the count is decided in one place.
    *
    * The count is explicit on purpose. A by-column repartition without
    * one is an AQE-coalescible shuffle, and a stream that is tiny in
    * BYTES but explodes downstream (band buckets, self-join candidates)
    * gets coalesced to one partition — measured at sf0.1, the whole
    * 12M-pair minhash explosion ran in ONE task. A repartition with a
    * count plans as REPARTITION_BY_NUM, which AQE never coalesces
    * (`ParSpec` pins this). */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(shufflePartitions(df.sparkSession), keys: _*)

  /** The session's `spark.sql.shuffle.partitions`, so the count is the
    * cluster's own setting, not a local constant. Some deployments set
    * the conf to a non-numeric value (e.g. an "auto" shuffle mode):
    * that falls back to Spark's default of 200, visibly, so the drift
    * can be found in the logs. */
  private def shufflePartitions(s: SparkSession): Int =
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
    * Results come back in input order. The first thunk failure stops
    * the rest before it is rethrown: thunks not yet started are
    * skipped, and every Spark job the running ones submitted is
    * cancelled through one job tag per call, so no sibling job keeps
    * computing for a result nobody will read. A tag, not a job group:
    * the pool threads inherit the caller's group (the label a trace
    * attributes their jobs by), and setting a group would replace it.
    * The pool is bounded (default 4 in flight — enough to fill a stage
    * tail, not so many that jobs fight for task slots) and shut down
    * before this returns; every thunk has ended by then, after a
    * failure too, so no thread leaks across invocations. */
  def run[T](s: SparkSession, thunks: Seq[() => T], maxInFlight: Int = 4): Seq[T] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      val sc = s.sparkContext
      val tag = s"graft-par-${UUID.randomUUID()}"
      val failed = new AtomicBoolean(false)
      val pool = Executors.newFixedThreadPool(math.min(thunks.size, maxInFlight))
      val done = new ExecutorCompletionService[(Int, T)](pool)
      thunks.zipWithIndex.foreach { case (t, i) =>
        done.submit { () =>
          if (failed.get) throw new CancellationException("a sibling thunk failed")
          sc.addJobTag(tag)
          (i, t())
        }
      }
      try {
        val out = new Array[Any](thunks.size)
        thunks.foreach { _ =>
          val (i, v) =
            try done.take().get() catch { case e: ExecutionException => throw e.getCause }
          out(i) = v
        }
        out.toSeq.asInstanceOf[Seq[T]]
      } catch { case e: Throwable =>
        failed.set(true)
        pool.shutdown()
        do sc.cancelJobsWithTag(tag)
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        throw e
      } finally pool.shutdown()
    }
}
