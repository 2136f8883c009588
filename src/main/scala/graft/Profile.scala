package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job/per-stage attribution for ONE registered query — the
  * guide §1 "empirical" loop without a UI (headless sandbox):
  * runs the named query through the noop sink twice (cold, warm)
  * with a listener that records every job's wall time and every
  * stage's task-time / shuffle-bytes totals, then prints a summary
  * sorted by cost. Artifact construction is memoized as in the bench
  * ([[BuildCache]] on), so pass 1 of a build/probe entry is its build
  * and pass 2 the served read the bench times. Usage:
  *
  *   sbt "runMain graft.Profile <name> [<name2> ...]"
  *
  * Runs on [[Session.local]] over [[Session.sfDir]]. The
  * instrument never runs in the bench or verify paths. */
object Profile {
  private case class StageAgg(var name: String = "", var taskTimeMs: Long = 0,
    var tasks: Int = 0, var shufReadMB: Double = 0, var shufWriteMB: Double = 0,
    var inputMB: Double = 0, var outputMB: Double = 0, var wallMs: Long = 0)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [more...]")
    val sfDir = Session.sfDir
    BuildCache.enable()
    val spark = Session.local()

    val jobs = mutable.LinkedHashMap[Int, (Long, Long, String)]() // id -> (start, end, call site)
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    val listener = new SparkListener {
      // a job's result stage is created after its parents and is named
      // after the job's call site, e.g. `parquet at Export.scala:458`
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs(e.jobId) = (e.time, -1L, e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { case (s, _, d) => jobs(e.jobId) = (s, e.time, d) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val a = stages.getOrElseUpdate(i.stageId, StageAgg())
        a.name = i.name
        a.wallMs = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = stages.getOrElseUpdate(e.stageId, StageAgg())
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.taskTimeMs += m.executorRunTime
          a.shufReadMB += (m.shuffleReadMetrics.totalBytesRead) / 1e6
          a.shufWriteMB += m.shuffleWriteMetrics.bytesWritten / 1e6
          a.inputMB += m.inputMetrics.bytesRead / 1e6
          a.outputMB += m.outputMetrics.bytesWritten / 1e6
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val q = SparkEntry.queries(name)
      (1 to 2).foreach { pass =>
        jobs.clear(); stages.clear()
        val t0 = System.nanoTime()
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the listener bus drain
        println(f"%n=== $name pass $pass: $wall%.2f s, ${jobs.size} jobs, ${stages.size} stages ===")
        val jobTotal = jobs.values.collect { case (s, e, _) if e > 0 => e - s }.sum
        println(f"  sum(job walls) ${jobTotal / 1e3}%.2f s (gap to pass wall = driver/planning time)")
        jobs.toSeq.sortBy { case (_, (s, e, _)) => s - e }.foreach {
          case (id, (s, e, site)) =>
            if (e > 0) println(f"  job $id%4d ${(e - s) / 1e3}%8.2f s  ${site.take(80)}")
        }
        println("  top stages by task time:")
        stages.toSeq.sortBy(-_._2.taskTimeMs).take(12).foreach { case (id, a) =>
          println(f"  stage $id%4d wall ${a.wallMs / 1e3}%7.2f s  taskTime ${a.taskTimeMs / 1e3}%7.2f s  " +
            f"tasks ${a.tasks}%4d  in ${a.inputMB}%7.1f MB  sr ${a.shufReadMB}%7.1f MB  " +
            f"sw ${a.shufWriteMB}%7.1f MB  ${a.name.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
