package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** One job: start and end times, the call site its result stage is
    * named after (e.g. `parquet at Export.scala:458`), and the SQL
    * execution it ran under, if any. */
  private[graft] case class JobRec(start: Long, end: Long, site: String,
    execution: Option[Long])

  /** Records every job and stage of the passes it listens to, and the
    * call site of every SQL execution. */
  private[graft] final class Recorder extends SparkListener {
    private[graft] val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private[Profile] val stages = mutable.LinkedHashMap[Int, StageAgg]()
    private val executions = mutable.Map[Long, String]()

    // a job's result stage is created after its parents
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs(e.jobId) = JobRec(e.time, -1L,
        e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
        Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
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
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions(s.executionId) = s.description
      case _ =>
    }

    /** The name a job prints under: its own call site, except for a
      * job AQE submits to materialize a query stage. That job starts
      * from a pool thread, whose call site is Spark's
      * `withThreadLocalCaptured` wrapper, so it is named after the
      * call site of the SQL execution that owns it. */
    private[graft] def jobName(j: JobRec): String =
      if (!j.site.contains("withThreadLocalCaptured")) j.site
      else j.execution.flatMap(executions.get).getOrElse(j.site)

    private[Profile] def clear(): Unit = { jobs.clear(); stages.clear() }
  }

  /** One pass of `name` through the noop sink: its wall seconds,
    * returned once every event of the pass has reached `rec`. */
  private[graft] def runPass(spark: SparkSession, rec: Recorder,
      name: String, sfDir: String): Double = {
    rec.clear()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    GraftBridge.drainListenerBus(spark.sparkContext)
    wall
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [more...]")
    val sfDir = Session.sfDir
    BuildCache.enable()
    val spark = Session.local()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    args.foreach { name =>
      (1 to 2).foreach { pass =>
        val wall = runPass(spark, rec, name, sfDir)
        println(f"%n=== $name pass $pass: $wall%.2f s, ${rec.jobs.size} jobs, ${rec.stages.size} stages ===")
        val jobTotal = rec.jobs.values.collect { case j if j.end > 0 => j.end - j.start }.sum
        println(f"  sum(job walls) ${jobTotal / 1e3}%.2f s (gap to pass wall = driver/planning time)")
        rec.jobs.toSeq.sortBy { case (_, j) => j.start - j.end }.foreach {
          case (id, j) =>
            if (j.end > 0) println(f"  job $id%4d ${(j.end - j.start) / 1e3}%8.2f s  ${rec.jobName(j).take(80)}")
        }
        println("  top stages by task time:")
        rec.stages.toSeq.sortBy(-_._2.taskTimeMs).take(12).foreach { case (id, a) =>
          println(f"  stage $id%4d wall ${a.wallMs / 1e3}%7.2f s  taskTime ${a.taskTimeMs / 1e3}%7.2f s  " +
            f"tasks ${a.tasks}%4d  in ${a.inputMB}%7.1f MB  sr ${a.shufReadMB}%7.1f MB  " +
            f"sw ${a.shufWriteMB}%7.1f MB  ${a.name.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
