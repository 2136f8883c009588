package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counts of a traced run, kept in memory and
  * written out when the run ends.
  *
  * Spans nest run → pass → entry → phase → job → stage; each records
  * the span that caused it. The driver-side spans are opened by the
  * benchmark around its calls into the engine; each phase sets a Spark
  * job group whose description is the phase's span id, so the
  * listener can hang jobs and stages (also those of `Par.run` threads,
  * which inherit the group) under the phase that submitted them. */
final class Trace(workload: String) {

  final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, val start: Double) {
    @volatile var end: Double = -1
    def dur: Double = math.max(0.0, end - start)
  }

  /** Task totals of one stage attempt. */
  final class Stage(val span: Span) {
    var tasks, inputTasks = 0
    var runMs, inputRunMs, cpuNs, inRecords, inBytes, swBytes, swRecords,
      srBytes, spill, outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseOf = mutable.Map.empty[Int, Int] // job or stage span → phase span
  private val jobSpans = mutable.Map.empty[Int, Span] // Spark job id → span
  private val stageJob = mutable.Map.empty[Int, Int] // Spark stage id → job id
  private val stages = mutable.Map.empty[(Int, Int), Stage]
  private val cacheLeftBy = mutable.Map.empty[Int, (Int, Long)]
  private var qe = Array(0L, 0L, 0L, 0L) // analysis, optimization, planning ms; failures

  private def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  private def add(parent: Int, kind: String, name: String, start: Double): Span =
    synchronized {
      val s = new Span(spans.size + 1, parent, kind, name, start)
      spans += s
      s
    }

  val runSpan: Int = add(0, "run", workload, nowMs()).id

  def open(kind: String, name: String, parent: Int): Int = add(parent, kind, name, nowMs()).id

  def close(id: Int): Unit = if (id > 0) synchronized {
    spans(id - 1).end = nowMs()
  }

  def cacheLeft(entry: Int, frames: Int, bytes: Long): Unit =
    synchronized { cacheLeftBy(entry) = (frames, bytes) }

  private def descParent(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .flatMap(_.toIntOption).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val s = add(descParent(e.properties), "job", s"job ${e.jobId}", e.time.toDouble)
      jobSpans(e.jobId) = s
      phaseOf(s.id) = s.parent
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val job = stageJob.get(i.stageId).flatMap(jobSpans.get)
      val s = add(job.map(_.id).getOrElse(-1), "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
      phaseOf(s.id) = job.map(j => phaseOf(j.id)).getOrElse(descParent(e.properties))
      stages((i.stageId, i.attemptNumber())) = new Stage(s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach(
        _.span.end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (st <- stages.get((e.stageId, e.stageAttemptId)); m <- Option(e.taskMetrics)) {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.durations += e.taskInfo.duration
        val in = m.inputMetrics
        st.inRecords += in.recordsRead
        st.inBytes += in.bytesRead
        if (in.recordsRead > 0) { st.inputTasks += 1; st.inputRunMs += m.executorRunTime }
        st.swBytes += m.shuffleWriteMetrics.bytesWritten
        st.swRecords += m.shuffleWriteMetrics.recordsWritten
        st.srBytes += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Adds the analysis time of an entry's DataFrame, which Spark spends
    * when the entry builds it, before any action. */
  def analyzed(q: QueryExecution): Unit = synchronized {
    qe(0) += q.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val p = q.tracker.phases
        Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
          qe(i) += p.get(k).map(_.durationMs).getOrElse(0L)
        }
      }
    override def onFailure(funcName: String, q: QueryExecution, error: Exception): Unit =
      Trace.this.synchronized { qe(3) += 1 }
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Length of the union of `[start, end)` intervals. */
  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > reach) { total += e - s; reach = e; first = false }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer numbers of the last pass span: counts and times summed
    * over its entries. `wallSec` is the pass wall time, for slot use. */
  def passLayers(cores: Int, wallSec: Double): Map[String, Double] = synchronized {
    val pass = spans.filter(_.kind == "pass").last
    val entries = spans.filter(s => s.kind == "entry" && s.parent == pass.id)
    val entryIds = entries.map(_.id).toSet
    val phases = spans.filter(s => s.kind == "phase" && entryIds(s.parent))
    val phaseById = phases.map(p => p.id -> p).toMap
    val jobs = jobSpans.values.filter(j => phaseById.contains(phaseOf(j.id))).toSeq
    val sts = stages.values.filter(s => phaseById.contains(phaseOf(s.span.id))).toSeq
    val jobsByEntry = jobs.groupBy(j => phaseById(phaseOf(j.id)).parent)
    val unions = entries.map(e =>
      unionMs(jobsByEntry.getOrElse(e.id, Nil).map(j => (j.start, j.end))))
    val jobSum = jobs.map(_.dur).sum
    val unionSum = unions.sum
    def phaseSum(name: String) = phases.filter(_.name == name).map(_.dur).sum / 1e3
    val taskMs = sts.map(_.runMs).sum
    // worst stage skew among stages with real work (>= 2 tasks, >= 100 ms)
    val skew = sts.filter(s => s.tasks >= 2 && s.runMs >= 100).map { s =>
      val m = median(s.durations.map(_.toDouble).toSeq)
      if (m > 0) s.durations.max / m else 1.0
    }.maxOption.getOrElse(1.0)
    val scanStages = sts.filter(_.inRecords > 0)
    val left = entries.flatMap(e => cacheLeftBy.get(e.id))
    val out = Map(
      "driver.analysis_s" -> qe(0) / 1e3,
      "driver.optimize_s" -> qe(1) / 1e3,
      "driver.plan_s" -> qe(2) / 1e3,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> sts.size.toDouble,
      "driver.tasks" -> sts.map(_.tasks).sum.toDouble,
      "driver.outside_jobs_s" -> (entries.map(_.dur).sum - unionSum) / 1e3,
      "driver.job_overlap" -> (if (unionSum > 0) jobSum / unionSum else 1.0),
      "SparkEntry.construct_s" -> phaseSum("construct"),
      "SparkEntry.construct_jobs" ->
        jobs.count(j => phaseById(phaseOf(j.id)).name == "construct").toDouble,
      "SparkEntry.execute_s" -> phaseSum("execute"),
      "Tables.scan_rows" -> scanStages.map(_.inRecords).sum.toDouble,
      "Tables.scan_bytes" -> scanStages.map(_.inBytes).sum.toDouble,
      "Tables.scan_tasks_per_stage" ->
        (if (scanStages.isEmpty) 0.0
         else scanStages.map(_.inputTasks).sum.toDouble / scanStages.size),
      "Tables.scan_task_s" -> scanStages.map(_.inputRunMs).sum / 1e3,
      "exchange.write_bytes" -> sts.map(_.swBytes).sum.toDouble,
      "exchange.read_bytes" -> sts.map(_.srBytes).sum.toDouble,
      "exchange.records" -> sts.map(_.swRecords).sum.toDouble,
      "exchange.map_stages" -> sts.count(_.swBytes > 0).toDouble,
      "compute.task_s" -> taskMs / 1e3,
      "compute.cpu_s" -> sts.map(_.cpuNs).sum / 1e9,
      "compute.skew" -> skew,
      "compute.spill_bytes" -> sts.map(_.spill).sum.toDouble,
      "compute.slot_util" -> (if (wallSec > 0) taskMs / 1e3 / (wallSec * cores) else 0.0),
      "cache.frames_left" -> left.map(_._1).sum.toDouble,
      "cache.bytes_left" -> left.map(_._2).sum.toDouble,
      "driver.failed_queries" -> qe(3).toDouble)
    qe = Array(0L, 0L, 0L, 0L)
    out
  }

  /** Bytes written by the jobs run in `build` phases. */
  def buildWriteBytes(): Long = synchronized {
    val build = spans.filter(s => s.kind == "phase" && s.name == "build").map(_.id).toSet
    stages.values.filter(s => build(phaseOf(s.span.id))).map(_.outBytes).sum
  }

  /** Writes every span with its self time (its duration minus the part
    * its children cover) as JSON lines; returns the path. */
  def write(path: String): String = synchronized {
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (s.dur - unionMs(kids.toSeq)))))
    } finally w.close()
    path
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
