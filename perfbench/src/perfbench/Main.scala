package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{BuildCache, SparkEntry, Tables}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM: one Spark driver thread submits the workload's
  * entries one after another (a closed loop with a single client).
  *
  * Modes:
  *   - `setup`: JVM launch to session ready with the tables resolved,
  *     then exit; `run.py` takes the median of this and the run's own.
  *   - `run`: set up, then a cold pass into the noop sink (so the whole
  *     plan executes), an untimed check pass that writes every result as
  *     parquet for the digest check, and warm passes into the noop sink
  *     (each in a seed-chosen order) while another one fits in
  *     `--seconds`. With `--trace 1` a listener records spans and
  *     per-layer counts; traced and untraced warm passes alternate, so
  *     the difference of their medians is the tracing overhead.
  *   - `oracles`: print the DuckDB oracle SQL of the given entries.
  *
  * Every line meant for `run.py` goes to stdout with a `SETUP`,
  * `RESULT` or `ORACLES` prefix; Spark logs go to stderr. */
object Main {

  private def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def arg(args: Array[String], key: String, default: String = null): String = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else if (default != null) default
    else throw new IllegalArgumentException(s"missing --$key")
  }

  def main(args: Array[String]): Unit = {
    val mainNs = nowNs()
    val mode = arg(args, "mode")
    val entries = arg(args, "entries").split(",").toSeq.filter(_.nonEmpty)
    if (mode == "oracles") {
      val sql = SparkEntry.oracleSql
      println("ORACLES " + Json(entries.filter(sql.contains).map(e => e -> sql(e)).toMap))
      return
    }
    val launchedNs = arg(args, "launched").toLong
    val data = arg(args, "data")
    val work = arg(args, "work")
    val cores = arg(args, "cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkNs = nowNs()
    val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem, Tables.events,
      Tables.documents, Tables.embeddings)
    loaders.foreach(load => load(spark, data).schema)
    val readyNs = nowNs()
    val setup = Map(
      "setup_s" -> (readyNs - launchedNs) / 1e9,
      "session.jvm_s" -> (mainNs - launchedNs) / 1e9,
      "session.spark_s" -> (sparkNs - mainNs) / 1e9,
      "session.tables_s" -> (readyNs - sparkNs) / 1e9)
    println("SETUP " + Json(setup))
    try {
      if (mode == "run") {
        val run = new Run(spark, arg(args, "workload"), data, work, cores,
          entries, arg(args, "writers", "").split(",").filter(_.nonEmpty).toSet,
          arg(args, "seed").toLong, arg(args, "seconds").toDouble,
          arg(args, "trace") == "1")
        println("RESULT " + Json(run.execute() + ("setup" -> setup)))
      }
    } finally spark.stop()
  }

  /** Resident-set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** Wall times of one entry execution; `build` is the part its first
  * invocation spends constructing an artifact. */
private final case class EntryTime(name: String, construct: Double,
    execute: Double, build: Double) {
  def latency: Double = construct + execute - build
}

/** One measured run of a workload. */
final class Run(spark: SparkSession, workload: String, data: String,
    work: String, cores: Int, entries: Seq[String], writers: Set[String],
    seed: Long, seconds: Double, tracing: Boolean) {

  private val sc = spark.sparkContext
  private val trace = new Trace(workload)
  private val failed = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  /** Files and bytes under the program's scratch directories, which is
    * where artifact writers put what they build. */
  private def scratchUsage(): (Long, Long) = {
    val root = new java.io.File(sys.props("java.io.tmpdir"))
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val files = Option(root.listFiles()).iterator.flatten
      .filter(_.getName.startsWith("graft_")).flatMap(walk).toSeq
    (files.size.toLong, files.map(_.length).sum)
  }

  private var buildFiles = 0L
  private var buildBytes = 0L

  /** One pass over `order`; `kind` is cold, check, settle or warm. A
    * check pass writes every result as parquet under `work/check`. */
  private def pass(order: Seq[String], kind: String, traced: Boolean): Seq[EntryTime] = {
    val cold = kind == "cold"
    val check = kind == "check"
    val passSpan = if (traced) trace.open("pass", kind, trace.runSpan) else -1
    val out = order.flatMap { name =>
      spark.catalog.clearCache()
      val entrySpan = if (traced) trace.open("entry", name, passSpan) else -1
      attempted += 1
      val b0 = BuildCache.totalBuildSec
      val measureBuild = traced && cold && writers(name)
      val usage0 = if (measureBuild) scratchUsage() else (0L, 0L)
      def phase(p: String): Int =
        if (!traced) -1
        else {
          val id = trace.open("phase", p, entrySpan)
          sc.setJobGroup(s"$workload/$name/$p", id.toString, interruptOnCancel = false)
          id
        }
      val t0 = System.nanoTime()
      val result = try {
        val cp = phase(if (cold && writers(name)) "build" else "construct")
        val df = SparkEntry.queries(name)(spark, data)
        if (traced) trace.analyzed(df.queryExecution)
        trace.close(cp)
        val t1 = System.nanoTime()
        val ep = phase(if (check) "check" else "execute")
        if (check) df.write.mode("overwrite").parquet(s"$work/check/$name")
        else df.write.format("noop").mode("overwrite").save()
        trace.close(ep)
        val t2 = System.nanoTime()
        val e = EntryTime(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          BuildCache.totalBuildSec - b0)
        System.err.println(f"[perfbench] $kind $name%-26s " +
          f"construct ${e.construct}%.3f s, execute ${e.execute}%.3f s, build ${e.build}%.3f s")
        Some(e)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += name
          None
      } finally {
        if (traced) sc.clearJobGroup()
      }
      if (measureBuild) {
        val usage1 = scratchUsage()
        buildFiles += usage1._1 - usage0._1
        buildBytes += usage1._2 - usage0._2
      }
      if (traced) {
        trace.close(entrySpan)
        trace.cacheLeft(entrySpan, sc.getPersistentRDDs.size,
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      }
      result
    }
    if (traced) trace.close(passSpan)
    out
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  def execute(): Map[String, Any] = {
    BuildCache.enable()
    if (tracing) trace.attach(spark)
    // The cold pass keeps the listed order: its first entry pays the JVM's
    // warm-up, so a seed-chosen order would move that cost between
    // entries, and into a writer's excluded build when one goes first.
    val cold = pass(entries, "cold", traced = tracing)
    // The untimed check pass runs next, so that the warm passes start
    // further along the JIT's warm-up.
    val checked = pass(entries, "check", traced = tracing).map(_.name)
    if (tracing) BenchBus.drain(sc)
    val buildWriteBytes = if (tracing) trace.buildWriteBytes() else 0L
    val warm = mutable.ArrayBuffer.empty[(Boolean, Seq[EntryTime])]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val rng = new scala.util.Random(seed)
    val warmStart = System.nanoTime()
    // The first pass of the window is not measured: the JIT compiles the
    // driver-side code of the entries in the background, and how far it has
    // got after two passes varies from run to run. Passes continue while
    // another one still fits in `seconds`. A traced run alternates untraced
    // and traced passes as U T T U, so that warming up during the run does
    // not bias the overhead figure.
    val walls = mutable.ArrayBuffer.empty[Double]
    pass(rng.shuffle(entries), "settle", traced = false)
    walls += (System.nanoTime() - warmStart) / 1e9
    val minPasses = if (tracing) 4 else 2
    def fits = (System.nanoTime() - warmStart) / 1e9 + walls.sorted.apply(walls.size / 2) <= seconds
    while (warm.size < minPasses || fits) {
      val traced = tracing && (warm.size % 4 == 1 || warm.size % 4 == 2)
      if (tracing) {
        BenchBus.drain(sc)
        if (traced) trace.attach(spark) else trace.detach(spark)
      }
      val gc0 = gcMs()
      if (traced) heapPools.foreach(_.resetPeakUsage())
      val passStart = System.nanoTime()
      val times = pass(rng.shuffle(entries), "warm", traced = traced)
      val wall = (System.nanoTime() - passStart) / 1e9
      walls += wall
      if (traced) {
        BenchBus.drain(sc)
        layerPasses += trace.passLayers(cores, wall) ++ Map(
          "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
          "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      }
      warm += traced -> times
    }
    if (tracing) trace.detach(spark)
    val spansFile = if (tracing) trace.write(s"$work/spans.jsonl") else ""
    def passSeconds(ts: Seq[EntryTime]) = ts.map(_.latency).sum
    val untraced = warm.filterNot(_._1).map(p => passSeconds(p._2))
    val traced = warm.filter(_._1).map(p => passSeconds(p._2))
    Map(
      "cold_pass_s" -> passSeconds(cold),
      "build_s" -> cold.map(_.build).sum,
      "build_files" -> buildFiles,
      "build_bytes" -> buildBytes,
      "build_write_bytes" -> buildWriteBytes,
      "pass_s" -> untraced,
      "traced_pass_s" -> traced,
      "latencies" -> warm.filterNot(_._1).flatMap(_._2).groupBy(_.name)
        .map { case (name, ts) => name -> ts.map(_.latency) },
      "attempted" -> attempted,
      "failed" -> failed.toSeq,
      "checked" -> checked,
      "peak_rss_mb" -> Main.peakRssMb(),
      "layers" -> layerPasses.toSeq,
      "spans_file" -> spansFile)
  }
}
