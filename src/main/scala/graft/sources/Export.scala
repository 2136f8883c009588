package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, Par, Tables}

/** Export-side operators: incremental high-watermark extraction and
  * export-format conversion.
  *
  * Reference patterns:
  * - Incremental export reads the DESTINATION's max update watermark
  *   and extracts only newer rows (reference: src/lakehouse/notebooks/
  *   "BQ Writer receipts_origin_transaction.py":36-60, same shape in
  *   "BQ Writer Stream.py") — the single most common production
  *   export pattern.
  * - Format conversion exports each table per time-partition into an
  *   interchange format (reference: "NEAR Public Datasets.py":396-417,
  *   `delta_to_avro`). The Avro *connector* (spark-avro module) is
  *   not in this container — /opt/spark/jars carries only the avro
  *   core/ipc/mapred jars, and `format("avro")` needs the external
  *   spark-avro datasource — so the sink is format-parameterized and
  *   exercised end-to-end with ORC, Spark's other built-in columnar
  *   interchange format. With spark-avro on the classpath the same
  *   code runs with format = "avro" unchanged.
  */
object Export {

  /** Deterministic scratch dir per (JVM, op, input dir) — repeated
    * runs in one JVM overwrite rather than accumulate, while the
    * per-JVM token keeps CONCURRENT processes over the same data dir
    * (bench + test suite, two CI jobs on one host) from racing on
    * one q30/q31 output directory with mode=overwrite. */
  private lazy val jvmToken: String =
    java.util.UUID.randomUUID().toString.take(8)
  // the random token makes each JVM's dirs unique, so THIS JVM must
  // delete them on exit — otherwise every bench child / test run
  // leaves full-table exports behind in tmp until the disk fills
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  private lazy val cleanupHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(p => rm(new java.io.File(p)))))
  // a child killed hard (OOM/SIGKILL) never runs its shutdown hook,
  // and the unique token means its dirs are never reclaimed by
  // overwrite — so the first scratch() in each JVM also sweeps
  // leftovers from DEAD runs: any graft_* dir untouched for a day
  // (a live concurrent run's dir has a fresh mtime and is skipped)
  private lazy val sweepStale: Unit = {
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .foreach(_.foreach { f =>
        if (f.getName.startsWith("graft_") && f.lastModified < cutoff) rm(f)
      })
  }
  /** Recursive delete of a scratch SUBTREE — q78's vacuum uses this
    * to drop compacted version logs in place (O(#files) metadata). */
  private[graft] def deleteTree(path: String): Unit = rm(new java.io.File(path))

  /** The per-JVM token, for callers that need unique CATALOG names
    * (q33's bucketed tables) with the same concurrency rationale as
    * scratch() paths. */
  private[graft] def sessionToken: String = jvmToken

  private[graft] def scratch(tag: String, dir: String): String = {
    cleanupHook
    sweepStale
    val p = s"${sys.props("java.io.tmpdir")}/graft_${jvmToken}_${tag}_${Integer.toHexString(dir.hashCode)}"
    created.add(p)
    p
  }

  /** q30: incremental high-watermark export. The target (a persisted
    * snapshot of rows already exported) is materialized, then its
    * max(o_orderdate) is read back FROM THE TARGET — not re-derived
    * from the source — and the source is filtered to strictly-newer
    * rows. The watermark is a 1-row aggregate joined in via
    * broadcast, so the filter itself is a declarative plan Catalyst
    * can push around (no driver-side collect of the watermark).
    *
    * Scale notes: the watermark read is an O(1)-output aggregation
    * on the target (at 100 TB: a partition-pruned max over the
    * latest partition, or the destination's metadata); the export
    * scan's `> wm` predicate is pushed to the parquet reader, so an
    * o_orderdate-partitioned source prunes all already-exported
    * partitions. Strictly-greater semantics match the reference:
    * date-granular updates make the max exported day complete, so
    * `>` neither re-exports nor loses rows. */
  def q30IncrementalExport(s: SparkSession, dir: String): DataFrame =
    incrementalExport(s, dir, "1995-07-01")

  /** Cutoff-parameterized form; a cutoff before the data's epoch
    * produces an EMPTY target — the cold-start path ExportSpec
    * exercises. */
  def incrementalExport(s: SparkSession, dir: String, cutoff: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val tgt = scratch(s"q30_target_$cutoff", dir)
    // the already-exported snapshot: everything before the cutoff
    orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .write.mode("overwrite").parquet(tgt)
    // cold-start: an empty target yields a NULL max, and `> NULL`
    // would silently export NOTHING — the opposite of first-export
    // semantics. An epoch-floor sentinel makes the empty-target case
    // export everything.
    val wm = Tables.parquet(s, tgt).agg(
      coalesce(max(col("o_orderdate")), lit("1000-01-01").cast("timestamp")).as("wm"))
    orders.join(broadcast(wm), col("o_orderdate") > col("wm"))
      .select(
        col("o_orderkey").as("order_key"),
        col("o_custkey").as("cust_key"),
        col("o_orderstatus").as("order_status"),
        col("o_totalprice").as("total_price"),
        col("o_orderdate").as("order_date"))
      .orderBy("order_key")
  }

  val q30Sql: String =
    """SELECT o_orderkey AS order_key, o_custkey AS cust_key,
      | o_orderstatus AS order_status, o_totalprice AS total_price,
      | o_orderdate AS order_date
      |FROM orders
      |WHERE o_orderdate > (SELECT coalesce(max(o_orderdate), TIMESTAMP '1000-01-01')
      |                     FROM orders
      |                     WHERE o_orderdate < TIMESTAMP '1995-07-01')
      |ORDER BY order_key""".stripMargin

  /** Format-parameterized export sink: one time-partition directory
    * per bucket value, spread by the bucket first so each partition
    * directory is written by ONE task (the at-scale defense against
    * the small-files explosion of NxM task-level partition writes).
    * `maxRecordsPerFile` caps file size WITHIN that task (0 = Spark
    * default, unlimited). */
  def exportConvert(df: DataFrame, outDir: String, format: String,
      partitionCol: String, maxRecordsPerFile: Long = 0L,
      options: Map[String, String] = Map.empty): Unit = {
    // spread on the bucket alone: a coalesced pre-write shuffle runs
    // a handful of tasks, and each then creates its buckets' partition
    // directories and files SEQUENTIALLY — a many-bucket export is
    // file-creation-bound, not byte-bound, so spreading buckets across
    // the configured parallelism cut q31 from 17.6 s to 4.7 s at sf0.1
    // (same-window A/B) while still writing exactly one file per
    // bucket. Empty partitions write nothing.
    Par.spread(df, col(partitionCol)).write.mode("overwrite").format(format)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(options)
      .partitionBy(partitionCol).save(outDir)
  }

  /** q31: export-format round-trip — events converted to
    * hour-partitioned ORC (see object doc for why not Avro in this
    * container), read back, schema-asserted, and value-compared
    * against the source via the oracle. */
  def q31ExportRoundtrip(s: SparkSession, dir: String): DataFrame =
    exportRoundtrip(s, dir, "orc")

  /** Format-parameterized round-trip (ExportSpec runs the matrix over
    * orc AND parquet, proving the sink's format parameterization is
    * real — with spark-avro on the classpath, "avro" slots in
    * unchanged). */
  private[graft] def exportRoundtrip(s: SparkSession, dir: String,
      format: String): DataFrame = {
    val src = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("ts"), date_format(col("ts"), "yyyy-MM-dd-HH").as("hour_bucket"))
    val out = graft.BuildCache.build(s"q31_$format:$dir") {
      val o = scratch(s"q31_$format", dir)
      exportConvert(src, o, format, "hour_bucket")
      o
    }
    val back = s.read.format(format).load(out)
    require(back.columns.sorted.sameElements(src.columns.sorted),
      s"round-trip schema mismatch: ${back.columns.mkString(",")}")
    back.select("event_id", "user_id", "event_type", "value", "ts", "hour_bucket")
      .orderBy("event_id")
  }

  val q31Sql: String =
    """SELECT event_id, user_id, event_type, value, ts,
      | strftime(ts, '%Y-%m-%d-%H') AS hour_bucket
      |FROM events ORDER BY event_id""".stripMargin

  /** q42: JSON-lines round-trip — the interchange format training
    * corpora actually ship between pipelines (every open-data corpus
    * release and the reference's pubsub writer emit JSONL), through
    * the SAME partitioned sink machinery as q31's columnar formats.
    * Two contracts q31's self-describing formats never exercise:
    * (1) JSON has no timestamp type, so fidelity is an OPTION, not a
    * given — the writer pins an explicit micros-precision
    * timestampFormat (the default millis format silently truncates
    * event times; the oracle's byte compare is what catches that
    * class of bug); (2) reading is schema-ON-READ — the reader takes
    * the writer's schema explicitly, because inference would type ts
    * as string and value by sampling. Scale: identical write path to
    * q31 (bucket-spread parallel writer); JSONL trades 3–5× size for
    * splittable line-oriented interchange — the standard corpus-
    * release tradeoff. */
  def q42JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val src = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("ts"), date_format(col("ts"), "yyyy-MM-dd-HH").as("hour_bucket"))
    // construction behind the bench's build/probe split (q31's
    // twin joins q31's class; the read-back IS the served face)
    val out = graft.BuildCache.build(s"q42:$dir") {
      val o = scratch("q42_json", dir)
      exportConvert(src, o, "json", "hour_bucket",
        options = Map("timestampFormat" -> tsFmt))
      o
    }
    val back = s.read.schema(src.schema)
      .option("timestampFormat", tsFmt).format("json").load(out)
    require(back.columns.sorted.sameElements(src.columns.sorted),
      s"round-trip schema mismatch: ${back.columns.mkString(",")}")
    back.select("event_id", "user_id", "event_type", "value", "ts", "hour_bucket")
      .orderBy("event_id")
  }

  /** q74: partition-pruned export probe — the a43 plan-time pruning
    * stance applied to the relational sink: orders export through
    * the SAME [[exportConvert]] writer partitioned BY YEAR, and the
    * consumer reads ONE year back with a partition filter — at
    * corpus scale that is the difference between scanning one
    * directory and scanning the archive. The rolled-up monthly
    * report (q60 integer cents) is the oracle-checked face;
    * PlanSpec's dedicated test pins `PartitionFilters` on the
    * read-back plan (files outside 1997 are never opened — the scan
    * proves the layout, not just the answer). */
  def q74PrunedExport(s: SparkSession, dir: String): DataFrame = {
    // layout construction behind the build/probe split (the
    // q33/q42 criterion): the partitioned export is carried state;
    // bench passes 2+ time the partition-pruned rollup alone
    val out = graft.BuildCache.build(s"q74:$dir") { q74Write(s, dir) }
    q74YearRollup(Tables.parquet(s, out))
  }

  /** Write the year-partitioned layout once; shared by the query
    * and PlanSpec's pruning pin so they inspect the SAME files. */
  private[graft] def q74Write(s: SparkSession, dir: String): String = {
    val src = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val out = scratch("q74_year", dir)
    exportConvert(src, out, "parquet", "o_year")
    out
  }

  /** The consumer: one year's monthly rollup over the partitioned
    * read-back (the filter on the partition column is what PlanSpec
    * pins as a PartitionFilter). */
  private[graft] def q74YearRollup(back: DataFrame): DataFrame =
    back.filter(col("o_year") === 1997)
      .groupBy(month(col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("month")

  /** DuckDB oracle for q74: the same year's monthly rollup straight
    * off the source table — a faithful partitioned round-trip must
    * be invisible to the report. */
  val q74Sql: String =
    """SELECT CAST(month(o_orderdate) AS INT) AS month,
      | count(*) AS orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS cents
      |FROM orders WHERE year(o_orderdate) = 1997
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q75's compaction target file size, in bytes. Small enough that
    * the sf0.01/sf0.1 gate corpora genuinely BIN-PACK (several files
    * per year partition at sf0.1, not coalesce-to-one) — at
    * production scale the same dial is 128 MiB–1 GiB. */
  private[graft] val q75TargetBytes: Long = 64L * 1024

  /** Count the parquet data files under a layout — the numFiles
    * instrument q75 and PlanSpec share. */
  private[graft] def countParquetFiles(dir: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try it.filter(_.toString.endsWith(".parquet")).count()
    finally it.close()
  }

  private[graft] def dataBytes(dir: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Files.size(p)).sum
    } finally it.close()
  }

  /** The small-files pathology, manufactured deliberately: the naive
    * task-level partitioned write every streaming sink and unsalted
    * batch job produces — N hash tasks each opening a file in every
    * year directory, O(N·years) files each a few KB. This is the
    * input state Delta's OPTIMIZE exists for (reference: the
    * medallion pipeline's OPTIMIZE step after "NEAR Public
    * Datasets.py"-style exports); [[exportConvert]] avoids creating
    * it, q75 REPAIRS it once it exists. */
  private[graft] def q75FragmentWrite(s: SparkSession, dir: String): String = {
    val src = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val out = scratch("q75_frag", dir)
    src.repartition(48, col("o_orderkey"))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    out
  }

  /** One compaction run's ledger: the fragmented input, the
    * compacted output, and the file counts the layout contract is
    * stated in. */
  private[graft] case class Q75Run(fragDir: String, outDir: String,
      fragFiles: Long, outFiles: Long, targetFiles: Long)

  /** q75's OPTIMIZE bin-pack: list the fragmented layout (a
    * metadata-only planning pass, O(#files) on the driver — the same
    * listing OPTIMIZE itself does), translate the byte target into a
    * records-per-file cap via the layout's measured bytes/row (the
    * fragmented layout's bytes INCLUDE its per-file overhead, so the
    * estimate is conservative — overhead is precisely the waste
    * being reclaimed), and rewrite through the shared
    * [[exportConvert]] writer: one task per year partition, files
    * split at the cap. The expected file count is computable in
    * closed form — Σ_year ceil(rows_year / cap) — and q75Compact
    * fail-stops unless the rewrite lands EXACTLY on it and strictly
    * below the fragmented count; PlanSpec re-asserts both on the
    * spec's own run. Layout never changes semantics (the q33/q74
    * stance): the oracle checks the rollup off the SOURCE. Scale:
    * the only driver-side state is the file listing and a
    * #years-row count; all data movement is one shuffle keyed by
    * partition value. */
  private[graft] def q75Compact(s: SparkSession, dir: String): Q75Run =
    q75CompactLayout(s, q75FragmentWrite(s, dir), scratch("q75_opt", dir), "o_year")

  /** The generic OPTIMIZE body over any partitioned layout — q75
    * repairs its manufactured orders pathology through it, s68 the
    * one its live sink accumulates. */
  private[graft] def q75CompactLayout(s: SparkSession, frag: String,
      out: String, partitionCol: String): Q75Run = {
    val fragFiles = countParquetFiles(frag)
    val back = Tables.parquet(s, frag)
    val rows = back.count()
    val avgRow = math.max(1L, dataBytes(frag) / math.max(1L, rows))
    val cap = math.max(1L, q75TargetBytes / avgRow)
    exportConvert(back, out, "parquet", partitionCol, maxRecordsPerFile = cap)
    // closed-form target: bounded collect (#partitions rows)
    val target = back.groupBy(partitionCol).count().collect()
      .map(r => (r.getLong(1) + cap - 1) / cap).sum
    val outFiles = countParquetFiles(out)
    require(outFiles == target,
      s"compacted layout has $outFiles files, expected $target")
    require(outFiles < fragFiles,
      s"compaction must shrink the layout ($fragFiles -> $outFiles)")
    Q75Run(frag, out, fragFiles, outFiles, target)
  }

  /** q75: small-file compaction — the layout family's missing member
    * (q31 partitions, q33 buckets, q34 z-orders, q74 prunes; nothing
    * compacted until now). The registered face is the yearly rollup
    * over the COMPACTED layout; the oracle computes it off the
    * source, so the gate proves compaction is invisible to every
    * reader while the in-run requires + PlanSpec prove the layout
    * actually changed shape. */
  def q75Compaction(s: SparkSession, dir: String): DataFrame = {
    // fragment+compaction construction behind the build/probe split
    // (the q33/q42 criterion; the in-build requires still prove
    // the layout changed shape on every construction)
    val out = graft.BuildCache.build(s"q75:$dir") { q75Compact(s, dir).outDir }
    q75YearRollup(Tables.parquet(s, out))
  }

  private[graft] def q75YearRollup(back: DataFrame): DataFrame =
    back.groupBy(col("o_year").cast("int").as("o_year"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"),
        countDistinct(col("o_custkey")).as("custs"))
      .orderBy("o_year")

  /** DuckDB oracle for q75: the same yearly rollup straight off the
    * source — compaction must be invisible to the report. */
  val q75Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      | count(*) AS orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS cents,
      | CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q76's registered probe range — a narrow o_orderkey slice,
    * non-empty at every SF, selective enough that file skipping
    * engages at each gate corpus. */
  private[graft] val q76Lo = 1000L
  private[graft] val q76Hi = 3000L

  /** q76's clustered layout: orders written as a FLAT directory of
    * files range-clustered on o_orderkey (repartitionByRange + sort
    * within), so each file covers a narrow, nearly-disjoint key
    * span — the precondition for min/max skipping to bite. This is
    * data skipping BEYOND partition values: the skip column is NOT a
    * directory key (q74 owns that case); the pruning instrument is a
    * per-file stats sidecar. */
  private[graft] def q76Write(s: SparkSession, dir: String): String = {
    val src = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val out = scratch("q76_skip", dir)
    q76ClusterWrite(src, out, "overwrite")
    out
  }

  /** The range-clustered write q76's skipping depends on — shared by
    * q76's one-shot layout and q79's append path so both halves of
    * an appended table carry the same narrow per-file spans. */
  private[graft] def q76ClusterWrite(df: DataFrame, out: String, mode: String): Unit =
    df.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode(mode).parquet(out)

  /** Build the min/max sidecar for a layout: one row per data file
    * with the skip column's span, computed distributed (the file
    * identity comes from the scan's own _metadata.file_path — no
    * driver-side file walking) and written as a tiny parquet
    * artifact next to the layout. At 100 TB this is the Delta/
    * Iceberg stats manifest: O(#files) rows, rebuilt incrementally
    * per write in a real table format. */
  /** Per-file min/max stats rows for an explicit path set (or a
    * whole layout dir) — the manifest builder q76's one-shot sidecar
    * and q79's incremental maintenance share. */
  private[graft] def q76SidecarRows(s: SparkSession, paths: Seq[String]): DataFrame =
    Tables.parquet(s, paths)
      .select(col("_metadata.file_path").as("file"), col("o_orderkey"))
      .groupBy("file")
      .agg(min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  private[graft] def q76Sidecar(s: SparkSession, layout: String): String = {
    val side = layout + "_sidecar"
    q76SidecarRows(s, Seq(layout))
      .coalesce(1).write.mode("overwrite").parquet(side)
    side
  }

  /** The q76 keep decision — ONE predicate definition feeding both
    * the pushed scale path ([[q76KeptFiles]]) and the instrumented
    * probe, so the two cannot drift. */
  private[graft] def q76KeepPred(lo: Long, hi: Long): Column =
    col("min_key") <= lit(hi) && col("max_key") >= lit(lo)

  /** The prune itself, AS A PLAN over the manifest: sidecar rows
    * whose [min, max] span intersects [lo, hi]. The range predicate
    * pushes into the sidecar's parquet scan (scan-stage,
    * ExportSpec-pinned) and evaluates distributed — at a million
    * files the prune runs where the manifest lives instead of
    * shipping every stats row to the driver (q82's bloom probe
    * takes the same stance). This is the production
    * read path: it never counts the full manifest. */
  private[graft] def q76KeptFiles(s: SparkSession, side: String,
      lo: Long, hi: Long): DataFrame =
    Tables.parquet(s, side)
      .filter(q76KeepPred(lo, hi))
      .select("file")

  /** Probe a layout THROUGH its sidecar: kept names and the
    * filesTotal instrument come from ONE aggregate job over ONE
    * sidecar scan (two separate reads could observe different
    * manifest states across a concurrent rewrite, and the second
    * full pass is pure instrument cost); the
    * driver receives O(matches) names + one count. The predicate is
    * [[q76KeepPred]], the same decision [[q76KeptFiles]]' pushed
    * scale path plans. Kept files are re-filtered exactly — pruning
    * is an optimization, never semantics, so a stale or coarse
    * sidecar can only cost speed, while the no-skipped-row law is
    * what the oracle and ExportSpec check. Returns (rows, filesKept,
    * filesTotal). */
  private[graft] def q76ProbeFiles(s: SparkSession, layout: String,
      side: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val r = Tables.parquet(s, side).agg(
      count(lit(1)).as("total"),
      sort_array(collect_list(when(q76KeepPred(lo, hi), col("file"))))
        .as("keep")).head
    val total = r.getLong(0).toInt
    val keep = r.getSeq[String](1)
    (Tables.parquet(s, layout, keep).filter(col("o_orderkey").between(lo, hi)),
      keep.length, total)
  }

  /** q76: file-level data skipping — q74's pruning instrument one
    * level finer. The registered face probes the clustered layout
    * through the sidecar for the fixed [[q76Lo]]..[[q76Hi]] range
    * and rolls the hits up by year; it fail-stops unless skipping
    * actually engaged (files kept < files total). The oracle runs
    * the same range rollup off the SOURCE, so the gate proves the
    * sidecar path loses no matching row; ExportSpec additionally
    * quantifies the law over boundary-straddling and empty ranges
    * and pins the scan's numFiles metric to the kept count. */
  def q76DataSkipping(s: SparkSession, dir: String): DataFrame = {
    // clustered layout + stats sidecar behind the build/probe split
    // (the q33/q42 criterion): bench passes 2+ time the
    // sidecar-pruned range probe alone
    val (layout, side) = graft.BuildCache.build(s"q76:$dir") {
      val l = q76Write(s, dir)
      (l, q76Sidecar(s, l))
    }
    val (rows, kept, total) = q76ProbeFiles(s, layout, side, q76Lo, q76Hi)
    require(kept < total,
      s"q76: skipping must engage ($kept of $total files kept)")
    q76Face(rows)
  }

  /** The probe's rollup face — shared by q76 and q79 (both answer
    * the same range query, q79 through the incrementally-maintained
    * manifest). */
  private[graft] def q76Face(rows: DataFrame): DataFrame =
    rows.groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("o_year")

  val q76Sql: String =
    s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       | count(*) AS orders,
       | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |  AS cents
       |FROM orders WHERE o_orderkey BETWEEN $q76Lo AND $q76Hi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** List a layout's parquet data files (absolute paths, sorted) —
    * the metadata read q79's append diff is computed from. */
  private[graft] def listParquet(dir: String): Seq[String] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toVector.sorted
    } finally it.close()
  }

  /** q79's appended layout: the initial half of orders clustered and
    * written, then the second half APPENDED through the same
    * cluster-write — the listing diff names the new files. Returns
    * (layout, initialFiles, appendedFiles). */
  private[graft] def q79Layout(s: SparkSession, dir: String)
      : (String, Seq[String], Seq[String]) = {
    val src = Tables.orders(s, dir)
    val out = scratch("q79_skip", dir)
    q76ClusterWrite(src.filter(col("o_orderkey") % 2 === 0), out, "overwrite")
    val first = listParquet(out)
    q76ClusterWrite(src.filter(col("o_orderkey") % 2 =!= 0), out, "append")
    val appended = listParquet(out).diff(first)
    (out, first, appended)
  }

  /** q79: incremental stats-manifest maintenance — the path a REAL
    * table format takes (q76 rebuilds its sidecar from the whole
    * layout; no production manifest is ever rebuilt per append):
    * after an append, the manifest is updated by scanning ONLY the
    * new files — named by a listing diff, a metadata read — and
    * unioning their stats rows into the existing sidecar. The
    * registered face probes the appended table's full key range
    * through the incrementally-maintained manifest; its oracle IS
    * q76's (the two halves union to the whole table, and a correct
    * manifest is invisible to the reader — the q42/q78 shared-oracle
    * stance). ExportSpec pins manifest == full rebuild row-for-row,
    * that the maintenance scan reads EXACTLY the appended files
    * (numFiles metric), and the no-skipped-row law through the
    * incremental manifest. Scale: per append the stats cost is
    * O(new files' rows), the union O(#files) metadata — never a
    * re-scan of the table. */
  def q79IncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val (layout, first, appended) = q79Layout(s, dir)
    require(first.nonEmpty && appended.nonEmpty,
      s"q79: both generations must write files (${first.size}/${appended.size})")
    val side = layout + "_sidecar"
    q76SidecarRows(s, first)
      .coalesce(1).write.mode("overwrite").parquet(side)
    // the incremental maintenance step: old manifest ∪ new-file stats
    val side2 = layout + "_sidecar_v2"
    Tables.parquet(s, side).unionByName(q76SidecarRows(s, appended))
      .coalesce(1).write.mode("overwrite").parquet(side2)
    val (rows, kept, total) = q76ProbeFiles(s, layout, side2, q76Lo, q76Hi)
    require(kept < total,
      s"q79: skipping must engage ($kept of $total files kept)")
    q76Face(rows)
  }

  /** q80's layout builder, exposed for the spec: v1 files (no
    * channel column), then v2 files APPENDED with the column added —
    * the schema-on-read evolution every long-lived lakehouse table
    * goes through. Returns (layout, v1 file list). */
  private[graft] def q80Write(s: SparkSession, dir: String): (String, Seq[String]) = {
    val src = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val out = scratch("q80_evo", dir)
    deleteTree(out) // append accumulates across same-JVM reruns
    src.filter(col("o_orderkey") % 2 === 0)
      .write.mode("append").parquet(out)
    val v1Files = listParquet(out)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("o_channel", q80Channel(col("o_orderkey")))
      .write.mode("append").parquet(out)
    (out, v1Files)
  }

  /** q80: schema evolution on read — the append-with-new-column
    * contract (Delta's mergeSchema / BigQuery's ALTER-free column
    * add): a writer starts emitting a new column mid-table; old
    * files are NEVER rewritten (the spec pins the v1 file set
    * byte-untouched); the reader takes the union schema
    * (mergeSchema) and old rows surface as NULL, which the serving
    * face maps to the explicit 'legacy' bucket — absence-of-data is
    * a value the report must own, not an error. Oracle: the channel
    * derivation replayed off the source with the v1 half CASE'd to
    * 'legacy'. Scale: evolution is O(0) on existing data — only the
    * footer-schema union at planning time; the read is one scan. */
  def q80SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val (out, _) = q80Write(s, dir)
    q80EvolvedRead(s, out)
  }

  /** The evolved-schema read face — mergeSchema union, NULL old rows
    * owned as the explicit 'legacy' bucket, channel rollup. ONE
    * definition shared by q80's one-shot layout and s69's live sink
    * (a reader must not care whether evolution happened in a batch
    * backfill or mid-stream). */
  private[graft] def q80EvolvedRead(s: SparkSession, layout: String): DataFrame =
    Tables.parquet(s, Seq(layout), Map("mergeSchema" -> "true"))
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("channel")

  /** The evolved column's ONE derivation — shared by q80's v2 writer
    * and s69's post-upgrade batches. */
  private[graft] def q80Channel(key: Column): Column =
    concat(lit("ch_"), pmod(key, lit(3)).cast("string"))

  val q80Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
      |  ELSE 'ch_' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
      | count(*) AS orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q82's bloom geometry: m = 2^18 bits per file, k = 4 probe
    * positions per value. At ~19k distinct hashes per file (sf0.1,
    * 8 files) occupancy is ~25% per probe and fpp ≈ (1−e^{−kn/m})^k
    * < 0.5%; smaller corpora only get sparser. The filter is stored
    * SPARSE — only words with a set bit get a sidecar row — so an
    * underfull file costs rows proportional to content, not to m. */
  private[graft] val q82Bits = 1L << 18
  private[graft] val q82Probes = 4

  /** The k bit positions of one value: xxhash64 seeded by the probe
    * index — the standard k-independent-hash construction. Pruning
    * never crosses the oracle (an optimization, not semantics), so
    * the hash needs determinism within Spark only, not cross-engine
    * (the d33 bitmap stance applied at file granularity). */
  private[graft] def q82Positions(v: Column): Column =
    array((0 until q82Probes).map(i =>
      pmod(xxhash64(lit(i), v), lit(q82Bits))): _*)

  /** q82's layout: q76's range-clustered order files with the lookup
    * hash ADDED — md5(o_orderkey) stands in for the reference's
    * transaction/receipt hash (the indexer's point-lookup key):
    * unique per row and uniformly scattered, so per-file min/max on
    * it prunes NOTHING (every file spans the whole hash space) —
    * exactly the column class q76's sidecar cannot serve and a bloom
    * filter index (Bloom 1970; Delta's BLOOMFILTER index) exists
    * for. */
  private[graft] def q82Write(s: SparkSession, dir: String): String = {
    val src = Tables.orders(s, dir)
      .withColumn("o_hash", md5(col("o_orderkey").cast("string").cast("binary")))
    val out = scratch("q82_bloom", dir)
    src.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Per-file bloom sidecar rows: every row contributes its k bit
    * positions; bits pack into 64-bit words through a DISTRIBUTED
    * groupBy(file, word) bit_or — no driver loop; the artifact is
    * O(set bits), the Delta bloom-index sidecar shape. */
  private[graft] def q82SidecarRows(s: SparkSession, paths: Seq[String]): DataFrame =
    Tables.parquet(s, paths)
      .select(col("_metadata.file_path").as("file"),
        explode(q82Positions(col("o_hash"))).as("pos"))
      .select(col("file"), shiftright(col("pos"), 6).as("word"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
      .groupBy("file", "word").agg(expr("bit_or(mask)").as("bits"))

  /** Probe a layout THROUGH its bloom sidecar: a file survives only
    * if ALL k of the value's bits are set (a missing word row is an
    * all-zero word). The keep decision is computed DISTRIBUTED — the
    * k probe rows broadcast into the sidecar scan, a per-file hit
    * count keeps the files with k distinct satisfied probes — and
    * only the kept file NAMES cross the driver (O(matches), never
    * O(#files × words); a 100 TB manifest stays where it is). A kept
    * file is still filtered exactly (bloom false positives cost
    * speed, never rows), and a bloom has NO false negatives, so the
    * oracle's no-skipped-row law holds by construction. Returns
    * (rows, filesKept, filesTotal). */
  private[graft] def q82ProbeFiles(s: SparkSession, layout: String,
      side: String, hash: String): (DataFrame, Int, Int) = {
    val pos = s.range(1)
      .select(posexplode(q82Positions(lit(hash))).as(Seq("pid", "pos")))
      .select(col("pid"), shiftright(col("pos"), 6).as("word"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
    val kept = Tables.parquet(s, side)
      .join(broadcast(pos), Seq("word"))
      .filter(col("bits").bitwiseAND(col("mask")) =!= lit(0L))
      .groupBy("file").agg(countDistinct("pid").as("hits"))
      .filter(col("hits") === lit(q82Probes))
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    val total = listParquet(layout).length
    (Tables.parquet(s, layout, kept).filter(col("o_hash") === lit(hash)),
      kept.length, total)
  }

  /** The probed key's hash: md5 of the corpus's MINIMUM o_orderkey —
    * present at every SF without assuming key density, and re-derived
    * by the oracle as a scalar subquery so no key is hardcoded.
    * Spark's md5(), DuckDB's md5(), and this MessageDigest call all
    * produce the same lowercase hex of the same UTF-8 decimal
    * string. */
  private[graft] def q82LookupHash(s: SparkSession, dir: String): String = {
    val minKey = Tables.orders(s, dir).agg(min("o_orderkey")).head.getLong(0)
    java.security.MessageDigest.getInstance("MD5")
      .digest(minKey.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** q82: bloom-filter data skipping — the point-lookup half of the
    * skipping story (q76 prunes RANGE predicates on a clustered
    * column; q82 prunes EQUALITY probes on a high-NDV scattered
    * column, the reference indexer's find-by-transaction-hash shape):
    * build a per-file bloom sidecar over the hash column, route the
    * probe through it, read only surviving files, fail-stop unless
    * pruning engaged. Oracle = the same lookup off the SOURCE (the
    * sidecar path must lose no matching row); ExportSpec quantifies
    * the no-false-negative law over a key sample, pins the scan's
    * numFiles metric to the kept count, and measures the
    * false-positive rate on planted absent probes.
    *
    * Scale: the sidecar is O(set bits) metadata built in one
    * distributed pass; a probe touches k broadcast rows + the
    * manifest scan and reads ~1 file out of the table regardless of
    * table size — the O(1)-files point lookup a 100 TB event store
    * needs. */
  def q82BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    // clustered layout + bloom sidecar behind the build/probe split
    // (the q33/q42 criterion): bench passes 2+ time the
    // bloom-pruned point lookup alone
    val (layout, side) = graft.BuildCache.build(s"q82:$dir") {
      val l = q82Write(s, dir)
      val sd = l + "_sidecar"
      q82SidecarRows(s, Seq(l))
        .coalesce(1).write.mode("overwrite").parquet(sd)
      (l, sd)
    }
    val h = q82LookupHash(s, dir)
    val (rows, kept, total) = q82ProbeFiles(s, layout, side, h)
    require(kept < total,
      s"q82: bloom must prune ($kept of $total files kept)")
    q82Face(rows)
  }

  /** The point-lookup's projection face — shared by q82's one-shot
    * sidecar and s70's incrementally-maintained one (both answer the
    * same lookup; a correct sidecar is invisible to the reader). */
  private[graft] def q82Face(rows: DataFrame): DataFrame =
    rows.select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("int").as("o_year"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
      .orderBy("o_orderkey")

  val q82Sql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(year(o_orderdate) AS INT) AS o_year,
      | CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |FROM orders
      |WHERE md5(CAST(o_orderkey AS VARCHAR)) =
      |  (SELECT md5(CAST(min(o_orderkey) AS VARCHAR)) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** The v1 logical mapping, and the v2 mapping after the user runs
    * RENAME COLUMN o_totalprice TO o_revenue. */
  private[graft] val q83MapV1 = Seq(
    "c1" -> "o_orderkey", "c2" -> "o_custkey",
    "c3" -> "o_totalprice", "c4" -> "o_orderdate")
  private[graft] val q83MapV2 =
    q83MapV1.map { case (p, l) =>
      p -> (if (l == "o_totalprice") "o_revenue" else l) }

  /** Write the physical layout once: orders projected onto the
    * physical ids. Returns the layout path. */
  private[graft] def q83Write(s: SparkSession, dir: String): String = {
    val out = scratch("q83_map", dir)
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("c1"), col("o_custkey").as("c2"),
        col("o_totalprice").as("c3"), col("o_orderdate").as("c4"))
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Persist a mapping manifest (physical → logical), the tiny
    * metadata artifact a rename rewrites. */
  private[graft] def q83WriteManifest(s: SparkSession, path: String,
      mapping: Seq[(String, String)]): Unit = {
    import s.implicits._
    mapping.toDF("physical", "logical")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read a layout THROUGH its mapping manifest: the manifest's ≤
    * #columns rows cross the driver, and the read is a pure
    * projection rename — column pruning and predicate pushdown still
    * reach the physical scan because aliases are transparent to
    * Catalyst. */
  private[graft] def q83MappedRead(s: SparkSession, layout: String,
      manifest: String): DataFrame = {
    val m = Tables.parquet(s, manifest).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val phys = Tables.parquet(s, layout)
    phys.select(phys.columns.sorted.map(c => col(c).as(m(c))).toIndexedSeq: _*)
  }

  /** q83: column mapping / RENAME COLUMN as a METADATA-ONLY operation
    * (Delta's columnMapping name mode; Iceberg field-ids): data files
    * carry stable physical ids, the logical schema lives in a mapping
    * manifest, and a rename rewrites the MANIFEST — never a data file
    * (the spec pins every data file byte-identical across the
    * rename, and that reads through v1 and v2 return the same values
    * under the old and new names). The registered face reads the
    * renamed table and rolls up revenue by year; the oracle replays
    * it off the source — mapping must never change values. Scale: a
    * rename on a 100 TB table is one O(#columns) manifest write;
    * every alternative (rewrite, view-layer shim) either costs a
    * table rewrite or breaks pushdown, and the spec's plan assertion
    * shows pushdown survives the mapping. */
  def q83ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    val layout = q83Write(s, dir)
    q83WriteManifest(s, layout + "_map_v1", q83MapV1)
    // RENAME COLUMN o_totalprice TO o_revenue: manifest-only write
    q83WriteManifest(s, layout + "_map_v2", q83MapV2)
    q83MappedRead(s, layout, layout + "_map_v2")
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_revenue * 100, 0) as bigint)")).as("revenue_cents"))
      .orderBy("o_year")
  }

  val q83Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      | count(*) AS orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS revenue_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q84's probe range — straddles the spec-evolution boundary so
    * BOTH specs' pruning paths bite. */
  private[graft] val q84Lo = "1997-06-01"
  private[graft] val q84Hi = "1998-03-31"

  /** q84's two-generation layout: files written before the evolution
    * are partitioned by YEAR; the spec then evolves and newer files
    * are partitioned by MONTH (the Iceberg partition-spec-evolution
    * contract: old files are NEVER rewritten to the new spec; each
    * file is pruned under the spec it was written with). The
    * evolution boundary is [[graft.streaming.Streaming.orderSlices]]'
    * first cut (1998-01-01). Returns the layout root with specY/ and
    * specM/ generations. */
  private[graft] def q84Write(s: SparkSession, dir: String): String = {
    val out = scratch("q84_specevo", dir)
    val src = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    src.filter(col("o_orderdate") < lit("1998-01-01"))
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$out/specY")
    src.filter(col("o_orderdate") >= lit("1998-01-01"))
      .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("o_ym").parquet(s"$out/specM")
    out
  }

  /** Read a date range across both specs: the predicate is
    * TRANSFORMED into each spec's partition space (year bounds for
    * the old files, month bounds for the new — what Iceberg's
    * residual evaluator does per manifest), pruned at the directory
    * level by Catalyst, then the exact predicate re-applies in-scan.
    * Pruning is per-spec best-effort (the old spec keeps whole
    * years), semantics come from the residual filter. */
  private[graft] def q84RangeRead(s: SparkSession, root: String,
      lo: String, hi: String): DataFrame = {
    val residual = col("o_orderdate").between(
      lit(lo).cast("timestamp"), lit(hi).cast("timestamp"))
    val oldGen = Tables.parquet(s, s"$root/specY")
      .filter(col("o_year").between(lo.substring(0, 4).toInt,
        hi.substring(0, 4).toInt))
      .filter(residual)
    val newGen = Tables.parquet(s, s"$root/specM")
      .filter(col("o_ym").between(lo.substring(0, 7), hi.substring(0, 7)))
      .filter(residual)
    oldGen.drop("o_year").unionByName(newGen.drop("o_ym"))
  }

  /** q84: partition-spec evolution — the layout family's
    * generational case (q31 writes ONE partitioning forever; real
    * tables outlive their partition choice): a table holds files
    * under BOTH the old year-spec and the new month-spec, nothing is
    * rewritten at evolution time (O(0) — the Iceberg contract), and
    * a range read transforms its predicate into each spec's
    * granularity, prunes directories per-spec, and re-applies the
    * exact predicate in-scan. The registered face runs the
    * boundary-straddling [[q84Lo]]..[[q84Hi]] probe and rolls up by
    * month; oracle = the same probe off the unpartitioned source
    * (layout never changes semantics). ExportSpec pins both specs'
    * pruning with the numFiles instrument and the no-lost-row law at
    * the year and month boundaries. Scale: old files prune at year
    * granularity (coarse but correct), new files at month — exactly
    * the graceful-degradation story a 100 TB table needs while its
    * history ages out. */
  def q84PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    // evolved two-scheme layout behind the build/probe split (the
    // q33/q42 criterion): bench passes 2+ time the cross-scheme
    // range read alone
    val root = graft.BuildCache.build(s"q84:$dir") { q84Write(s, dir) }
    q84RangeRead(s, root, q84Lo, q84Hi)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("ym")
  }

  val q84Sql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       | count(*) AS orders,
       | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |  AS cents
       |FROM orders
       |WHERE o_orderdate BETWEEN TIMESTAMP '$q84Lo 00:00:00'
       |  AND TIMESTAMP '$q84Hi 00:00:00'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q87's divergence residue: the clone's post-clone append
    * re-ingests the %97 order slice (a deterministic, oracle-
    * replayable duplicate-append). */
  private[graft] val q87Residue = 97L

  /** Write a file-list manifest — the clone's ONLY artifact at clone
    * time. */
  private[graft] def q87WriteManifest(s: SparkSession, path: String,
      files: Seq[String]): Unit = {
    import s.implicits._
    files.toDF("file").coalesce(1).write.mode("overwrite").parquet(path)
  }

  private[graft] def q87ReadManifest(s: SparkSession, path: String): Seq[String] =
    Tables.parquet(s, path).collect().map(_.getString(0)).toIndexedSeq.sorted

  /** Build the clone fixture: a source table, a ZERO-COPY clone of it
    * (manifest v1 = exactly the source's files), then a post-clone
    * append that diverges the clone (new files under the clone's own
    * directory; manifest v2 = source files ∪ new files — the source
    * never learns about them). Returns (source layout, clone data
    * dir, manifest-v1 path, manifest-v2 path). */
  private[graft] def q87Build(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    val src = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val srcDir = scratch("q87_src", dir)
    src.repartition(4, col("o_orderkey")).write.mode("overwrite").parquet(srcDir)
    val srcFiles = listParquet(srcDir)
    val cloneDir = scratch("q87_clone", dir)
    deleteTree(cloneDir) // append accumulates across same-JVM reruns
    val m1 = cloneDir + "_manifest_v1"
    q87WriteManifest(s, m1, srcFiles) // the CLONE: one metadata write
    // copy-on-write divergence: the append lands in the clone's OWN
    // directory; the source's files are never touched
    src.filter(col("o_orderkey") % q87Residue === 0)
      .repartition(1).write.mode("append").parquet(cloneDir)
    val m2 = cloneDir + "_manifest_v2"
    q87WriteManifest(s, m2, srcFiles ++ listParquet(cloneDir))
    (srcDir, cloneDir, m1, m2)
  }

  /** Read a table through its clone manifest. */
  private[graft] def q87ManifestRead(s: SparkSession, manifest: String): DataFrame =
    Tables.parquet(s, q87ReadManifest(s, manifest))

  /** q87: shallow CLONE — the zero-copy table copy (Delta SHALLOW
    * CLONE; Iceberg snapshot ref): cloning a 100 TB table writes ONE
    * file-list manifest and not one data byte (the spec pins: the
    * clone's manifest references exactly the source's files, and no
    * data file exists under the clone's directory at clone time);
    * post-clone writes land in the clone's own directory under
    * copy-on-write, so the clone DIVERGES while the source stays
    * byte-untouched (spec: source files byte-identical across the
    * whole lifecycle, source reads unchanged). The registered face
    * rolls up the diverged clone; its oracle is the source plus the
    * appended slice replayed (a manifest read must equal the data it
    * references — the q42/q78 shared-semantics stance). Scale: clone
    * is O(#files) metadata; reads pay one manifest lookup; the
    * append is O(new rows). */
  def q87ShallowClone(s: SparkSession, dir: String): DataFrame = {
    // clone + divergence construction behind the build/probe split
    // (the q33/q42 criterion): the manifests and the diverged
    // clone are carried state; the manifest-resolved read is the face
    val m2 = graft.BuildCache.build(s"q87:$dir") { q87Build(s, dir)._4 }
    q87ManifestRead(s, m2)
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("o_year")
  }

  val q87Sql: String =
    s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       | count(*) AS orders,
       | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |  AS cents
       |FROM (
       | SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
       | UNION ALL
       | SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
       | WHERE o_orderkey % $q87Residue = 0)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q95: deletion vectors (merge-on-read row-level deletes) ----

  /** q95's purge trigger: a file is rewritten once its deletion-
    * vector rows reach dels/rows ≥ 1/10 — compared by integer
    * cross-multiplication (the a52 density stance), never a float. */
  private[graft] val q95PurgeNum = 1L
  private[graft] val q95PurgeDen = 10L

  /** The two delete commits' key spans, derived from the corpus key
    * range (the q82 derive-don't-hardcode stance — fixed literals
    * cannot stay proportionally dense as the SF scales): commit 1
    * deletes the first 10% of the span, which the range-clustered
    * layout concentrates in the lowest file(s) at ≥ ~80% of their
    * rows — above the purge trigger; commit 2 deletes a span/200
    * slice at the 60% mark — ~4% of its file's rows, below the
    * trigger, so its vector must SURVIVE the purge. All integer
    * arithmetic, replayed verbatim by the oracle's scalar
    * subqueries. */
  private[graft] def q95Spans(s: SparkSession, dir: String)
      : ((Long, Long), (Long, Long)) = {
    val r = Tables.orders(s, dir)
      .agg(min("o_orderkey"), max("o_orderkey")).head
    val (lo, span) = (r.getLong(0), r.getLong(1) - r.getLong(0))
    ((lo, lo + span / 10),
      (lo + span * 6 / 10, lo + span * 6 / 10 + span / 200))
  }

  /** A data file's identity inside one flat layout: its basename —
    * unique because the layout is a single writer's part-files plus
    * purge rewrites under a distinct prefix (a real table format
    * uses manifest file ids; the basename is the local stand-in, and
    * it survives the purge's byte-copy so carried vector rows never
    * need remapping). */
  private[graft] def q95FileId: Column =
    regexp_extract(col("_metadata.file_path"), "[^/]+$", 0)

  /** Orders' projected columns — the MOR read's output contract. */
  private[graft] val q95Cols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate")

  /** One delete commit: evaluate the predicate over the layout's own
    * scan and persist (file, pos) rows — Iceberg v2 position deletes
    * / Delta deletion vectors. The data files are NEVER opened for
    * write: a delete is an O(matches) sidecar append, which is the
    * whole point at 100 TB (copy-on-write would rewrite a file to
    * drop one row). Positions are the parquet scan's own
    * `_metadata.row_index` — stable because data files are
    * immutable. */
  private[graft] def q95CommitDelete(s: SparkSession, layout: String,
      dvDir: String, commit: Int, pred: Column): Unit =
    Tables.parquet(s, layout)
      .select(q95FileId.as("file"),
        col("_metadata.row_index").as("pos"), col("o_orderkey"))
      .filter(pred)
      .select("file", "pos")
      .write.mode("overwrite").parquet(s"$dvDir/commit_$commit")

  /** The live deletion vector: the union of every delete commit. */
  private[graft] def q95Dv(s: SparkSession, dvDir: String): DataFrame =
    Tables.parquet(s, Seq(dvDir), Map("recursiveFileLookup" -> "true"))
      .select("file", "pos")

  /** Per-file row counts off the scan's own metadata — in a real
    * format this column lives in the stats manifest (q76/q79's
    * sidecar shape); one column-pruned pass stands in here. */
  private[graft] def q95FileRows(s: SparkSession, layout: String): DataFrame =
    Tables.parquet(s, layout)
      .groupBy(q95FileId.as("file"))
      .agg(count(lit(1)).as("rows"))

  /** Basename → readable path for a layout (driver-side O(#files)
    * metadata, the q75/q87 listing stance). */
  private[graft] def q95PathOf(layout: String): Map[String, String] =
    listParquet(layout).map(p => p.substring(p.lastIndexOf('/') + 1) -> p).toMap

  /** The merge-on-read scan: files WITHOUT vector rows stream
    * through untouched — they never pay the join (exactly Delta's DV
    * scan, which attaches bitmaps only to files that have them);
    * files WITH vector rows anti-join their own (file, pos) pairs,
    * vector broadcast (a DV is O(deleted rows) — metadata-sized next
    * to the data). Deletion is an optimization-independent property:
    * a kept row is bit-identical to the source row, so pruning the
    * join to dirty files can never change semantics. Returns (rows,
    * filesWithDv, filesTotal). */
  private[graft] def q95MorRead(s: SparkSession, layout: String,
      dvDir: String): (DataFrame, Int, Int) = {
    val dv = q95Dv(s, dvDir)
    val paths = q95PathOf(layout)
    val dirty = dv.select("file").distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val clean = (paths.keySet -- dirty).toSeq.sorted
    val cleanDf = Tables.parquet(s, layout, clean.map(paths))
      .select(q95Cols.map(col): _*)
    val dirtyDf = Tables.parquet(s, layout, dirty.map(paths))
      .select(q95FileId.as("file") +:
        col("_metadata.row_index").as("pos") +: q95Cols.map(col): _*)
      .join(broadcast(dv), Seq("file", "pos"), "left_anti")
      .select(q95Cols.map(col): _*)
    (cleanDf.unionByName(dirtyDf), dirty.length, paths.size)
  }

  /** One purge run's ledger: the new layout + vector and the two
    * file classes the density split produced. */
  private[graft] case class Q95Purge(layout: String, dvDir: String,
      rewritten: Seq[String], carriedDirty: Seq[String])

  /** PURGE (Delta `REORG TABLE … APPLY (PURGE)`): files at or above
    * the density trigger are rewritten without their deleted rows
    * and LEAVE the vector; everything else carries byte-identically
    * (java.nio copy — a rename / manifest pointer on an object
    * store) and keeps its vector rows unchanged (file identity is
    * the basename, preserved by the copy). The density decision is
    * O(#files) driver metadata: manifest row counts joined with the
    * vector's per-file tallies. Rewritten part-files land under a
    * distinct `rw_` prefix so basenames stay unique in the merged
    * directory (the a52 `s0_` stance). */
  private[graft] def q95PurgeRewrite(s: SparkSession, layout: String,
      dvDir: String, out: String): Q95Purge = {
    val dv = q95Dv(s, dvDir)
    val stats = q95FileRows(s, layout)
      .join(dv.groupBy("file").agg(count(lit(1)).as("dels")), Seq("file"), "left")
      .select(col("file"), col("rows"), coalesce(col("dels"), lit(0L)).as("dels"))
      .collect()
    val rewrite = stats
      .filter(r => r.getLong(2) * q95PurgeDen >= r.getLong(1) * q95PurgeNum)
      .map(_.getString(0)).sorted.toIndexedSeq
    val carriedDirty = stats.filter(_.getLong(2) > 0)
      .map(_.getString(0)).filterNot(rewrite.toSet).sorted.toIndexedSeq
    val outDv = out + "_dv"
    deleteTree(out); deleteTree(outDv)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val paths = q95PathOf(layout)
    stats.map(_.getString(0)).filterNot(rewrite.toSet).foreach { f =>
      val src = java.nio.file.Paths.get(paths(f))
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(out).resolve(src.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    if (rewrite.nonEmpty) {
      val tmp = out + "_rwtmp"
      Tables.parquet(s, layout, rewrite.map(paths))
        .select(q95FileId.as("file") +:
          col("_metadata.row_index").as("pos") +: q95Cols.map(col): _*)
        .join(broadcast(dv), Seq("file", "pos"), "left_anti")
        .select(q95Cols.map(col): _*)
        .write.mode("overwrite").parquet(tmp)
      listParquet(tmp).foreach { p =>
        val pp = java.nio.file.Paths.get(p)
        java.nio.file.Files.move(pp,
          java.nio.file.Paths.get(out).resolve(s"rw_${pp.getFileName}"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      deleteTree(tmp)
    }
    // the surviving vector: carried-dirty rows verbatim — the copy
    // preserved their file identity, so no remap happens
    dv.filter(col("file").isin(carriedDirty.map(x => x: Any): _*))
      .write.mode("overwrite").parquet(s"$outDv/commit_1")
    Q95Purge(out, outDv, rewrite, carriedDirty)
  }

  /** The survivors' rollup face — year × status, integer cents. */
  private[graft] def q95Face(rows: DataFrame): DataFrame =
    rows.groupBy(year(col("o_orderdate")).cast("int").as("o_year"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("o_year", "o_orderstatus")

  /** q95: DELETION VECTORS — merge-on-read row-level deletes, the
    * table-format leg q86 deliberately does copy-on-write for
    * (Delta deletion vectors; Iceberg v2 position deletes): a DELETE
    * writes an O(matches) (file, pos) sidecar commit and touches no
    * data file; the read applies each file's vector as an anti-join
    * and files without one never pay it; PURGE rewrites only files
    * past the density trigger, carrying the rest byte-identically
    * with their vector rows intact. The face runs the full
    * lifecycle — two delete commits (one dense, one sparse), the
    * instrumented MOR read, the purge, the post-purge read — and
    * fail-stops unless every phase genuinely bit: clean files
    * remained at MOR time, the purge rewrote the dense file(s), and
    * the sparse vector survived it. The oracle recomputes the
    * survivors straight off the source with the same derived spans —
    * deletes and purge must be exactly a predicate's complement.
    * ExportSpec pins the rest: data files byte-identical across
    * delete commits, purge invisible to the read, carried files
    * byte-identical, re-delivered delete commits idempotent.
    *
    * Scale (100 TB): a delete is one predicate scan emitting matches
    * only (at a real table it prunes to affected partitions via
    * q76/q82 skipping first); the read pays one broadcast anti-join
    * on dirty files only; purge moves only the dense files' bytes.
    * Copy-on-write would rewrite every touched file at delete time —
    * merge-on-read defers that to one density-targeted pass. */
  def q95DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    // the delete-commit + purge lifecycle behind the build/probe
    // split (the q33/q42 criterion): delete commits and the
    // density-targeted purge are table MAINTENANCE a lakehouse
    // carries; the merge-on-read over the purged layout is the
    // served face bench passes 2+ time. All in-build requires still
    // audit every construction.
    val (pLayout, pDvDir, pCarried) = graft.BuildCache.build(s"q95:$dir") {
      val layout = scratch("q95_mor", dir)
      q76ClusterWrite(Tables.orders(s, dir), layout, "overwrite")
      val dvDir = layout + "_dv"
      deleteTree(dvDir)
      val ((d1lo, d1hi), (d2lo, d2hi)) = q95Spans(s, dir)
      q95CommitDelete(s, layout, dvDir, 1, col("o_orderkey").between(d1lo, d1hi))
      q95CommitDelete(s, layout, dvDir, 2, col("o_orderkey").between(d2lo, d2hi))
      val (_, preDirty, preTotal) = q95MorRead(s, layout, dvDir)
      require(preDirty > 0 && preDirty < preTotal,
        s"q95: merge-on-read must leave clean files ($preDirty/$preTotal dirty)")
      val purged = q95PurgeRewrite(s, layout, dvDir, scratch("q95_purged", dir))
      require(purged.rewritten.nonEmpty, "q95: the purge trigger must bite")
      require(purged.carriedDirty.nonEmpty,
        "q95: a below-trigger vector must survive the purge")
      (purged.layout, purged.dvDir, purged.carriedDirty.length)
    }
    val (rows, postDirty, _) = q95MorRead(s, pLayout, pDvDir)
    require(postDirty == pCarried,
      s"q95: post-purge vector spans $postDirty files, expected $pCarried")
    q95Face(rows)
  }

  /** DuckDB oracle for q95: the same survivors off the SOURCE, spans
    * re-derived by the same integer arithmetic — the whole
    * delete/vector/purge lifecycle must equal one predicate
    * complement. */
  val q95Sql: String =
    """WITH b AS (
      | SELECT min(o_orderkey) AS lo,
      |        max(o_orderkey) - min(o_orderkey) AS span
      | FROM orders)
      |SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
      | count(*) AS orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS cents
      |FROM orders, b
      |WHERE NOT (o_orderkey BETWEEN lo AND lo + span // 10)
      |  AND NOT (o_orderkey BETWEEN lo + span * 6 // 10
      |           AND lo + span * 6 // 10 + span // 200)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q102: layout robustness matrix (linear vs z-order skipping) ----

  /** q102's derived probe spans (the q95/q100 stance): a 10% custkey
    * band at the 20% point, and the corpus' third year — each
    * selective in ITS dimension so the matrix's pruning laws bite at
    * every SF. */
  private[graft] def q102Spans(s: SparkSession, dir: String)
      : ((Long, Long), (String, String)) = {
    val r = Tables.orders(s, dir).agg(
      min("o_custkey"), max("o_custkey"),
      min(year(col("o_orderdate")).cast("int"))).head
    val (lo, span) = (r.getLong(0), r.getLong(1) - r.getLong(0))
    val y = r.getInt(2) + 2
    ((lo + span * 2 / 10, lo + span * 3 / 10),
      (s"$y-01-01", s"$y-12-31"))
  }

  /** One two-column stats sidecar row per data file: custkey span +
    * date span (as days since the q34 epoch — a monotone bijection,
    * so span overlap over days IS span overlap over dates). The
    * q76SidecarRows shape, widened to the two skip dimensions. */
  private[graft] def q102Stats(s: SparkSession, layout: String): DataFrame =
    Tables.parquet(s, layout)
      .select(q95FileId.as("file"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
          .cast("long").as("days"))
      .groupBy("file")
      .agg(min("o_custkey").as("minc"), max("o_custkey").as("maxc"),
        min("days").as("mind"), max("days").as("maxd"))

  /** q102: LAYOUT ROBUSTNESS MATRIX — the measured answer to "why
    * z-order?" (q34 SHIPS the z layout; q102 proves the decision,
    * the d53/a47 tuning-instrument pattern applied to storage):
    * cluster the same table three ways — linear on custkey, linear
    * on date, z-order on both — build each layout's two-column
    * min/max sidecar, and evaluate the 3×3 (layout × predicate)
    * skipping matrix for a custkey band, a date year, and their
    * conjunction. The fail-stops pin the laws the folklore claims:
    * each linear layout prunes its OWN dimension but keeps EVERY
    * file under the orthogonal predicate (the failure mode that
    * motivates z-order), while the z layout prunes under ALL THREE
    * predicates — robustness, not per-dimension optimality. The face
    * is the no-loss law the driver can hash: for every (layout,
    * predicate) cell, the rows served from KEPT FILES ONLY — the
    * oracle recomputes each predicate's count straight off the
    * source, so a single skipped-but-matching row anywhere in the
    * matrix breaks the hash. ExportSpec pins the measured matrix
    * itself (kept counts recomputed from the sidecars).
    *
    * Scale (100 TB): this is the offline instrument a table's
    * OPTIMIZE policy consults — three bounded clustered writes of a
    * sample, O(#files) sidecars, nine metadata prunes; the
    * conclusion (z-order's worst predicate beats each linear's
    * worst) is what licenses paying q34's z-write for the real
    * table. */
  def q102LayoutMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val R = graft.operators.Relational
    val src = Tables.orders(s, dir)
    val ((c1, c2), (d1, d2)) = q102Spans(s, dir)
    val (day1, day2) = (
      java.time.LocalDate.parse(d1).toEpochDay -
        java.time.LocalDate.parse("1995-01-01").toEpochDay,
      java.time.LocalDate.parse(d2).toEpochDay -
        java.time.LocalDate.parse("1995-01-01").toEpochDay)
    // the three layouts — construction, behind the build/probe split
    val (lc, ld, lz) = graft.BuildCache.build(s"q102:$dir") {
    val lc = scratch("q102_lc", dir)
    src.repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey").write.mode("overwrite").parquet(lc)
    val ld = scratch("q102_ld", dir)
    src.repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate").write.mode("overwrite").parquet(ld)
    val lz = scratch("q102_lz", dir)
    // two subtleties, both measured on this corpus: (1) a
    // column-hash repartition gets AQE-coalesced to one file on
    // small inputs — an EXPLICIT range partition count keeps the
    // cell structure the matrix measures; (2) the raw dimensions
    // have UNEQUAL bit widths (custkey ~8 bits, days ~12), so naive
    // interleaving puts only date bits in the z-value's high bits
    // and custkey predicates prune NOTHING — normalize each
    // dimension to an 8-bit rank first (Delta's OPTIMIZE ZORDER
    // range-id move), so the two dimensions alternate fairly
    val stats = src.agg(
      min("o_custkey"), max("o_custkey"),
      min(datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
        .cast("long")),
      max(datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
        .cast("long"))).head
    val (cLo, cSpan) = (stats.getLong(0), math.max(stats.getLong(1) - stats.getLong(0), 1L))
    val (dLo, dSpan) = (stats.getLong(2), math.max(stats.getLong(3) - stats.getLong(2), 1L))
    src.withColumn("zx",
        expr(s"((o_custkey - $cLo) * 255) div $cSpan"))
      .withColumn("zy", expr(
        s"""((datediff(to_date(o_orderdate), date'1995-01-01') - $dLo)
           |  * 255) div $dSpan""".stripMargin))
      .withColumn("zval", R.zInterleave("zx", "zy"))
      .repartitionByRange(32, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zx", "zy", "zval")
      .write.mode("overwrite").parquet(lz)
    // the sidecars are CONSTRUCTION too (outside the build block,
    // every probe pass would re-scan all three layouts to rebuild
    // them, defeating the build/probe split —
    // exactly the persisted-manifest stance q76/q79 already take)
    Seq(lc, ld, lz).foreach { l =>
      q102Stats(s, l).coalesce(1).write.mode("overwrite").parquet(s"${l}_stats")
    }
    (lc, ld, lz)
    }
    val preds = Seq("cust", "date", "both")
    def rowPred(name: String): Column = name match {
      case "cust" => col("o_custkey").between(c1, c2)
      case "date" => to_date(col("o_orderdate")).between(lit(d1), lit(d2))
      case _ => col("o_custkey").between(c1, c2) &&
        to_date(col("o_orderdate")).between(lit(d1), lit(d2))
    }
    val layouts = Seq("linear_cust" -> lc, "linear_date" -> ld, "zorder" -> lz)
    // the three sidecars in one read, each row tagged by the name of
    // the sidecar directory it came from
    val sidecarOf = layouts.map { case (lname, lpath) =>
      new java.io.File(s"${lpath}_stats").getName -> lname }.toMap
    val statsOf = Tables.parquet(s, layouts.map { case (_, l) => s"${l}_stats" })
      .select(regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+$", 1),
        col("file"), col("minc"), col("maxc"), col("mind"), col("maxd"))
      .collect()
      .groupBy(r => sidecarOf(r.getString(0)))
      .map { case (lname, rs) => lname -> rs.map(r => (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))) }
    val cells = for {
      (lname, lpath) <- layouts
      stats = statsOf.getOrElse(lname, Array.empty[(String, Long, Long, Long, Long)])
      paths = q95PathOf(lpath)
      pname <- preds
    } yield {
      val kept = stats.filter { case (_, minc, maxc, mind, maxd) =>
        // evaluate the ONE overlap rule on driver-side longs — the
        // sidecar is O(#files) metadata (the q75/q87 stance)
        (pname match {
          case "cust" => maxc >= c1 && minc <= c2
          case "date" => maxd >= day1 && mind <= day2
          case _ => maxc >= c1 && minc <= c2 && maxd >= day1 && mind <= day2
        })
      }.map(_._1).sorted
      ((lname, pname, kept.length, stats.length),
        Tables.parquet(s, lpath, kept.map(paths)).filter(rowPred(pname)))
    }
    val counts = cells.map(_._1)
    val byCell = counts.map(c => (c._1, c._2) -> c).toMap
    def frac(l: String, p: String) = {
      val c = byCell((l, p)); (c._3, c._4)
    }
    // the folklore, fail-stopped: linear prunes its own dimension...
    require(frac("linear_cust", "cust")._1 < frac("linear_cust", "cust")._2 &&
      frac("linear_date", "date")._1 < frac("linear_date", "date")._2,
      s"q102: linear layouts must prune their own dimension: $counts")
    // ...keeps every file under the orthogonal predicate...
    require(frac("linear_cust", "date")._1 == frac("linear_cust", "date")._2 &&
      frac("linear_date", "cust")._1 == frac("linear_date", "cust")._2,
      s"q102: a linear layout cannot prune the orthogonal dimension: $counts")
    // ...and z-order prunes under ALL THREE predicates
    require(preds.forall(p => frac("zorder", p)._1 < frac("zorder", p)._2),
      s"q102: z-order must prune every predicate: $counts")
    // one aggregate serves all nine cells from their kept files; each
    // cell also gets one null `hit` row, so a cell whose kept files
    // match nothing still reads 0
    val hits = cells.map { case ((lname, pname, _, _), served) =>
      served.select(lit(lname).as("layout"), lit(pname).as("predicate"),
        lit(1).as("hit"))
    }
    val zero = counts.map(c => (c._1, c._2)).toDF("layout", "predicate")
      .withColumn("hit", lit(null).cast("int"))
    (hits :+ zero).reduce(_ union _)
      .groupBy("layout", "predicate").agg(count(col("hit")).as("rows_matched"))
      .orderBy("layout", "predicate")
  }

  /** DuckDB oracle for q102: each predicate's count off the SOURCE,
    * crossed with the literal layout names — serving from kept files
    * only must lose nothing, anywhere in the matrix. */
  val q102Sql: String =
    """WITH b AS (
      | SELECT min(o_custkey) + (max(o_custkey) - min(o_custkey)) * 2 // 10 AS c1,
      |  min(o_custkey) + (max(o_custkey) - min(o_custkey)) * 3 // 10 AS c2,
      |  min(year(o_orderdate)) + 2 AS y
      | FROM orders),
      |n AS (
      | SELECT
      |  (SELECT count(*) FROM orders, b
      |    WHERE o_custkey BETWEEN c1 AND c2) AS n_cust,
      |  (SELECT count(*) FROM orders, b
      |    WHERE year(o_orderdate) = y) AS n_date,
      |  (SELECT count(*) FROM orders, b
      |    WHERE o_custkey BETWEEN c1 AND c2 AND year(o_orderdate) = y) AS n_both)
      |SELECT l.layout, p.predicate,
      | CAST(CASE p.predicate WHEN 'cust' THEN n_cust
      |       WHEN 'date' THEN n_date ELSE n_both END AS BIGINT) AS rows_matched
      |FROM (VALUES ('linear_cust'), ('linear_date'), ('zorder')) l(layout)
      |CROSS JOIN (VALUES ('cust'), ('date'), ('both')) p(predicate)
      |CROSS JOIN n
      |ORDER BY l.layout, p.predicate""".stripMargin

  // ---- q101: record-level secondary index (exact key → file) ----

  /** q101's probe modulus: span div 3, derived from the corpus' own
    * key range (the q95/q82 stance) — ~4 probe keys at EVERY SF, so
    * the batch is always non-empty AND always smaller than the
    * 8-file layout, which is what makes the pruning fail-stop bite
    * scale-independently (a fixed residue's ~1% of keys touches
    * every file once the corpus outgrows files × residue). */
  private[graft] def q101ProbeMod(s: SparkSession, dir: String): Long = {
    val r = Tables.orders(s, dir)
      .agg(min("o_orderkey"), max("o_orderkey")).head
    val span = r.getLong(1) - r.getLong(0)
    // Degenerate-span guard: span < 3 would give m = 1,
    // making EVERY row a probe, keeping every file, and tripping the
    // q101/q78 pruning require with a misleading message. A probe
    // that touches most of the key domain measures nothing about the
    // index, so refuse loudly instead of degrading: span ≥ 36 gives
    // m = span div 3 ≥ 12, bounding the probe residue class at
    // ≤ 1/12 of the domain (every real SF has span ≥ thousands; only
    // a hand-crafted toy corpus trips this).
    require(span >= 36,
      s"q101: orderkey span $span too small for a meaningful pruning " +
        "probe (the probe residue class would cover most of the domain)")
    span / 3
  }

  /** Build the record-level index: ONE scan of the layout emitting
    * (key, file) — Hudi's record-level index / Iceberg's planned
    * `position` index, the EXACT complement of q82's bloom (a bloom
    * answers "maybe here" per file with false positives; the record
    * index answers "exactly here", at the cost of index storage
    * O(keys) instead of O(set bits)). In production this table is
    * bucketed by key so an index probe is a bucket-local join. */
  private[graft] def q101BuildIndex(s: SparkSession, layout: String,
      idx: String): Unit =
    Tables.parquet(s, layout)
      .select(col("o_orderkey").as("key"), q95FileId.as("file"))
      .write.mode("overwrite").parquet(idx)

  /** q101: RECORD-LEVEL INDEX — exact multi-key point lookup (the
    * batch shape a feature-store / serving backfill runs: "fetch
    * these 10⁴ keys from a 10⁹-row table"): the probe batch joins
    * the INDEX (never the table) to get exactly the files holding
    * matches, reads only those, and semi-joins the keys back. Two
    * properties q82's bloom cannot give, both instrumented: ZERO
    * false-positive file reads (filesKept == the exact count of
    * files holding a match — fail-stopped against an independent
    * recount off the scan itself) and BATCH probes as one join
    * (a bloom probes per-key per-file; the index join is one
    * key-keyed exchange regardless of batch size). Fail-stops:
    * pruning engaged (kept < total) and exactness (kept == distinct
    * files among matching rows). Oracle: the same residue lookup
    * straight off the source — the index path must lose no row and
    * add none.
    *
    * Scale (100 TB): the index build is one column-pruned scan
    * emitting 16 bytes/row, bucketed by key in production so probes
    * co-locate; a batch lookup shuffles only the PROBE KEYS (the
    * index side is bucket-pruned), the kept-file list is O(matching
    * files) driver metadata (the q75/q82 manifest stance), and the
    * final read scans exactly those files with the key semi-join
    * pushed down. The index is maintained incrementally on append
    * (new files append their (key, file) rows — the s70 sidecar
    * discipline applies unchanged). */
  def q101RecordIndex(s: SparkSession, dir: String): DataFrame = {
    val (layout, idx) = graft.BuildCache.build(s"q101:$dir") {
      val l = scratch("q101_layout", dir)
      q76ClusterWrite(Tables.orders(s, dir), l, "overwrite")
      val i = l + "_idx"
      q101BuildIndex(s, l, i)
      (l, i)
    }
    val m = q101ProbeMod(s, dir)
    val probes = Tables.orders(s, dir)
      .filter(col("o_orderkey") % m === 0)
      .select(col("o_orderkey").as("key"))
    val kept = Tables.parquet(s, idx)
      .join(broadcast(probes), Seq("key"))
      .select("file").distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val paths = q95PathOf(layout)
    val total = paths.size
    require(kept.nonEmpty && kept.length < total,
      s"q101: index must prune (${kept.length} of $total files kept)")
    val scanned = Tables.parquet(s, layout, kept.map(paths))
    val rows = scanned
      .join(broadcast(probes), col("o_orderkey") === col("key"), "left_semi")
    // zero-false-positive instrument, measured on the KEPT files'
    // own scan (never a table rescan — the serving path must stay
    // O(matching files)): every kept file holds at least one match.
    // The other direction — no matching file was MISSED — is the
    // oracle's row equality plus the spec's index-completeness pin.
    val hit = scanned
      .filter(col("o_orderkey") % m === 0)
      .select(q95FileId).distinct().count()
    require(hit == kept.length,
      s"q101: ${kept.length} files kept but only $hit hold a match — " +
        "a record index must have zero false positives")
    q82Face(rows)
  }

  /** DuckDB oracle for q101: the same span-derived probe lookup off
    * the SOURCE — the index path must equal one predicate. */
  val q101Sql: String =
    """WITH b AS (
      | SELECT greatest(1, (max(o_orderkey) - min(o_orderkey)) // 3) AS m
      | FROM orders)
      |SELECT o_orderkey, o_custkey,
      | CAST(year(o_orderdate) AS INT) AS o_year,
      | CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |FROM orders, b
      |WHERE o_orderkey % m = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---- q100: dynamic partition overwrite (replaceWhere) ----

  /** q100's voided-order rule inside the restated window — every
    * 50th order was found invalid by the audit and the restatement
    * drops it (dense key domain ⇒ bites at every SF). */
  private[graft] val q100VoidRes = 50L

  /** The restated partition window: two years, derived from the
    * corpus' own date range (the q82/q95 derive-don't-hardcode
    * stance). */
  private[graft] def q100Years(s: SparkSession, dir: String): (Int, Int) = {
    val y0 = Tables.orders(s, dir)
      .agg(min(year(col("o_orderdate")).cast("int"))).head.getInt(0)
    (y0 + 3, y0 + 4)
  }

  /** Per-partition file inventory (basename → size) for every
    * partition EXCEPT the given ones — the untouched set whose
    * byte-stability the fail-stop asserts. Driver-side O(#files)
    * metadata, the q75/q87 listing stance. */
  private[graft] def q100Inventory(tbl: String, except: Set[Int])
      : Map[String, Long] =
    listParquet(tbl).filterNot { p =>
      except.exists(y => p.contains(s"o_year=$y/"))
    }.map(p => p.substring(tbl.length) ->
      java.nio.file.Files.size(java.nio.file.Paths.get(p))).toMap

  /** q100: DYNAMIC PARTITION OVERWRITE — Delta `replaceWhere` /
    * Spark's `partitionOverwriteMode=dynamic`, the restatement
    * primitive of a partitioned lakehouse (the reference's gold
    * MERGE jobs rebuild whole date partitions when an upstream
    * correction lands): the nightly job recomputes exactly the
    * affected date partitions — here the two derived years, dropping
    * the audit-voided orders — and the overwrite replaces ONLY the
    * partitions present in the batch, leaving every other
    * partition's FILES untouched (not merely row-equal: the
    * fail-stop compares the untouched partitions' file inventory
    * byte-for-byte by name and size, because a static overwrite
    * that rewrote everything would pass any row-level check). A
    * second fail-stop pins the semantic: voided orders are gone from
    * the restated window and nothing else moved. The face is the
    * table's per-year rollup after the restatement; the oracle
    * recomputes it from the SOURCE with the void rule applied to the
    * window — the whole partition dance must equal one conditional
    * predicate.
    *
    * Scale (100 TB): the restatement writes only the affected
    * partitions' bytes (the table's other ~2500 day-partitions cost
    * zero I/O); the replace is a per-partition directory swap —
    * O(#replaced-files) metadata on an object store; the rollup
    * reads through partition pruning. Static overwrite would rewrite
    * the table; per-row MERGE would shuffle it — partition-grain
    * replacement is the cheap middle the layout already paid for. */
  def q100ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
    // construction = both writes AND the lifecycle laws (the
    // byte-stability and voided-rows requires audit the restatement
    // itself, so they belong to the build, not the serving read)
    val tbl = graft.BuildCache.build(s"q100:$dir") {
      val t = scratch("q100_table", dir)
      deleteTree(t)
      src.write.partitionBy("o_year").mode("overwrite").parquet(t)
      val (a, b) = q100Years(s, dir)
      val before = q100Inventory(t, Set(a, b))
      val restated = src
        .filter(col("o_year").isin(a, b) &&
          !(col("o_orderkey") % q100VoidRes === 0))
      restated.write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year").mode("overwrite").parquet(t)
      val after = q100Inventory(t, Set(a, b))
      require(before == after && before.nonEmpty,
        "q100: dynamic overwrite must leave untouched partitions' files " +
          s"byte-stable (${(before.keySet diff after.keySet).take(3)} gone, " +
          s"${(after.keySet diff before.keySet).take(3)} new)")
      val voided = Tables.parquet(s, t).filter(col("o_year").isin(a, b) &&
        col("o_orderkey") % q100VoidRes === 0).count()
      require(voided == 0, s"q100: $voided voided orders survived")
      t
    }
    val table = Tables.parquet(s, tbl)
    table.groupBy("o_year")
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
      .orderBy("o_year")
  }

  /** DuckDB oracle for q100: the source rollup with the void rule
    * applied to exactly the derived window — partition surgery must
    * equal one conditional predicate. */
  val q100Sql: String =
    s"""WITH b AS (
       | SELECT min(year(o_orderdate)) AS y0 FROM orders)
       |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       | count(*) AS orders,
       | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |  AS cents
       |FROM orders, b
       |WHERE NOT (year(o_orderdate) IN (y0 + 3, y0 + 4)
       |           AND o_orderkey % $q100VoidRes = 0)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q104: data-dictionary / information_schema serving face ----

  /** q104's catalog: every driver table with its FRESHNESS column —
    * the column whose max is the table's high watermark (epoch
    * micros for event-time columns, the key itself for key-sequenced
    * tables), cast to one bigint vocabulary so the dictionary row is
    * format-free in both engines. One literal mapping, mirrored
    * line-for-line in [[q104Sql]]. */
  private[graft] def q104Catalog(s: SparkSession, dir: String)
      : Seq[(String, DataFrame, Column)] = Seq(
    ("region",     Tables.region(s, dir),     max(col("r_regionkey"))),
    ("nation",     Tables.nation(s, dir),     max(col("n_nationkey"))),
    ("customer",   Tables.customer(s, dir),   max(col("c_custkey"))),
    ("supplier",   Tables.supplier(s, dir),   max(col("s_suppkey"))),
    ("part",       Tables.part(s, dir),       max(col("p_partkey"))),
    // the raw parquet reads surface date-ish columns as
    // TIMESTAMP_NTZ; the session zone is UTC, so casting to the
    // zoned type before unix_micros reads the same instant DuckDB's
    // epoch_us reads off the naive timestamp
    ("orders",     Tables.orders(s, dir),
      unix_micros(max(col("o_orderdate")).cast("timestamp"))),
    ("lineitem",   Tables.lineitem(s, dir),
      unix_micros(max(col("l_shipdate")).cast("timestamp"))),
    ("events",     Tables.events(s, dir),     unix_micros(max(col("ts")))),
    ("documents",  Tables.documents(s, dir),  max(col("doc_id"))),
    ("embeddings", Tables.embeddings(s, dir), max(col("vec_id"))))

  /** The shared cross-engine type vocabulary: Spark's simpleString
    * is already canonical except TIMESTAMP_NTZ (Spark distinguishes
    * zone-naive; DuckDB's TIMESTAMP IS naive — same physical micros,
    * one name). */
  private[graft] def q104Canon(dt: org.apache.spark.sql.types.DataType): String =
    dt.simpleString match {
      case "timestamp_ntz" => "timestamp"
      case other           => other
    }

  /** q104: DATA DICTIONARY — the information_schema-style catalog
    * face the reference serves to its warehouse consumers (`BQ
    * Writer Views & Data Dictionary.py` publishes table/column
    * metadata alongside the data): one row per column of every
    * served table with (ordinal, type, table row count, high
    * watermark). The engine-semantics core is WHERE each field comes
    * from: column names/ordinals/types are pure schema metadata (no
    * data scanned — Spark's parquet footer read, the
    * information_schema read in any warehouse), while row_count and
    * the freshness watermark are served from a persisted per-table
    * STATS MANIFEST (built here in one count+max pass per table,
    * read back before serving — the q79 stance: a real format
    * maintains these incrementally per commit, and the dictionary
    * read NEVER rescans the data). Types are normalized to one
    * cross-engine vocabulary (bigint/int/double/string/timestamp/
    * array<float>); the oracle rebuilds the identical dictionary
    * from DuckDB's own information_schema over the raw parquet plus
    * a per-table recompute of the stats.
    *
    * Scale (100 TB): the dictionary face is O(#columns) rows joined
    * to an O(#tables) manifest — metadata-sized both sides; the
    * stats build is the once-per-publish aggregate a format's commit
    * protocol already maintains (count+max are partial-aggregable,
    * one map-side-combined pass, no shuffle beyond the 1-row
    * rollup per table). */
  def q104DataDictionary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = q104Catalog(s, dir)
    // the stats-manifest build (one count+max pass over every served
    // table) is construction; the dictionary read below is the probe
    val manifest = graft.BuildCache.build(s"q104:$dir") {
      val m = scratch("q104_dict", dir)
      cat.map { case (name, df, wm) =>
        df.agg(count(lit(1)).as("row_count"), wm.cast("long").as("high_watermark"))
          .select(lit(name).as("table_name"), col("row_count"),
            col("high_watermark"))
      }.reduce(_.unionByName(_))
        .coalesce(1).write.mode("overwrite").parquet(m)
      m
    }
    val stats = Tables.parquet(s, manifest)
    val dict = cat.flatMap { case (name, df, _) =>
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        (name, f.name, i + 1, q104Canon(f.dataType)) }
    }.toDF("table_name", "column_name", "ordinal", "data_type")
    dict.join(broadcast(stats), "table_name")
      .select("table_name", "column_name", "ordinal", "data_type",
        "row_count", "high_watermark")
      .orderBy("table_name", "ordinal")
  }

  /** DuckDB oracle for q104: the dictionary recomputed from DuckDB's
    * OWN catalog (information_schema.columns over the parquet views,
    * type names normalized to the shared vocabulary) joined to the
    * per-table count+watermark recompute. The IN-list pin matters:
    * the driver's DuckDB session may hold other relations; the
    * dictionary describes exactly the served tables. */
  val q104Sql: String = {
    val watermarks = Seq(
      "region" -> "CAST(max(r_regionkey) AS BIGINT)",
      "nation" -> "CAST(max(n_nationkey) AS BIGINT)",
      "customer" -> "CAST(max(c_custkey) AS BIGINT)",
      "supplier" -> "CAST(max(s_suppkey) AS BIGINT)",
      "part" -> "CAST(max(p_partkey) AS BIGINT)",
      "orders" -> "epoch_us(max(o_orderdate))",
      "lineitem" -> "epoch_us(max(l_shipdate))",
      "events" -> "epoch_us(max(ts))",
      "documents" -> "CAST(max(doc_id) AS BIGINT)",
      "embeddings" -> "CAST(max(vec_id) AS BIGINT)")
    val statSelects = watermarks.map { case (t, wm) =>
      s"""SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS row_count,
         | $wm AS high_watermark FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    val inList = watermarks.map(t => s"'${t._1}'").mkString(", ")
    s"""WITH stats AS (
       |$statSelects),
       |cols AS (
       | SELECT table_name, column_name,
       |  CAST(ordinal_position AS INT) AS ordinal,
       |  CASE lower(data_type)
       |   WHEN 'integer' THEN 'int'
       |   WHEN 'varchar' THEN 'string'
       |   WHEN 'float[]' THEN 'array<float>'
       |   ELSE lower(data_type) END AS data_type
       | FROM information_schema.columns
       | WHERE table_name IN ($inList))
       |SELECT c.table_name, c.column_name, c.ordinal, c.data_type,
       | s.row_count, s.high_watermark
       |FROM cols c JOIN stats s USING (table_name)
       |ORDER BY table_name, ordinal""".stripMargin
  }

  def entries: Seq[Entry] = Seq(
    Entry("q30_incremental_export", q30IncrementalExport, q30Sql),
    Entry("q31_export_roundtrip", q31ExportRoundtrip, q31Sql),
    // a faithful round-trip in any format must land on the same rows as the
    // source projection
    Entry("q42_jsonl_roundtrip", q42JsonlRoundtrip, q31Sql),
    Entry("q74_pruned_export", q74PrunedExport, q74Sql),
    Entry("q75_compaction", q75Compaction, q75Sql),
    Entry("q76_data_skipping", q76DataSkipping, q76Sql),
    // q79 answers the same range query over the same (appended) table
    // through the incrementally-maintained manifest - a correct
    // manifest is invisible to the reader
    Entry("q79_incremental_stats", q79IncrementalStats, q76Sql),
    Entry("q80_schema_evolution", q80SchemaEvolution, q80Sql),
    Entry("q82_bloom_skipping", q82BloomSkipping, q82Sql),
    Entry("q83_column_mapping", q83ColumnMapping, q83Sql),
    Entry("q84_partition_evolution", q84PartitionEvolution, q84Sql),
    Entry("q87_shallow_clone", q87ShallowClone, q87Sql),
    Entry("q95_deletion_vectors", q95DeletionVectors, q95Sql),
    Entry("q100_replace_where", q100ReplaceWhere, q100Sql),
    Entry("q101_record_index", q101RecordIndex, q101Sql),
    Entry("q102_layout_matrix", q102LayoutMatrix, q102Sql),
    Entry("q104_data_dictionary", q104DataDictionary, q104Sql))
}
