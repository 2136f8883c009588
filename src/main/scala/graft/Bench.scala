package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * [[Session.sfDir]] and prints one JSON line of per-query wall
  * times. Results are materialized through the noop sink so the
  * whole plan executes (a bare count() would let Catalyst prune
  * projections and skip the work being measured).
  *
  * Isolation: in one shared JVM, JIT/GC state left behind by heavy
  * entries makes later times unattributable (q29 read 6.4 s after the
  * dedup family and 2.4 s alone). One JVM per heavy entry costs more
  * start-up than the measurement itself, so heavy ("solo") entries
  * share one JVM per group of 4, with a q01 drift sentinel timed
  * immediately before each member after the first (`sentinel_mid_sec`)
  * so every entry still stamps a polluted window. Light entries share
  * one JVM per name prefix. The parent runs each group in a child
  * JVM of this same main (`--part q1,q2,...`, `--mid` for the
  * per-entry sentinel); if a child cannot be spawned it times that
  * group in-process and marks the record `isolation: "mixed"`. */
object Bench {

  /** Entries that need a window of their own: those whose sf0.1
    * median exceeds ~2 s, and those that write persisted artifacts or
    * fold parquet generations. Either kind leaves JIT, GC or disk
    * state that would perturb the light entries sharing a prefix
    * family's JVM, and their own numbers must be attributable from
    * one record to the next. */
  private[graft] val solo = Set(
    "a29_ann_ivf", "a29b_ann_ivf_oracle", "a33_ann_ivfpq",
    "a42_ann_ivf_mips", "a43_persisted_mips", "a44_cell_stats",
    "a45_cell_split", "a46_cell_merge", "a47_nprobe_curve",
    "a48_hard_negatives", "a49_knn_join", "a51_range_search",
    "a52_cell_compaction", "a53_index_time_travel",
    "a54_retrain_decision", "a55_pq_tradeoff",
    "d23_dedup_minhash", "d23b_minhash_oracle", "d24_dedup_simhash",
    "d24b_simhash_oracle", "d25_ngram_jaccard", "d25b_ngram_banded",
    "d25c_ngram_banded_oracle", "d26_embed_neardup",
    "d27_dedup_components", "d27b_components_oracle",
    "d28_embed_neardup_lsh", "d31_passage_scrub", "d32_embed_dedup",
    "d37_incremental_neardup", "d38_incremental_embed_neardup",
    "d39_incremental_components", "d44_substring_dedup",
    "d45_substring_scrub", "d46_semantic_dedup", "d47_index_forget",
    "d48_containment_dedup", "d51_neardup_eval", "d52_corpus_overlap",
    "d53_banding_curve", "d54_overlap_matrix",
    "m35_media_neardup", "m36_media_dedup_closure",
    "q100_replace_where", "q101_record_index", "q102_layout_matrix",
    "q103_atomic_publish", "q104_data_dictionary", "q12_double_entry",
    "q26_unpivot", "q29_json_keys", "q31_export_roundtrip",
    "q33_bucketed_join", "q34_zorder", "q42_jsonl_roundtrip",
    "q52_profile", "q52b_hll_ndv", "q53_communities",
    "q68_quantile_sketch", "q74_pruned_export", "q75_compaction",
    "q76_data_skipping", "q78_retention", "q79_incremental_stats",
    "q81_restore", "q82_bloom_skipping", "q84_partition_evolution",
    "q85_khop", "q87_shallow_clone", "q92_checkpointed_travel",
    "q93_change_feed", "q94_orphan_gc", "q95_deletion_vectors",
    "q96_wap",
    "s39_stream_decontaminate", "s44_stream_neardup_admit",
    "s48_stream_semantic_admit", "s49_stream_heavy_hitters",
    "s50_stream_funnel", "s51_stream_scd2", "s53_stream_hll",
    "s54_stream_transitions", "s55_stream_profile",
    "s56_stream_attribution", "s57_stream_anomaly", "s58_stream_psi",
    "s59_stream_benford", "s60_stream_quantiles", "s61_stream_xmr",
    "s62_stream_forecast", "s63_stream_sessions",
    "s64_stream_weighted_sample", "s65_exactly_once", "s66_stream_rfm",
    "s67_stream_overlap", "s68_stream_compaction",
    "s69_stream_schema_evolution", "s70_stream_skipping",
    "s71_stream_late_data", "s72_stream_join_mv", "s73_stream_fifo",
    "s74_stream_asof", "s75_stream_cdf", "s76_stream_wap",
    "s77_stream_mor", "s78_stream_record_index",
    "s79_stream_pseudonymize",
    "t35_repetition", "t38_keyphrase", "t40_pipeline", "t51_bpe_merges",
    "t52_bpe_apply", "t57_bpe_batched", "t58_ccnet_buckets")

  /** Entries per solo-group JVM. One JVM per entry overran the bench
    * slot; 8 per JVM inflated neighbours' times by 1.26× through shared
    * JIT/GC state, against 1.12× at 4. The per-entry mid sentinel
    * stamps any window the sharing does pollute. */
  private val groupSize = 4

  private def prefixFamily(name: String): String =
    name.head match {
      case 'q' => "relational"
      case 't' => "text"
      case 's' => "streaming"
      case 'a' => "ann"
      case 'd' => "dedup_small"
      case _   => "misc"
    }

  /** (familyName, members, midSentinels?) for every registered query:
    * solo entries chunk into groups of `groupSize` (sorted by name so
    * the grouping is deterministic; boundaries shift only when the
    * registry grows, which per-entry mid sentinels make harmless),
    * light entries group by prefix. */
  private[graft] def familyPlan(): Seq[(String, Seq[String], Boolean)] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val (solos, lights) = all.partition(solo)
    val groups = solos.grouped(groupSize).zipWithIndex.map {
      case (part, i) => (f"solo_$i%02d", part, true)
    }.toSeq
    val fams = lights.groupBy(prefixFamily).toSeq.sortBy(_._1)
      .map { case (f, part) => (f, part, false) }
    groups ++ fams
  }

  /** One measured query: median plus the min/max band. The band is
    * the error bar: on a shared host the same query in the same warm
    * JVM has spanned 10.6–13.8 s back-to-back, so a bare median
    * invites reading host noise as a regression. Compare records by
    * the overlap of the bands. `buildSec` is the construction time of
    * the artifact the entry's first pass built, or -1 if it built
    * none. */
  case class Timing(name: String, med: Double, lo: Double, hi: Double,
      buildSec: Double = -1.0)

  /** A family's timings bracketed by the drift sentinel: the fixed
    * micro-query (q01) timed immediately before and after the family.
    * Min/max bands alone cannot flag a contended window (a 1.2 s
    * query once recorded a 54.8 s median). A sentinel that should always take ~the same time makes
    * each family's numbers self-identify as clean (ratio ≈ 1, small
    * absolute sentinel) or polluted (inflated sentinel on either
    * side). `mids` (solo groups only) adds one single-run q01 time
    * immediately before each member after the first, keyed by that
    * member — the per-entry drift stamp that lets heavy entries
    * share a JVM without losing attribution.
    *
    * The `*Io` twins are the IO leg: q01 is a CPU
    * micro-query, so a disk-contended window inflates it far less
    * than it inflates the shuffle/write-bound entries it guards
    * (m35's 20.8× window carried a 5.0× cpu stamp). Each cpu
    * sentinel point is paired with one fixed small shuffle+
    * parquet-write probe whose inflation stamps disk contention in
    * the same cost class as the entries that suffer it. */
  case class FamilyTiming(timings: Seq[Timing],
      sentBefore: Double, sentAfter: Double,
      mids: Seq[(String, Double)] = Seq.empty,
      sentBeforeIo: Double = -1.0, sentAfterIo: Double = -1.0,
      midsIo: Seq[(String, Double)] = Seq.empty)

  private def q01Once(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries("q01_agg_filter")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] sentinel failed: ${e.getMessage}")
      -1.0
    }
  }

  /** The IO drift probe: one fixed-size shuffle + parquet write to
    * scratch (events keyed by user_id, 8 partitions — ~1 s class at
    * sf0.1, fixed so its inflation measures the host's disk, not the
    * code). */
  private def ioOnce(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    try {
      val out = graft.sources.Export.scratch("bench_io_probe", sfDir)
      Tables.events(spark, sfDir).repartition(8, col("user_id"))
        .write.mode("overwrite").parquet(out)
      (System.nanoTime() - t0) / 1e9
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] io sentinel failed: ${e.getMessage}")
      -1.0
    }
  }

  /** Median-of-3 q01 wall time — the drift sentinel. Cheap (~1 s at
    * sf0.1) and fixed, so its inflation measures the host, not the
    * code. */
  private def sentinelTime(spark: SparkSession, sfDir: String): Double = {
    val runs = (1 to 3).map(_ => q01Once(spark, sfDir))
    if (runs.exists(_ < 0)) -1.0 else runs.sorted.apply(1)
  }

  /** Timed passes per query, adaptive: 2 passes suffice when they
    * agree — a sub-second first pass (jitter-dominated; noise only
    * adds, so min-of-2 is the best point estimate) or r1/r2 within 10%
    * of each other (the skipped third pass could only have moved the
    * number inside the band) — and the full median-of-3 runs when the
    * first two disagree, which is also when pass 1 carried
    * codegen-compile cost. With `mid` set (solo groups), each query
    * after the first is preceded by one q01 run whose time is recorded
    * against that query — its drift stamp.
    *
    * Build/probe split: with [[BuildCache]] enabled, an entry whose
    * first pass grows `BuildCache.builtKeys` has just constructed a
    * persisted artifact that every later invocation in this JVM
    * reuses. That pass is reported as `buildSec` (the construction
    * time alone) and the timed passes follow it, so they time the
    * served read. Any other entry's first pass is its first timed
    * pass. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      names: Seq[String], mid: Boolean)
      : (Seq[Timing], Seq[(String, Double)], Seq[(String, Double)]) = {
    // no separate warmup pass: timeFamily's leading sentinel has just
    // run q01 three times in this JVM
    def timeOnce(name: String): Double = {
      // Every pass starts cache-cold. Operators persist() shared
      // subtrees for reuse within one invocation (a42's centroids,
      // d23's band stream), and Spark's CacheManager matches cached
      // plans by canonical form across queries in a session, so a
      // later pass or a same-JVM neighbour would otherwise read pass
      // 1's cached data instead of computing from the parquet inputs.
      // BuildCache artifacts are paths on disk, not cached frames, so
      // the build/probe split is unaffected.
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }
    def round3(v: Double): Double =
      if (v > 0) math.rint(v * 1000) / 1000 else -1.0
    val mids = Vector.newBuilder[(String, Double)]
    val midsIo = Vector.newBuilder[(String, Double)]
    val ts = names.zipWithIndex.map { case (name, i) =>
      if (mid && i > 0) {
        val s = q01Once(spark, sfDir)
        val io = ioOnce(spark, sfDir)
        mids += name -> round3(s)
        midsIo += name -> round3(io)
        System.err.println(
          f"[bench] mid-sentinel before $name%-26s cpu $s%6.2f s  io $io%6.2f s")
      }
      val built0 = BuildCache.builtKeys.size
      val b0 = BuildCache.totalBuildSec
      val first = timeOnce(name)
      val buildSec =
        if (first < 0 || BuildCache.builtKeys.size == built0) -1.0
        else {
          val b = BuildCache.totalBuildSec - b0
          System.err.println(f"[bench] $name%-26s build $b%8.2f s " +
            f"(first pass $first%.2f s incl. probe)")
          math.rint(b * 1000) / 1000
        }
      val r1 = if (buildSec >= 0) timeOnce(name) else first
      val runs =
        if (r1 < 0) Seq(r1)
        else {
          val r2 = timeOnce(name)
          if (r2 < 0) Seq(r1, r2)
          else if (r1 < 1.0 ||
              math.abs(r1 - r2) <= 0.1 * math.min(r1, r2)) Seq(r1, r2)
          else Seq(r1, r2, timeOnce(name))
        }
      val med =
        if (runs.exists(_ < 0)) -1.0
        else if (runs.length == 2) runs.min
        else runs.sorted.apply(runs.length / 2)
      val (lo, hi) =
        if (runs.exists(_ < 0)) (-1.0, -1.0) else (runs.min, runs.max)
      System.err.println(
        f"[bench] $name%-26s $med%8.2f s (runs: ${runs.map(r => f"$r%.2f").mkString(", ")})")
      Timing(name, med, lo, hi, buildSec)
    }
    (ts, mids.result(), midsIo.result())
  }

  /** timeQueries bracketed by the drift sentinel (cpu + io legs).
    * The leading sentinel doubles as the JVM warmup: its median-of-3
    * absorbs q01's one-off codegen-compile cost in a single run, and
    * by the time the family is measured the session is warm. */
  private def timeFamily(spark: SparkSession, sfDir: String,
      names: Seq[String], mid: Boolean): FamilyTiming = {
    val before = sentinelTime(spark, sfDir)
    val beforeIo = ioOnce(spark, sfDir)
    val (ts, mids, midsIo) = timeQueries(spark, sfDir, names, mid)
    val after = sentinelTime(spark, sfDir)
    val afterIo = ioOnce(spark, sfDir)
    FamilyTiming(ts, before, after, mids, beforeIo, afterIo, midsIo)
  }

  private def mapJson(m: Seq[(String, Double)]): String =
    m.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  private def numJson(rs: Seq[Timing], f: Timing => Double): String =
    mapJson(rs.map(t => t.name -> f(t)))

  /** Child JVM command: FORWARD the parent's own JVM flags (module
    * opens, heap, -D system props) so parent and child can never
    * drift — a hardcoded copy of build.sbt's javaOptions would
    * silently degrade every family to the in-process fallback the
    * first time the required flags change. Plus the full application
    * classpath (real here because build.sbt forks `run`) and the
    * child part protocol. */
  private def childCommand(part: Seq[String], mid: Boolean): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val parentArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val forwarded = parentArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("--enable-native-access"))
        // tokenized form: the module spec rides in the NEXT argument
        if (a.contains("=") || i + 1 >= parentArgs.length) Seq(a)
        else Seq(a, parentArgs(i + 1))
      else if (a.startsWith("-Xmx") || a.startsWith("-Xms") || a.startsWith("-D")) Seq(a)
      else Seq.empty
    }
    Seq(javaBin) ++ forwarded ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.Bench", "--part", part.mkString(",")) ++
      (if (mid) Seq("--mid") else Seq.empty)
  }

  /** Run one family in a fresh JVM; None if the child failed. */
  private def runChild(family: String, part: Seq[String],
      mid: Boolean): Option[FamilyTiming] = {
    try {
      val pb = new ProcessBuilder(childCommand(part, mid): _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val rc = proc.waitFor()
      val line = out.linesIterator.find(_.contains("\"metric\":\"part\""))
      if (rc != 0 || line.isEmpty) {
        System.err.println(s"[bench] child $family rc=$rc, falling back in-process")
        None
      } else {
        val re = """"([a-z0-9_]+)":(-?[0-9.]+(?:[eE]-?[0-9]+)?)""".r
        // guarded extraction: a missing tag or brace must trigger the
        // in-process fallback, not a silent substring of the wrong
        // object
        def section(tag: String): Option[Map[String, Double]] = {
          val from = line.get.indexOf("\"" + tag + "\"")
          if (from < 0) None
          else {
            val open = line.get.indexOf('{', from)
            val close = if (open < 0) -1 else line.get.indexOf('}', open)
            if (open < 0 || close < 0) None
            else Some(re.findAllMatchIn(line.get.substring(open, close + 1))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap)
          }
        }
        section("queries").filter(_.nonEmpty) match {
          case Some(med) =>
            val lo = section("qlo").getOrElse(Map.empty[String, Double])
            val hi = section("qhi").getOrElse(Map.empty[String, Double])
            val sent = section("sent").getOrElse(Map.empty[String, Double])
            val sentIo = section("sentio").getOrElse(Map.empty[String, Double])
            val mids = section("qmid").getOrElse(Map.empty[String, Double])
            val midsIo = section("qmidio").getOrElse(Map.empty[String, Double])
            val builds = section("qbuild").getOrElse(Map.empty[String, Double])
            Some(FamilyTiming(
              med.keys.toSeq.sorted.map(k =>
                Timing(k, med(k), lo.getOrElse(k, med(k)), hi.getOrElse(k, med(k)),
                  builds.getOrElse(k, -1.0))),
              sent.getOrElse("before", -1.0), sent.getOrElse("after", -1.0),
              mids.toSeq.sortBy(_._1),
              sentIo.getOrElse("before", -1.0), sentIo.getOrElse("after", -1.0),
              midsIo.toSeq.sortBy(_._1)))
          case None =>
            System.err.println(
              s"[bench] child $family emitted malformed part JSON, falling back in-process")
            None
        }
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] spawn $family failed: ${e.getMessage}")
      None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    // bench JVMs (parent fallback and children) memoize artifact
    // construction so the pass structure can split build from probe
    BuildCache.enable()
    if (args.length >= 2 && args(0) == "--part") {
      // child: time the named queries in THIS JVM, report a partial
      val spark = Session.local()
      val ft = timeFamily(spark, sfDir, args(1).split(",").toSeq,
        args.contains("--mid"))
      val rs = ft.timings
      val builds = rs.filter(_.buildSec >= 0).map(t => t.name -> t.buildSec)
      println(s"""{"metric":"part","sent":{"before":${ft.sentBefore},"after":${ft.sentAfter}},"sentio":{"before":${ft.sentBeforeIo},"after":${ft.sentAfterIo}},"qmid":${mapJson(ft.mids)},"qmidio":${mapJson(ft.midsIo)},"qbuild":${mapJson(builds)},"queries":${numJson(rs, _.med)},"qlo":${numJson(rs, _.lo)},"qhi":${numJson(rs, _.hi)}}""")
      spark.stop()
      return
    }
    var mixed = false
    val plan = familyPlan()
    val acc = Vector.newBuilder[(String, FamilyTiming)]
    plan.zipWithIndex.foreach { case ((family, part, mid), i) =>
      System.err.println(s"[bench] === family $family (${part.size} queries, fresh JVM${if (mid) ", mid-sentinels" else ""}) ===")
      acc += family -> runChild(family, part, mid).getOrElse {
        mixed = true
        val spark = Session.local()
        try timeFamily(spark, sfDir, part, mid) finally spark.stop()
      }
      // Rewrite bench_out.json after every family, marked partial until
      // the final write below replaces it, so a run killed by a
      // timeout still leaves every measured family on disk.
      if (i + 1 < plan.size)
        writeBenchOut(buildJson(acc.result(), mixed, sfDir,
          partial = Some((i + 1, plan.size))))
    }
    val famResults = acc.result()
    val json = buildJson(famResults, mixed, sfDir, partial = None)
    // medians last: a reader that keeps only the tail of this line
    // still gets the primary numbers; the noise bands are the
    // expendable head.
    // The same line is also written to bench_out.json so a full copy
    // exists regardless of any capture window.
    println(json)
    println(summaryJson(famResults, mixed))
    writeBenchOut(json)
  }

  private def totalSec(results: Seq[Timing]): Double =
    results.map(_.med).filter(_ >= 0).sum

  private def isolation(mixed: Boolean): String =
    if (mixed) "mixed" else "jvm-per-group"

  /** The short record printed after the full line: a reader that keeps
    * only the last 2000 characters of the output (the full line is
    * longer than that, and sbt prints its `[success]` line after it)
    * still gets one whole JSON object. `failed` counts the entries
    * whose timing is -1 (the query threw). */
  private[graft] def summaryJson(famResults: Seq[(String, FamilyTiming)],
      mixed: Boolean): String = {
    val results = famResults.flatMap(_._2.timings)
    s"""{"metric":"total","value":${totalSec(results)},"unit":"sec","entries":${results.size},"failed":${results.count(_.med < 0)},"isolation":"${isolation(mixed)}"}"""
  }

  /** Assemble the result JSON. With `partial = Some((done, of))` the
    * object leads with a "partial" marker — the crash-safe
    * families-so-far record written between families; the final
    * (complete) form has no such field, so a finished bench_out can
    * never be mistaken for a truncated one. */
  private def buildJson(famResults: Seq[(String, FamilyTiming)],
      mixed: Boolean, sfDir: String, partial: Option[(Int, Int)]): String = {
    val results = famResults.flatMap(_._2.timings)
    val total = totalSec(results)
    val iso = isolation(mixed)
    // Drift sentinel: each family's numbers are
    // bracketed by a fixed micro-query (q01) timed in the same JVM.
    // The two sides live at DIFFERENT JVM ages (before = JIT-cold
    // right after session start, after = fully warm), so each side is
    // normalized against its own best across the run — all "befores"
    // share a lifecycle, all "afters" share a lifecycle — and
    // sentinel_ratio is the worse of the two per-side ratios. A
    // family measured in a contended window stamps itself (windows
    // of 10-45× on a 1.2 s query have been seen); a
    // uniformly slow run shows in the absolute before/after seconds.
    // Ratios ≳ 3 mean: do not trust round-over-round deltas for that
    // family. sentinel_mid_sec adds the per-entry stamp inside solo
    // groups: one warm q01 run timed immediately before that entry
    // (same lifecycle as "after" — compare against the best "after").
    val sentBefore = famResults.map { case (f, ft) => f -> ft.sentBefore }
    val sentAfter = famResults.map { case (f, ft) => f -> ft.sentAfter }
    val sentMid = famResults.flatMap(_._2.mids)
    val sentBeforeIo = famResults.map { case (f, ft) => f -> ft.sentBeforeIo }
    val sentAfterIo = famResults.map { case (f, ft) => f -> ft.sentAfterIo }
    val sentMidIo = famResults.flatMap(_._2.midsIo)
    def bestOf(side: Seq[(String, Double)]): Double = {
      val pos = side.map(_._2).filter(_ > 0)
      if (pos.nonEmpty) pos.min else -1.0
    }
    def ratioOf(befores: Seq[(String, Double)], afters: Seq[(String, Double)])
        : Seq[(String, Double)] = {
      val (bb, ba) = (bestOf(befores), bestOf(afters))
      def side(v: Double, best: Double): Double =
        if (v > 0 && best > 0) v / best else -1.0
      val am = afters.toMap
      befores.map { case (f, b) =>
        val worse = math.max(side(b, bb), side(am.getOrElse(f, -1.0), ba))
        f -> (if (worse > 0) math.rint(worse * 100) / 100 else -1.0)
      }
    }
    val sentRatio = ratioOf(sentBefore, sentAfter)
    val sentIoRatio = ratioOf(sentBeforeIo, sentAfterIo)
    // entries that built an artifact report its construction time
    // separately; their queries/lo/hi numbers are the served read
    // alone
    val builds = results.filter(_.buildSec >= 0).map(t => t.name -> t.buildSec)
    val buildTotal = math.rint(builds.map(_._2).filter(_ >= 0).sum * 1000) / 1000
    val partialField = partial.fold("")(p =>
      "\"partial\":\"" + p._1 + "/" + p._2 + " families\",")
    s"""{"metric":"total",$partialField"value":$total,"unit":"sec","n":"3 (2, reported as min, when pass 1 < 1s or passes 1-2 agree within 10%); every pass starts cache-cold (catalog.clearCache, so in-invocation persists never carry between passes); artifact-writer entries add a build-only first pass — their queries/lo/hi time the served read, build_sec the construction","isolation":"$iso","sf":"$sfDir","build_total_sec":$buildTotal,"build_sec":${mapJson(builds)},"sentinel_before_sec":${mapJson(sentBefore)},"sentinel_after_sec":${mapJson(sentAfter)},"sentinel_mid_sec":${mapJson(sentMid)},"sentinel_before_io_sec":${mapJson(sentBeforeIo)},"sentinel_after_io_sec":${mapJson(sentAfterIo)},"sentinel_mid_io_sec":${mapJson(sentMidIo)},"sentinel_ratio":${mapJson(sentRatio)},"sentinel_io_ratio":${mapJson(sentIoRatio)},"queries_lo":${numJson(results, _.lo)},"queries_hi":${numJson(results, _.hi)},"queries":${numJson(results, _.med)}}"""
  }

  private def writeBenchOut(json: String): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"), (json + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
}
