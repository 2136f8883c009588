package graft

/** Bench's measurement plan, its child part protocol, and the
  * build/probe split.
  *
  * A plan bug could measure an entry twice or not at all, and the
  * one-line JSON would not say so. A child whose flags or part line
  * break falls back to timing in-process, which only the record's
  * `isolation` field would show. */
class BenchPlanSpec extends SparkSpec {
  import Bench.{FamilyTiming, Timing}

  test("familyPlan covers every registered query exactly once") {
    val planned = Bench.familyPlan().flatMap(_._2)
    assert(planned.size == planned.distinct.size,
      s"duplicated: ${planned.diff(planned.distinct)}")
    assert(planned.toSet == SparkEntry.queries.keySet,
      s"missing: ${SparkEntry.queries.keySet -- planned.toSet}; " +
        s"phantom: ${planned.toSet -- SparkEntry.queries.keySet}")
  }

  test("familyPlan splits the registry in name order into groups of at most 4") {
    val plan = Bench.familyPlan()
    val n = SparkEntry.queries.size
    assert(plan.size == (n + 3) / 4)
    assert(plan.map(_._1) == plan.indices.map(i => f"group_$i%02d"))
    assert(plan.forall(g => g._2.nonEmpty && g._2.size <= 4), plan)
    assert(plan.flatMap(_._2) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a part line reads back as the group it reports") {
    val groups = Seq(
      FamilyTiming(Seq(Timing("a", 1.5, 1.25, 2.0),
          Timing("b", -1.0, -1.0, -1.0), Timing("c", 0.25, 0.125, 0.5, buildSec = 3.5)),
        0.5, 0.625, Seq("b" -> 0.75, "c" -> -1.0), 1.25, 1.5, Seq("b" -> 2.0, "c" -> 1.75)),
      FamilyTiming(Seq(Timing("d", 2.0, 2.0, 2.0)), 0.5, 0.5, Seq.empty, 1.0, 1.0, Seq.empty))
    groups.foreach { ft =>
      val line = Bench.partLine(ft)
      assert(!line.contains("\n"), line)
      assert(Bench.readPart(line).contains(ft), line)
    }
  }

  test("a truncated part line, or one without queries, reads as None") {
    val line = Bench.partLine(FamilyTiming(Seq(Timing("a", 1.5, 1.25, 2.0)),
      0.5, 0.5, Seq.empty, 1.0, 1.0, Seq.empty))
    assert(Bench.readPart(line.dropRight(1)).isEmpty)
    assert(Bench.readPart(line.take(line.length / 2)).isEmpty)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tree.remove("queries")
    assert(Bench.readPart(tree.toString).isEmpty, tree.toString)
    assert(Bench.readPart("").isEmpty)
  }

  test("a one-entry group times in a child JVM, not the in-process fallback") {
    val ft = Bench.runChild("group_spec", Seq("q05_explode_pos"), sfDir)
    assert(ft.isDefined, "the child JVM failed or printed no part line")
    assert(ft.get.queries.map(_.name) == Seq("q05_explode_pos"))
    assert(ft.get.queries.head.med >= 0 && ft.get.sentBefore >= 0, ft)
    assert(ft.get.mids.isEmpty && ft.get.midsIo.isEmpty, ft)
  }

  test("the summary line is one short JSON object carrying the total") {
    val fams = Seq(
      "group_00" -> FamilyTiming(Seq(Timing("a", 1.5, 1.25, 2.0),
        Timing("b", -1.0, -1.0, -1.0)), 0.5, 0.5, Seq("b" -> 0.5), 1.0, 1.0, Seq("b" -> 1.0)),
      "group_01" -> FamilyTiming(Seq(Timing("c", 0.25, 0.25, 0.5),
        Timing("d", 2.0, 2.0, 2.0, buildSec = 3.0)), 0.5, 0.5, Seq("d" -> 0.5), 1.0, 1.0, Seq("d" -> 1.0)))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = Bench.summaryJson(fams, mixed = false)
    assert(line.length < 500 && !line.contains("\n"), line)
    val j = json.readTree(line)
    assert(j.get("metric").asText == "total")
    assert(j.get("value").asDouble == 3.75, line)
    assert(j.get("unit").asText == "sec")
    assert(j.get("entries").asInt == 4)
    assert(j.get("failed").asInt == 1)
    assert(j.get("isolation").asText == "jvm-per-group")
    assert(json.readTree(Bench.summaryJson(fams, mixed = true))
      .get("isolation").asText == "mixed")
  }

  test("an entry's first pass is its build pass exactly when it builds an artifact") {
    try {
      BuildCache.reset()
      BuildCache.enable()
      val (first, mids, midsIo) = Bench.timeQueries(spark, sfDir,
        Seq("q92_checkpointed_travel", "q01_agg_filter"))
      // every member after the first carries its cpu and io stamps
      assert(mids.map(_._1) == Seq("q01_agg_filter") && mids.head._2 > 0, mids)
      assert(midsIo.map(_._1) == Seq("q01_agg_filter") && midsIo.head._2 > 0, midsIo)
      val byName = first.map(t => t.name -> t).toMap
      assert(byName("q92_checkpointed_travel").buildSec >= 0,
        "q92's first pass built its chain but reported no build")
      assert(byName("q01_agg_filter").buildSec == -1.0)
      // the chain is built once per JVM: a later call only reads it
      val (again, _, _) = Bench.timeQueries(spark, sfDir,
        Seq("q92_checkpointed_travel"))
      assert(again.head.buildSec == -1.0)
      assert((first ++ again).forall(_.med >= 0), s"a pass failed: $first $again")
    } finally BuildCache.reset()
  }

  /** The law that makes the split SEMANTICS-PRESERVING: with
    * memoization on, a second invocation (probe-only) returns the
    * same rows the full lifecycle returned, and runs no build. One
    * representative per family shape keeps the spec fast; the
    * per-entry determinism of every build is what the oracle gate
    * already checks round-over-round. */
  test("memoized probe == full lifecycle (q92 chain-writer, s79 stream fold)") {
    // uses the SHARED test session (stopping a private getOrCreate
    // session here would kill Spark for every later suite) and
    // restores the disabled default
    try {
      BuildCache.reset()
      BuildCache.enable()
      // q33's cached value is a pair of RESOLVED bucketed-table
      // Datasets whose catalog names are dropped inside the build —
      // the law proves the memoized probe still reads the bucket
      // files and returns lifecycle rows
      Seq("q92_checkpointed_travel", "s79_stream_pseudonymize",
          "q33_bucketed_join").foreach { q =>
        val keys0 = BuildCache.builtKeys
        val full = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
        assert((BuildCache.builtKeys -- keys0).nonEmpty,
          s"$q: first pass registered no build")
        val t0 = BuildCache.totalBuildSec
        val probe = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
        assert(BuildCache.totalBuildSec == t0,
          s"$q: second pass re-ran construction")
        assert(probe == full, s"$q: memoized probe rows != lifecycle rows")
      }
    } finally BuildCache.reset()
  }
}
