package graft

/** Bench measurement-plan drift guards, and the build/probe split.
  *
  * The solo set is a list of NAMES maintained by hand across rounds;
  * `familyPlan` partitions the registry against it. Two silent drift
  * modes motivated pinning this: a renamed (or deleted) query leaves
  * a stale solo name that matches nothing — the entry quietly falls
  * back into its prefix family and loses the attribution the set
  * exists for; and a plan bug could measure an entry twice or not at
  * all and the one-line JSON would not say so. */
class BenchPlanSpec extends SparkSpec {

  test("every solo name is a registered query (no stale attribution entries)") {
    val stale = Bench.solo -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"solo names not in the registry: $stale")
  }

  test("familyPlan covers every registered query exactly once") {
    val planned = Bench.familyPlan().flatMap(_._2)
    assert(planned.size == planned.distinct.size,
      s"duplicated: ${planned.diff(planned.distinct)}")
    assert(planned.toSet == SparkEntry.queries.keySet,
      s"missing: ${SparkEntry.queries.keySet -- planned.toSet}; " +
        s"phantom: ${planned.toSet -- SparkEntry.queries.keySet}")
  }

  test("solo groups carry mid sentinels, prefix families do not") {
    Bench.familyPlan().foreach { case (name, members, mid) =>
      if (name.startsWith("solo_")) {
        assert(mid, s"$name lost its mid sentinels")
        assert(members.forall(Bench.solo), s"$name holds a non-solo entry")
      } else
        assert(members.forall(m => !Bench.solo(m)),
          s"$name holds solo entries: ${members.filter(Bench.solo)}")
    }
  }

  test("the summary line is one short JSON object carrying the total") {
    import Bench.{FamilyTiming, Timing}
    val fams = Seq(
      "solo_00" -> FamilyTiming(Seq(Timing("a", 1.5, 1.25, 2.0),
        Timing("b", -1.0, -1.0, -1.0)), sentBefore = 0.5, sentAfter = 0.5),
      "relational" -> FamilyTiming(Seq(Timing("c", 0.25, 0.25, 0.5),
        Timing("d", 2.0, 2.0, 2.0, buildSec = 3.0)), sentBefore = 0.5, sentAfter = 0.5))
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
      val (first, _, _) = Bench.timeQueries(spark, sfDir,
        Seq("q92_checkpointed_travel", "q01_agg_filter"), mid = false)
      val byName = first.map(t => t.name -> t).toMap
      assert(byName("q92_checkpointed_travel").buildSec >= 0,
        "q92's first pass built its chain but reported no build")
      assert(byName("q01_agg_filter").buildSec == -1.0)
      // the chain is built once per JVM: a later call only reads it
      val (again, _, _) = Bench.timeQueries(spark, sfDir,
        Seq("q92_checkpointed_travel"), mid = false)
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
