package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2 ↔ SparkEntry cross-check (no SparkSession needed).
  *
  * Two real gate lapses motivated automating this: r6 implemented
  * a29b but never registered it (sat unwired for two rounds), and r8
  * shipped q36 with no §2 table row and an oracle that was never run.
  * This spec makes both states a failing build:
  *   - every `queries` key has exactly one §2 table row, and vice
  *     versa (no phantom docs, no undocumented operators);
  *   - a §2 row marked oracle=yes has an `oracleSql` entry, a row
  *     marked oracle=rows (declared rows-only) must NOT have one
  *     (a stale flag either way is a docs/code disagreement);
  *   - every `oracleSql` key is also a `queries` key (the driver
  *     only runs oracles for dumped results);
  *   - every registry name is unique: both maps are derived from
  *     `SparkEntry.entries`, and a second row with a taken name would
  *     silently replace the first.
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val survey: Seq[(String, String)] = {
    val row = """^\| ([a-z][a-z0-9_]+) +\| ([a-z]+) +\|.*""".r
    scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines().collect {
      case row(key, oracle) if key != "key" => key -> oracle
    }.toSeq
  }

  test("§2 table keys are unique") {
    val dups = survey.groupBy(_._1).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate §2 rows: $dups")
  }

  test("every SparkEntry query has a §2 row and every §2 row a query") {
    val code = SparkEntry.queries.keySet
    val docs = survey.map(_._1).toSet
    assert((code -- docs).isEmpty, s"registered but not in §2: ${code -- docs}")
    assert((docs -- code).isEmpty, s"in §2 but not registered: ${docs -- code}")
  }

  test("§2 oracle flags agree with the oracleSql registry") {
    val oracles = SparkEntry.oracleSql.keySet
    val flagged = survey.collect { case (k, "yes") => k }.toSet
    val rowsOnly = survey.collect { case (k, "rows") => k }.toSet
    assert((flagged -- oracles).isEmpty,
      s"§2 says oracle=yes but no oracleSql entry: ${flagged -- oracles}")
    assert((oracles -- flagged).isEmpty,
      s"oracleSql entry but §2 does not say oracle=yes: ${oracles -- flagged}")
    assert((rowsOnly & oracles).isEmpty,
      s"§2 says rows-only but an oracle exists: ${rowsOnly & oracles}")
  }

  test("every registry name is unique") {
    val names = SparkEntry.entries.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"registered more than once: $dups")
  }

  // holds by construction (an oracle rides on its entry's row); kept
  // as a guard on the derivation
  test("every oracleSql key is a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without a query: $orphans")
  }
}
