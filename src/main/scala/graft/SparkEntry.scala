package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Relational
import graft.text.TextOps
import graft.dedup.Dedup
import graft.ann.Ann
import graft.multimodal.Multimodal
import graft.sources.Export
import graft.streaming.Streaming

/** One registry row: an entry's name, its builder and, where DuckDB
  * can check it, its oracle SQL. The oracle is taken by name and read
  * only through [[SparkEntry.oracleSql]]: many oracles are (lazy) vals
  * that read another operator object, and a cross-object reference at
  * object init is the NPE cycle (Relational's init touches Streaming,
  * so an eager read of a Relational val from Streaming's init sees it
  * mid-init, null). Listing the entries therefore evaluates no SQL. */
final class Entry private (val name: String, val build: Entry.Builder,
    sql: => Option[String]) {
  def oracle: Option[String] = sql
}

object Entry {
  type Builder = (SparkSession, String) => DataFrame
  def apply(name: String, build: Builder): Entry = new Entry(name, build, None)
  def apply(name: String, build: Builder, oracle: => String): Entry =
    new Entry(name, build, Some(oracle))
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01AggFilter(spark, "/root/testdata/sf0.001")

  /** Every registry row, one per implemented operator of SURVEY.md §2. */
  def entries: Seq[Entry] =
    Relational.entries ++ TextOps.entries ++ Dedup.entries ++ Ann.entries ++
      Multimodal.entries ++ Streaming.entries ++ Export.entries

  def queries: Map[String, Entry.Builder] = entries.map(e => e.name -> e.build).toMap

  /** For each entry with an oracle, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. */
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
