package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema

/** Typed loaders for the driver-generated parquet tables, and the one
  * read path for every parquet input the engine reads without a
  * schema of its own.
  *
  * At 100 TB these would be date/key-partitioned lakehouse tables
  * (the reference partitions everything by `block_date`, see
  * reference: src/lakehouse/notebooks/Silver Lake Mainnet.sql:17).
  * Loaders stay thin so Catalyst sees the raw scan and can push
  * filters + prune columns into the parquet reader.
  *
  * Reads go through [[parquet]] rather than `s.read.parquet`: without
  * a schema, Spark reads the files' footers inside a Spark job before
  * the query's own plan exists, and short interactive queries over
  * the same few tables would pay that job on every call. [[parquet]]
  * reads the same footers on the driver instead. The same path
  * installs [[SmallSort]] on the session, so every entry's
  * presentation sort over a small input runs in one partition instead
  * of behind a range-sampling job.
  */
object Tables {
  /** `s.read.options(options).parquet(paths: _*)` without its
    * schema-inference job: the read carries the schema
    * [[GraftParquetSchema]] reads from the files' footers on the
    * driver. Paths holding no parquet file, or missing, are read
    * plainly, so they fail with Spark's own AnalysisException. */
  def parquet(s: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    read(s, paths, paths, options)

  def parquet(s: SparkSession, path: String): DataFrame = parquet(s, Seq(path))

  /** The given files of one flat layout, read with the layout's schema:
    * an empty list reads as no rows with the layout's columns (and its
    * `_metadata`), so a subset pruned to nothing needs no branch. A
    * layout holding no parquet file fails as [[parquet]] does. */
  def parquet(s: SparkSession, layout: String, files: Seq[String]): DataFrame =
    read(s, Seq(layout), files, Map.empty)

  /** Reads `paths` with the schema of the files under `schemaFrom`. */
  private def read(s: SparkSession, schemaFrom: Seq[String], paths: Seq[String],
      options: Map[String, String]): DataFrame = {
    SmallSort.install(s)
    val reader = s.read.options(options)
    GraftParquetSchema.infer(s, schemaFrom, options) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(schemaFrom: _*)
    }
  }

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    parquet(s, s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame     = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = load(s, dir, "lineitem")
  /** events.parquet has shipped `ts` in two physical layouts across
    * test-data generations: TIMESTAMP(NANOS), which Spark reads only as
    * a long (nanoseconds, truncated here to a microsecond timestamp,
    * matching DuckDB's ns→us truncation), and plain TIMESTAMP micros
    * (read natively). Adapt by the loaded dtype so either generation
    * works; either way the column lands as a session-zone (UTC)
    * microsecond timestamp. */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
