package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated parquet tables, and the one
  * read path for every single-path parquet input the engine reads.
  *
  * At 100 TB these would be date/key-partitioned lakehouse tables
  * (the reference partitions everything by `block_date`, see
  * reference: src/lakehouse/notebooks/Silver Lake Mainnet.sql:17).
  * Loaders stay thin so Catalyst sees the raw scan and can push
  * filters + prune columns into the parquet reader.
  *
  * Reads go through [[parquet]] rather than `s.read.parquet`: without
  * a schema, each read costs one Spark job that infers the schema
  * from the files' footers before the query's own plan exists, and
  * short interactive queries over the same few tables pay it on every
  * call. The same path installs [[SmallSort]] on the session, so every
  * entry's presentation sort over a small input runs in one partition
  * instead of behind a range-sampling job.
  */
object Tables {
  /** Session settings that change what parquet schema inference
    * returns for the same files; `nanosAsLong` is the one [[events]]
    * sets. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** What an inferred schema is valid for: the sorted (file, length,
    * modification time) listing of the path and the inference
    * settings it was read under. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  /** One entry per path: a path whose fingerprint changes (an artifact
    * rewritten with new part files, a changed setting) is inferred
    * again and its entry replaced, so no stale schema or dead entry
    * builds up. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  private def fingerprint(s: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toVector.sortBy(_._1)
      Some(Fingerprint(files, inferenceConfs.map(s.conf.getOption)))
    } catch { case _: FileNotFoundException => None }
  }

  /** `s.read.parquet(path)` with the schema inferred once per path per
    * JVM: while the path's fingerprint is unchanged the read carries
    * the memoized schema, which submits no Spark job. A missing path
    * is read plainly, so it fails with Spark's own AnalysisException. */
  def parquet(s: SparkSession, path: String): DataFrame = {
    SmallSort.install(s)
    fingerprint(s, path) match {
      case None => s.read.parquet(path)
      case Some(fp) =>
        val hit = schemas.get(path)
        if (hit != null && hit._1 == fp) s.read.schema(hit._2).parquet(path)
        else {
          val df = s.read.parquet(path)
          schemas.put(path, (fp, df.schema))
          df
        }
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
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long, truncate to a
    * microsecond timestamp, matching DuckDB's ns→us truncation) and
    * plain TIMESTAMP micros (read natively). Adapt by the loaded
    * dtype so either generation works; either way the column lands
    * as a session-zone (UTC) microsecond timestamp. */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
