package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
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
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session settings that change what parquet schema inference
    * returns for the same files. */
  private val inferenceConfs = Seq(
    NanosAsLong,
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
          val schema = infer(s, path)
          schemas.put(path, (fp, schema))
          s.read.schema(schema).parquet(path)
        }
    }
  }

  /** The schema `s` infers for `path`. Inference rejects a
    * TIMESTAMP(NANOS) column unless `nanosAsLong` is set, so such a
    * file is inferred again on a child session carrying `s`'s
    * inference settings plus that flag, which types the column as a
    * long. A read that carries that schema needs no flag, so `s`'s own
    * conf is left as it was. */
  private def infer(s: SparkSession, path: String): StructType =
    try s.read.parquet(path).schema
    catch {
      case e: AnalysisException if e.getCondition == "PARQUET_TYPE_ILLEGAL" =>
        val scoped = s.newSession()
        inferenceConfs.foreach(k => s.conf.getOption(k).foreach(scoped.conf.set(k, _)))
        scoped.conf.set(NanosAsLong, "true")
        scoped.read.parquet(path).schema
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
