package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference on the driver. `ParquetUtils.inferSchema`
  * reads footers inside a Spark job (`mergeSchemasInParallel`), one job
  * even for one file; this reads the same footers in the calling
  * thread. It lives in Spark's parquet package because the footer
  * readers are private to it. */
object GraftParquetSchema {

  /** The schema a plain parquet read of `paths` with the reader
    * `options` infers, except that a TIMESTAMP(NANOS) column is typed
    * as a long whatever the session's `nanosAsLong` says: a read that
    * carries that schema needs no flag, so no caller has to set one.
    * Each path, a directory or a file, is listed; files are picked
    * from the union as inference picks them: `_common_metadata`, else
    * `_metadata`, else the first data file by path, or every file when
    * the read merges schemas (the `mergeSchema` option, else the
    * session's setting). A partitioned layout yields its data columns
    * only; Spark appends the partition columns to a given schema as it
    * does to an inferred one. None when no path holds a parquet file. */
  def infer(s: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(s)
    val hadoopConf = SessionStateHelper.getHadoopConf(s)
    // Spark's own listing: it skips `_`/`.` names other than the summaries
    val leaves = paths
      .flatMap(p => HadoopFSUtils.listFiles(new Path(p), hadoopConf, (_: Path) => true))
      .flatMap(_._2).sortBy(_.getPath.toString)
    def named(name: String): Seq[FileStatus] = leaves.filter(_.getPath.getName == name)
    val summaries = Set(PARQUET_METADATA_FILE, PARQUET_COMMON_METADATA_FILE)
    val data = leaves.filterNot(f => summaries(f.getPath.getName))
    val files =
      if (new ParquetOptions(options, conf).mergeSchema)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++
          named(PARQUET_METADATA_FILE) ++ named(PARQUET_COMMON_METADATA_FILE)
      else (named(PARQUET_COMMON_METADATA_FILE) ++ named(PARQUET_METADATA_FILE) ++ data).take(1)
    // the converter `mergeSchemasInParallel` builds, nanosAsLong aside
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = true,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readParquetFootersInParallel(hadoopConf, files, conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceOption(_.merge(_, conf.caseSensitiveAnalysis))
  }
}
