package graft

import scala.util.control.NonFatal

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Schema invariants the driver's hash imposes on every
  * driver-visible output — shared by Verify's runtime gate and
  * PlanSpec's sweep so the two checks cannot drift. */
object SchemaGuards {
  import org.apache.spark.sql.types._
  /** True if the type contains a DecimalType ANYWHERE — top level or
    * nested in arrays/maps/structs: the driver canonicalizes decimals
    * asymmetrically on its two hash paths, and a nested
    * decimal reaches the parquet dump exactly like a top-level one. */
  def containsDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType     => true
    case a: ArrayType       => containsDecimal(a.elementType)
    case m: MapType         => containsDecimal(m.keyType) || containsDecimal(m.valueType)
    case s: StructType      => s.fields.exists(f => containsDecimal(f.dataType))
    case _                  => false
  }
  def decimalColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.collect { case f if containsDecimal(f.dataType) => f.name }.toSeq
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-list of query names] — the optional
    // filter is a local dev tool (iterate on ONE query against the
    // oracle without re-dumping all of them); the driver passes two.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // DECIMAL output columns can never hash-match in the driver's
        // gate: its two sides canonicalize decimals through different
        // host types (DuckDB result → float64, Spark parquet → object
        // Decimal). Exact decimal arithmetic stays legal
        // INTERNALLY; the driver-visible schema must emit it as
        // string/double/long (q13/q33/q34 stance). Fail loudly here so
        // the class cannot be reintroduced — nested decimals included
        // (SchemaGuards recurses through arrays/maps/structs).
        val decCols = SchemaGuards.decimalColumns(df.schema)
        if (decCols.nonEmpty)
          throw new IllegalStateException(
            s"DECIMAL in driver-visible output schema: ${decCols.mkString(",")} " +
              "— cast to string/double/long (driver hashes decimals asymmetrically)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one greppable summary line: per-query failures alone scatter
    // through Spark's stderr logs, where they are easy to lose — a
    // non-zero failure count must be impossible to miss
    System.err.println(
      s"[verify] summary: ${selected.size - failed.size} ok, " +
        s"${failed.size} failed" +
        (if (failed.nonEmpty) failed.sorted.mkString(" (", ", ", ")") else ""))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** oracle_sql.json's text: one JSON object of name → DuckDB SQL.
    * Jackson escapes quotes, backslashes and every control character,
    * so a tab or CR in an oracle cannot break the reader's parse and
    * silently zero the correctness compare. */
  private[graft] def oracleJson(oracles: Map[String, String]): String =
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValueAsString(oracles)
}
