package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json writer: whatever an oracle's SQL holds,
  * the file parses back to the same map (no SparkSession needed). */
class VerifySpec extends AnyFunSuite {
  private def readBack(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("oracle_sql.json: quotes, backslashes, control characters and non-ASCII read back equal") {
    val m = Map(
      "quote\"key" -> "SELECT '\"' AS q",
      "back\\slash" -> "SELECT 'a\\b\\\\c' AS p",
      "controls" -> "SELECT 1\tAS a,\r\n 2 AS b -- \u0001 end",
      "non_ascii" -> "SELECT 'naïve — 日本語 🙂' AS t")
    val json = Verify.oracleJson(m)
    assert(readBack(json) == m)
    assert(!json.exists(_ < ' '), "a raw control character reached the file")
  }

  test("oracle_sql.json: every registered oracle reads back equal") {
    val m = SparkEntry.oracleSql
    assert(m.nonEmpty && readBack(Verify.oracleJson(m)) == m)
  }
}
