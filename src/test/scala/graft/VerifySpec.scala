package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins Verify's oracle_sql.json writer against a real JSON parser: the
  * driver json.loads this file, and one unescaped quote, backslash or
  * control char in any oracle would zero the round's correctness. Pure:
  * builds the registry's oracle map, starts no Spark session (and never
  * calls Verify.main, which would stop the shared one).
  */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("oracleJson round-trips quotes, backslashes and control chars exactly") {
    val m = Map(
      "q\"uote" -> "SELECT '\"' AS q, '\\' AS b",
      "ctl" -> "a\nb\rc\td\u0001e",
      "plain" -> "SELECT 1")
    assert(parse(Verify.oracleJson(m)) === m)
  }

  test("oracleJson round-trips every registry oracle") {
    val m = SparkEntry.oracleSql
    assert(m.size === 405)
    assert(parse(Verify.oracleJson(m)) === m)
  }
}
