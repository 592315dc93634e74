package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `oracle_sql.json` must parse back to exactly the registry it was
  * written from, whatever characters the oracle SQL carries.
  */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper()
      .readValue(json, classOf[java.util.LinkedHashMap[String, String]])
      .asScala.toMap

  test("oracleJson round-trips quotes, backslashes and control characters") {
    val nasty = "a\"b\\c\td\re\nf\u0001g"
    val m = Map(
      "plain" -> "SELECT 1",
      nasty -> "SELECT 2",
      "in_value" -> s"SELECT '$nasty' AS s",
      ("both" + nasty) -> (nasty + "\\\"\u0001"))
    assert(parse(Verify.oracleJson(m)) == m)
  }

  test("oracleJson round-trips the live oracle registry") {
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
  }
}
