package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** oracle_sql.json's writer: what a JSON reader gets back is exactly the
  * registry's text, and a prefix run keeps the right entries. No Spark.
  */
class VerifySpec extends AnyFunSuite {

  private def read(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("keys and values with quotes, backslashes and control chars round-trip") {
    val nasty = "a\"b\\c\nd\re\tf\u0001g"
    val oracle = Map(
      s"q1_$nasty" -> s"SELECT '$nasty' AS x",
      "q2_plain" -> "SELECT 1",
      "q3_empty" -> "")
    val json = Verify.oracleJson(oracle, None, _ => false)
    assert(read(json) === oracle)
  }

  test("prefixes select their entries and keep those already dumped; " +
      "no prefixes keep everything") {
    val oracle = Map("q1_a" -> "A", "q10_b" -> "B", "q2_c" -> "C",
      "q3_d" -> "D")
    val dumped = Set("q3_d")
    assert(read(Verify.oracleJson(oracle, Some(Seq("q1_")), dumped)).keySet
      === Set("q1_a", "q3_d"))
    assert(read(Verify.oracleJson(oracle, Some(Seq("q1", "q2_")), _ => false))
      .keySet === Set("q1_a", "q10_b", "q2_c"))
    assert(read(Verify.oracleJson(oracle, None, dumped)) === oracle)
  }
}
