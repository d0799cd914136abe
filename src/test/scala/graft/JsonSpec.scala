package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("str escapes quote, backslash, newline, CR, tab and other control chars") {
    assert(Json.str("a\"b\\c\nd\re\tf\u0001g") == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Json.str("plain q_lag_lead") == "\"plain q_lag_lead\"")
  }

  test("num renders NaN and +-Infinity as null") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach(v => assert(Json.num(v, 2) == "null", v))
  }

  test("num uses a point decimal separator under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Json.num(1.5, 3) == "1.500")
      assert(Json.num(-1234.5678, 2) == "-1234.57")
    } finally Locale.setDefault(saved)
  }

  test("obj and arr compose rendered values") {
    assert(Json.obj(Seq("a" -> 1, "b" -> Json.arr(Seq("x", "y").map(Json.str)), "c" -> true)) ==
      """{"a":1,"b":["x","y"],"c":true}""")
    assert(Json.obj(Nil) == "{}" && Json.arr(Nil) == "[]")
  }

  test("oracle_sql.json body parses back equal to SparkEntry.oracleSql") {
    import scala.jdk.CollectionConverters._
    val parsed = new ObjectMapper().readValue(Verify.oracleJson(SparkEntry.oracleSql),
      classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parsed.nonEmpty)
    assert(parsed == SparkEntry.oracleSql)
  }
}
