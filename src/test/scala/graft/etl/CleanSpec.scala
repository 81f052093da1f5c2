package graft.etl

import graft.SparkSuite
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** F11–F13 cleaning semantics vs the reference (`utils.py:138-206`). */
class CleanSpec extends AnyFunSuite with SparkSuite {

  test("F11 decimalsToDouble: nested decimals become doubles") {
    import spark.implicits._
    val df = Seq((BigDecimal("1.50"), (BigDecimal("2.25"), "x")))
      .toDF("a", "nested")
    val out = Clean.decimalsToDouble(df)
    assert(out.schema("a").dataType == DoubleType)
    assert(out.schema("nested").dataType.asInstanceOf[StructType]
      .apply("_1").dataType == DoubleType)
    assert(out.select("a").head.getDouble(0) == 1.5)
  }

  test("F12 coerceValueStrings: numeric value-strings become numbers") {
    import spark.implicits._
    val cases = Seq(
      ("""{"q":{"value": "42"}}""", """{"q":{"value": 42}}"""),
      ("""{"q":{"value": "3.5", "unit": "mg"}}""",
        """{"q":{"value": 3.5, "unit": "mg"}}"""),
      ("""{"q":{"value": "-7"}}""", """{"q":{"value": -7}}"""),
      ("""{"q":{"value": ".5"}}""", """{"q":{"value": .5}}"""),
      ("""{"q":{"value": "abc"}}""", """{"q":{"value": "abc"}}"""),
      ("""{"q":{"value": "1-2"}}""", """{"q":{"value": "1-2"}}"""))
    val got = cases.map(_._1).toDF("j")
      .select(Clean.coerceValueStrings(col("j"))).as[String](Encoders.STRING)
      .collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("F13 pruneEmptyJson: reference remove_empty_dicts semantics") {
    // empty dicts/lists pruned recursively; 0 kept; "" and false dropped
    assert(Clean.pruneEmptyJson(
      """{"a":{},"b":[],"c":{"d":{}},"e":1,"f":0,"g":"","h":false,"i":true}""")
      == """{"e":1,"f":0,"i":true}""")
    assert(Clean.pruneEmptyJson("""{"a":[{"b":{}},{"c":1}]}""")
      == """{"a":[{"c":1}]}""")
    assert(Clean.pruneEmptyJson("""{"a":[[],[0]]}""") == """{"a":[[0]]}""")
  }

  test("F13 pruneEmptyLines is distributed and idempotent") {
    import spark.implicits._
    val lines = Seq("""{"a":{},"b":2}""", """{"c":[[]],"d":"x"}""").toDS()
    val once = Clean.pruneEmptyLines(lines).collect().toSeq
    assert(once == Seq("""{"b":2}""", """{"d":"x"}"""))
    val twice = Clean.pruneEmptyLines(Clean.pruneEmptyLines(lines)).collect()
    assert(twice.toSeq == once)
  }
}
