package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sql.Compat

/** CH JSON-extraction family goldens — the strict-typing contract
  * (wrong type → the type's default), nested paths, 1-based array
  * indices, invalid-JSON-as-missing, and the visitParam/simpleJSON
  * alias spellings.
  */
class JsonCompatSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val doc =
    """{"s":"hello","n":42,"f":2.5,"neg":-7,"b":true,"bf":false,
      |"nul":null,"o":{"in":"deep","k":3},"a":[10,"x",20.5],
      |"esc":"a\"b\\c","big":9007199254740993}""".stripMargin
      .replace("\n", "")

  private def one(expr: String): Any = {
    Seq(doc).toDF("j").createOrReplaceTempView("js_t")
    Compat.chSql(spark, s"SELECT $expr AS v FROM js_t").collect().head.get(0)
  }

  test("JSONExtractString: strings unescape; non-strings return ''") {
    assert(one("JSONExtractString(j, 's')") == "hello")
    assert(one("JSONExtractString(j, 'esc')") == "a\"b\\c")
    assert(one("JSONExtractString(j, 'o', 'in')") == "deep")
    assert(one("JSONExtractString(j, 'n')") == "", "number is wrong type")
    assert(one("JSONExtractString(j, 'b')") == "")
    assert(one("JSONExtractString(j, 'missing')") == "")
    assert(one("JSONExtractString(j, 'nul')") == "")
  }

  test("JSONExtractInt/UInt/Float: numbers only, truncation, defaults") {
    assert(one("JSONExtractInt(j, 'n')") == 42L)
    assert(one("JSONExtractInt(j, 'neg')") == -7L)
    assert(one("JSONExtractInt(j, 'f')") == 2L, "2.5 truncates toward 0")
    assert(one("JSONExtractInt(j, 'big')") == 9007199254740993L,
      "int64 beyond double precision stays exact")
    assert(one("JSONExtractInt(j, 's')") == 0L, "string is wrong type")
    assert(one("JSONExtractInt(j, 'missing')") == 0L)
    assert(one("JSONExtractUInt(j, 'n')") == 42L)
    assert(one("JSONExtractFloat(j, 'f')") == 2.5)
    assert(one("JSONExtractFloat(j, 'n')") == 42.0)
    assert(one("JSONExtractFloat(j, 's')") == 0.0)
    assert(one("JSONExtractInt(j, 'a', 1)") == 10L, "1-based index")
    assert(one("JSONExtractFloat(j, 'a', 3)") == 20.5)
  }

  test("JSONExtractBool / JSONHas / JSONLength") {
    assert(one("JSONExtractBool(j, 'b')") == true)
    assert(one("JSONExtractBool(j, 'bf')") == false)
    assert(one("JSONExtractBool(j, 'n')") == false, "wrong type")
    assert(one("JSONHas(j, 's')") == true)
    assert(one("JSONHas(j, 'nul')") == true, "null-valued key exists")
    assert(one("JSONHas(j, 'missing')") == false)
    assert(one("JSONHas(j, 'o', 'in')") == true)
    assert(one("JSONLength(j, 'a')") == 3L)
    assert(one("JSONLength(j, 'o')") == 2L)
    assert(one("JSONLength(j, 'n')") == 0L, "scalar has no length")
    assert(one("JSONLength(j, 'missing')") == 0L)
  }

  test("JSONExtractRaw keeps quotes; ArrayRaw elements are raw JSON") {
    assert(one("JSONExtractRaw(j, 's')") == "\"hello\"")
    assert(one("JSONExtractRaw(j, 'n')") == "42")
    assert(one("JSONExtractRaw(j, 'o')").toString.replace(" ", "")
      == """{"in":"deep","k":3}""")
    assert(one("JSONExtractRaw(j, 'missing')") == "")
    val arr = one("JSONExtractArrayRaw(j, 'a')")
      .asInstanceOf[scala.collection.Seq[String]].map(_.replace(" ", ""))
    assert(arr == Seq("10", "\"x\"", "20.5"))
    assert(one("JSONExtractArrayRaw(j, 'n')")
      .asInstanceOf[scala.collection.Seq[String]].isEmpty,
      "wrong type -> empty array")
  }

  test("invalid JSON reads as missing; alias spellings agree") {
    Seq("not json at all").toDF("j").createOrReplaceTempView("js_bad")
    val r = Compat.chSql(spark,
      """SELECT JSONExtractString(j, 's') AS a, JSONExtractInt(j, 'n') AS b,
        |JSONHas(j, 's') AS c FROM js_bad""".stripMargin).collect().head
    assert(r.getString(0) == "" && r.getLong(1) == 0L && !r.getBoolean(2))
    assert(one("visitParamExtractString(j, 's')") == "hello")
    assert(one("simpleJSONExtractInt(j, 'n')") == 42L)
    assert(one("visitParamHas(j, 'missing')") == false)
    assert(one("simpleJSONExtractRaw(j, 'f')") == "2.5")
  }

  test("round-13: JSONExtractKeys / JSONExtractKeysAndValues(String) " +
      "— keys, tuples, wrong-type empties, non-String refusal") {
    assert(one("JSONExtractKeys(j, 'o')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("in", "k"))
    // whole-document keys come back in VARIANT-normalized (sorted)
    // order — the documented deviation from CH's source order
    assert(one("JSONExtractKeys(j)")
      .asInstanceOf[scala.collection.Seq[String]].take(3) ==
      Seq("a", "b", "bf"))
    // wrong type (array) and missing -> empty
    assert(one("JSONExtractKeys(j, 'a')")
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(one("JSONExtractKeys(j, 'missing')")
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
    val kv = one("JSONExtractKeysAndValues(j, 'o', 'String')")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      .map(r => (r.getString(0), r.getString(1)))
    assert(kv == Seq(("in", "deep"), ("k", "3")))
    assert(one("JSONExtractKeysAndValues(j, 'a', 'String')")
      .asInstanceOf[scala.collection.Seq[_]].isEmpty)
    val bad = intercept[Exception] {
      one("JSONExtractKeysAndValues(j, 'o', 'Int64')")
    }
    assert(bad.getMessage.contains("String"))
  }
}
