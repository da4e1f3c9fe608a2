package graft.sources

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming line decoder reads every line as a tree read does:
  * `readTree(line).get(name)` converted by [[LineDecoder.convert]]. */
class LineDecoderSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val types: Seq[DataType] =
    Seq(LongType, IntegerType, DoubleType, BooleanType, StringType, DateType)

  /** One field `v` per type, at ordinals 1.., behind a constant at 0. */
  private val fields: Array[(String, Int, DataType)] =
    types.zipWithIndex.map { case (t, i) => (s"v$i", i + 1, t) }.toArray

  private def streamed(line: String): Try[Seq[Any]] = Try {
    val row = new GenericInternalRow(Array[Any]("const") ++
      Array.fill[Any](fields.length)(null))
    new LineDecoder(fields).into(line, row)
    row.values.toSeq
  }

  private def tree(line: String): Try[Seq[Any]] = Try {
    val node = mapper.readTree(line)
    "const" +: fields.toSeq.map { case (n, _, dt) =>
      LineDecoder.convert(node.get(n), n, dt)
    }
  }

  /** `value` under every field name, one line per field. */
  private def everyType(value: String): Seq[String] =
    fields.toSeq.map { case (n, _, _) => s"""{"x":1,"$n":$value,"y":[2]}""" }

  private val values = Seq(
    "0", "7", "-7", "2147483648", "-2147483649", "9223372036854775807",
    "9223372036854775808", "-92233720368547758080", "1.5", "-0.0",
    "1e3", "2.5E-3", "1e400", "true", "false", "null", "\"\"", "\"12\"",
    "\"1.5\"", "\"true\"", "\"x\\n\\u00e9\\\"\"", "\"\\ud83d\\ude00\"",
    "{\"a\":{\"b\":[1,2.0,\"c\"]},\"d\":null}", "[]", "[1,\"\\u00e9\"]", "{}")

  private val lines: Seq[String] = values.flatMap(everyType) ++ Seq(
    // every field at once, keys out of order, unread fields between
    """{"v4":"s","v0":1,"skip":{"v1":2},"v2":0.25,"v3":true,"v1":3}""",
    // a later duplicate key wins, null included
    """{"v0":1,"v0":2,"v4":"a","v4":null,"v2":null,"v2":4}""",
    """ { "v0" : 5 , "v4" : "spaced" } """,
    // no data field, not an object, or no content at all
    """{"other":1}""", "{}", "[1,2]", "null", "5", "\"s\"", "", "   ",
    // malformed
    """{"v0":1""", """{"v0":}""", """{"v0":1,"v4":"x" "v1":2}""")

  test("every line decodes as the tree read converts it") {
    lines.foreach { l =>
      val (s, t) = (streamed(l), tree(l))
      assert(s.isSuccess == t.isSuccess,
        s"line $l: streamed $s, tree $t")
      if (s.isSuccess) assert(s.get == t.get, s"line $l")
      else assert(s.failed.get.getClass == t.failed.get.getClass,
        s"line $l: streamed ${s.failed.get}, tree ${t.failed.get}")
    }
  }

  test("a non-null value of an undecodable type names the field") {
    val e = intercept[IllegalArgumentException](
      streamed("""{"v5":"2024-01-01"}""").get)
    assert(e.getMessage.contains("v5") && e.getMessage.contains("DateType"))
    assert(streamed("""{"v5":null}""").get.forall(v => v == null || v == "const"))
  }
}
