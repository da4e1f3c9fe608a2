package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class JsonExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private def x(json: String, key: String): String = {
    val r = JsonKernels.extractScalar(
      UTF8String.fromString(json), UTF8String.fromString(key))
    if (r == null) null else r.toString
  }

  test("kernel: scalar kinds, missing keys, null, malformed") {
    assert(x("""{"k":3}""", "k") == "3")
    assert(x("""{"k":-12.5e3}""", "k") == "-12.5e3")
    assert(x("""{"k":true,"j":false}""", "j") == "false")
    assert(x("""{"k":"abc"}""", "k") == "abc")
    assert(x("""{"k":null}""", "k") == null)
    assert(x("""{"k":3}""", "missing") == null)
    assert(x("""not json""", "k") == null)
    assert(x("""{"k":}""", "k") == null)
    assert(x("""{"k" : 7 , "m":1}""", "m") == "1") // whitespace tolerated
    assert(x("", "k") == null)
    assert(x("""{}""", "k") == null)
  }

  test("kernel: string escapes unescape exactly") {
    assert(x("""{"k":"a\"b\\c\/d\n\t"}""", "k") == "a\"b\\c/d\n\t")
    assert(x("""{"k":"Aé"}""", "k") == "Aé")
    // key names unescape before comparison too
    assert(x("""{"a\nb":1}""", "a\nb") == "1")
  }

  test("kernel: nested composites return the raw balanced JSON; nested " +
    "keys never leak into the top-level lookup") {
    assert(x("""{"o":{"a":1,"b":[1,2]},"k":9}""", "k") == "9")
    assert(x("""{"o":{"k":1},"k":2}""", "k") == "2") // top-level only
    assert(x("""{"o":{"a":1,"b":"x,}"}}""", "o") == """{"a":1,"b":"x,}"}""")
    assert(x("""{"arr":[1,{"z":2}]}""", "arr") == """[1,{"z":2}]""")
  }

  test("expression matches from_json and get_json_object on the fixture") {
    val props = Tables.events(spark, sf0001).select(col("props"))
    val cmp = props.select(
      expr("graft_json_scalar(props, 'k')").cast("int").as("mine"),
      from_json(col("props"), lit("k INT")).getField("k").as("theirs"),
      get_json_object(col("props"), "$.k").cast("int").as("gjo"))
    assert(cmp.filter(!(col("mine") <=> col("theirs"))).isEmpty,
      "graft_json_scalar disagrees with from_json on fixture props")
    assert(cmp.filter(!(col("mine") <=> col("gjo"))).isEmpty,
      "graft_json_scalar disagrees with get_json_object on fixture props")
  }

  test("expression participates in codegen (no CodegenFallback marker) " +
    "and survives the interpreted path too") {
    // range source with a data-dependent json (a constant would fold at
    // optimization time and prove nothing about the generated code)
    val df = spark.range(1)
      .select(expr(
        """graft_json_scalar(concat('{"k":"v', cast(id as string), '"}'),
          |'k')""".stripMargin).as("v"))
    // interpreted eval (expression.eval path)
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(JsonGetScalarExpr(Literal("""{"k":"v"}"""), Literal("k"))
      .eval(null).toString == "v")
    // executed (codegen) path; '*(n)' is the WholeStageCodegen marker
    // in the executed-plan string
    assert(df.as[String].head() == "v0")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"),
      s"extraction did not run inside whole-stage codegen:\n$plan")
  }
}
