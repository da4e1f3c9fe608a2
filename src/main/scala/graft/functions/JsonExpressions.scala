package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled single-key JSON scalar extraction — the codegen'd decode
  * path for the reference's recursive row-decode surface (§2.1 S6,
  * `helpers/helpers.go:5-63`) and [[graft.operators.Restore]].
  *
  * Spark's `from_json` (JsonToStructs) is `CodegenFallback`: every row
  * pays interpreted-eval dispatch plus a Jackson parser pull — the r6
  * sf1 campaign measured the r5/r12 path at ~15× cpu for 10× rows,
  * the fingerprint of a non-codegen hot loop getting progressively
  * unluckier with JIT. `get_json_object` is the same
  * story. For the fixed-shape decode these paths actually need —
  * "give me top-level key K of this flat-ish JSON object as a string"
  * — a single forward scan suffices: no token stream, no schema
  * row builder, one compiled kernel call per row that participates in
  * whole-stage codegen like any other expression.
  *
  * Semantics (top-level keys only, mirroring the reference's
  * depth-by-depth decode):
  *   - `"k":"str"`   → the UNESCAPED string content
  *   - `"k":123`/`true`/`false` → the literal token text
  *   - `"k":null`, key missing, malformed input → SQL NULL
  *   - `"k":{...}`/`[...]` → the raw balanced JSON substring (same
  *     contract as `get_json_object`'s nested return)
  */
object JsonKernels extends Serializable {

  /** Index after the closing quote of the string starting at `start`
    * (s(start) == '"'), or -1 if unterminated. Escape-aware. */
  private def endOfString(s: String, start: Int): Int = {
    var i = start + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** Unescape the JSON string starting at `start` (s(start) == '"').
    * Returns null on malformed input; `endOfString` gives the bound. */
  private def unescape(s: String, start: Int, end: Int): String = {
    val sb = new java.lang.StringBuilder(end - start)
    var i = start + 1
    while (i < end - 1) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= end - 1 && s.charAt(i + 1) != '"') return null
        s.charAt(i + 1) match {
          case '"'  => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/'  => sb.append('/'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u'  =>
            if (i + 6 > end - 1) return null
            try {
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            } catch { case _: NumberFormatException => return null }
            i += 6
          case _ => return null
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def skipWs(s: String, start: Int): Int = {
    var i = start
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
      s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    i
  }

  /** Index after the JSON value starting at `start`, or -1. String-
    * aware depth counting for composites; bare tokens run to the next
    * delimiter. */
  private def skipValue(s: String, start: Int): Int = {
    if (start >= s.length) return -1
    s.charAt(start) match {
      case '"' => endOfString(s, start)
      case '{' | '[' =>
        var depth = 0
        var i = start
        while (i < s.length) {
          s.charAt(i) match {
            case '"' =>
              val e = endOfString(s, i)
              if (e < 0) return -1
              i = e - 1
            case '{' | '[' => depth += 1
            case '}' | ']' =>
              depth -= 1
              if (depth == 0) return i + 1
            case _ => ()
          }
          i += 1
        }
        -1
      case _ =>
        var i = start
        while (i < s.length && ",}] \t\r\n".indexOf(s.charAt(i).toInt) < 0)
          i += 1
        if (i == start) -1 else i
    }
  }

  def extractScalar(json: UTF8String, key: UTF8String): UTF8String = {
    if (json == null || key == null) return null
    val s = json.toString
    val k = key.toString
    var i = skipWs(s, 0)
    if (i >= s.length || s.charAt(i) != '{') return null
    i = skipWs(s, i + 1)
    while (i < s.length && s.charAt(i) != '}') {
      if (s.charAt(i) != '"') return null
      val nameEnd = endOfString(s, i)
      if (nameEnd < 0) return null
      val name = unescape(s, i, nameEnd)
      if (name == null) return null
      i = skipWs(s, nameEnd)
      if (i >= s.length || s.charAt(i) != ':') return null
      i = skipWs(s, i + 1)
      val vStart = i
      val vEnd = skipValue(s, i)
      if (vEnd < 0) return null
      if (name == k) {
        val c = s.charAt(vStart)
        if (c == '"') {
          val v = unescape(s, vStart, vEnd)
          return if (v == null) null else UTF8String.fromString(v)
        }
        if (vEnd - vStart == 4 && s.regionMatches(vStart, "null", 0, 4))
          return null
        return UTF8String.fromString(s.substring(vStart, vEnd))
      }
      i = skipWs(s, vEnd)
      if (i < s.length && s.charAt(i) == ',') i = skipWs(s, i + 1)
      else if (i >= s.length || s.charAt(i) != '}') return null
    }
    null
  }
}

/** graft_json_scalar(json, key): compiled top-level scalar extraction
  * (see [[JsonKernels.extractScalar]]). */
case class JsonGetScalarExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(j: Any, k: Any): Any =
    JsonKernels.extractScalar(
      j.asInstanceOf[UTF8String], k.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kern = ctx.addReferenceObj("jsonKernels", JsonKernels,
      "graft.functions.JsonKernels$")
    nullSafeCodeGen(ctx, ev, (j, k) =>
      s"""
         |${ev.value} = $kern.extractScalar($j, $k);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JsonFunctions {
  /** (name, builder) pairs, injected by
    * [[graft.plans.GraftSparkExtensions]] at session build. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_json_scalar" -> (es => JsonGetScalarExpr(es.head, es(1))))
}
