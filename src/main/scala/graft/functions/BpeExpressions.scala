package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for BPE (byte-pair-encoding) vocabulary
  * induction (`graft.operators.BpeTrain`).
  *
  * The merge step is inherently sequential per word — "replace every
  * leftmost non-overlapping occurrence of pair (x,y)" cannot be
  * written with `transform` (element-wise, no lookahead state) and a
  * string `replace` encoding gets repeated-symbol runs wrong (the
  * matcher consumes the shared boundary: `a a a a` merges to
  * `aa a a` instead of `aa aa`). Same tier as [[DedupKernels]]: one
  * codegen'd call per row into a compiled monomorphic kernel.
  */
object BpeKernels extends Serializable {

  /** Word → initial symbol sequence: one symbol per Unicode code
    * point. Explicit code-point walk (not a regex split) so the
    * semantics don't depend on regex engine corner cases. */
  def toSymbols(w: UTF8String): ArrayData = {
    val s = w.toString
    val out = new java.util.ArrayList[AnyRef](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      out.add(UTF8String.fromString(s.substring(i, i + n)))
      i += n
    }
    new GenericArrayData(out.toArray)
  }

  /** Strict leftmost non-overlapping merge of adjacent pair (x, y)
    * into the concatenated symbol — the BPE apply step. `a a a a`
    * with pair (a,a) → `aa aa`; `a a a` → `aa a`. */
  def mergePair(syms: ArrayData, x: UTF8String, y: UTF8String): ArrayData = {
    val n = syms.numElements()
    val buf = new Array[AnyRef](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (i + 1 < n && syms.getUTF8String(i) == x &&
          syms.getUTF8String(i + 1) == y) {
        buf(m) = UTF8String.concat(x, y)
        i += 2
      } else {
        buf(m) = syms.getUTF8String(i)
        i += 1
      }
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, m))
  }

  private val pairStruct = Array("l", "r")

  /** Adjacent within-word symbol pairs, in order (NOT distinct — each
    * occurrence counts toward the pair frequency). */
  def adjacentPairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = InternalRow(syms.getUTF8String(i), syms.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared kernel-reference plumbing (mirrors [[DedupKernelUnary]]). */
trait BpeKernelCodegen { self: Expression =>
  protected def kernelRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("bpeKernels", BpeKernels, "graft.functions.BpeKernels$")
}

/** graft_bpe_symbols(word): code-point symbol array. */
case class BpeSymbolsExpr(child: Expression)
    extends UnaryExpression with BpeKernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(w: Any): Any =
    BpeKernels.toSymbols(w.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${kernelRef(ctx)}.toSymbols($c);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** graft_bpe_merge(syms, x, y): strict leftmost non-overlapping merge. */
case class BpeMergeExpr(first: Expression, second: Expression,
                        third: Expression)
    extends TernaryExpression with BpeKernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(s: Any, x: Any, y: Any): Any =
    BpeKernels.mergePair(s.asInstanceOf[ArrayData],
      x.asInstanceOf[UTF8String], y.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, x, y) =>
      s"${ev.value} = ${kernelRef(ctx)}.mergePair($s, $x, $y);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** graft_bpe_pairs(syms): adjacent (l, r) symbol pairs, per occurrence. */
case class BpeAdjacentPairsExpr(child: Expression)
    extends UnaryExpression with BpeKernelCodegen {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
    containsNull = false)
  override def nullSafeEval(a: Any): Any =
    BpeKernels.adjacentPairs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${kernelRef(ctx)}.adjacentPairs($c);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BpeFunctions {
  /** (name, builder) pairs, injected by
    * [[graft.plans.GraftSparkExtensions]] at session build. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bpe_symbols" -> (es => BpeSymbolsExpr(es.head)),
    "graft_bpe_merge" -> (es => BpeMergeExpr(es(0), es(1), es(2))),
    "graft_bpe_pairs" -> (es => BpeAdjacentPairsExpr(es.head)))
}
