package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup signature pipeline.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`)
  * are `CodegenFallback`: they evaluate through the interpreted
  * `Expression.eval` chain with per-element lambda dispatch. For the
  * dedup hot path that was both slow and — worse — *bimodally* slow:
  * whether HotSpot managed to JIT the megamorphic interpreter chain
  * decided between 2.5s and 53s for the same stage (r01 bench, sf0.1).
  *
  * Each expression here is one `doGenCode` call into a compiled Scala
  * kernel: monomorphic, JIT-friendly, no per-element interpretation.
  * The math is bit-identical to the HOF SQL it replaces (and to the
  * DuckDB oracle mirrors): md5-derived 60-bit hashes, universal-hash
  * MinHash, 48-bit SimHash.
  */
object DedupKernels extends Serializable {

  /** 60-bit portable hash: first 15 hex chars of md5("<seed>|" + s),
    * parsed base-16. Equals SQL `conv(substring(md5(concat(seed,'|',s)),
    * 1,15),16,10)` and DuckDB `('0x'||substr(md5(seed||'|'||s),1,15))`.
    */
  // MessageDigest.getInstance does a provider lookup + allocation per
  // call; at one call per shingle that is ~10⁵ lookups per 5k docs.
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def hash60(s: UTF8String, seed: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(s"$seed|".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(s.getBytes)
    val d = md.digest()
    // first 15 hex chars = 60 bits: 7.5 bytes, big-endian nibbles
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def hash60Array(gs: ArrayData, seed: Int): ArrayData = {
    val n = gs.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = hash60(gs.getUTF8String(i), seed); i += 1 }
    new GenericArrayData(out)
  }

  /** 120-bit gram hashes as a FLAT interleaved long array, sorted by
    * (first, second) pair: element 2i is hash60(gram_i, seedA) — the
    * same value the 60-bit posting path uses — and element 2i+1 is
    * hash60(gram_i, seedB), an independent md5 draw. Two distinct grams
    * collide only if BOTH hashes agree: ~D²/2^121 expected collisions —
    * negligible past 10^17 distinct grams, vs ~1 expected at 1.5·10⁹
    * for the single 60-bit hash. Pairs are sorted HERE (a flat
    * sort_array would destroy the interleaving), so the merge kernel
    * below can walk both arrays in pair steps. */
  def hash120Array(gs: ArrayData, seedA: Int, seedB: Int): ArrayData = {
    val n = gs.numElements()
    val h0 = new Array[Long](n)
    val h1 = new Array[Long](n)
    var i = 0
    while (i < n) {
      val g = gs.getUTF8String(i)
      h0(i) = hash60(g, seedA)
      h1(i) = hash60(g, seedB)
      i += 1
    }
    // hash60 values fit in 60 bits -> always non-negative; signed
    // comparison is the pair order the merge kernel assumes. Sort the
    // interleaved pairs in place with a primitive quicksort — this
    // kernel runs once per document, so no boxing on the hot path.
    val out = new Array[Long](2 * n)
    i = 0
    while (i < n) { out(2 * i) = h0(i); out(2 * i + 1) = h1(i); i += 1 }
    sortPairs(out, 0, n - 1)
    new GenericArrayData(out)
  }

  /** In-place quicksort of interleaved (h0, h1) pairs by (h0, h1),
    * indices are PAIR positions. Median-of-ends pivot is fine for the
    * per-document sizes this sees (hundreds of grams). */
  private def sortPairs(a: Array[Long], lo: Int, hi: Int): Unit = {
    if (lo >= hi) return
    val mid = lo + (hi - lo) / 2
    val p0 = a(2 * mid); val p1 = a(2 * mid + 1)
    var i = lo
    var j = hi
    while (i <= j) {
      while (a(2 * i) < p0 || (a(2 * i) == p0 && a(2 * i + 1) < p1)) i += 1
      while (a(2 * j) > p0 || (a(2 * j) == p0 && a(2 * j + 1) > p1)) j -= 1
      if (i <= j) {
        val t0 = a(2 * i); val t1 = a(2 * i + 1)
        a(2 * i) = a(2 * j); a(2 * i + 1) = a(2 * j + 1)
        a(2 * j) = t0; a(2 * j + 1) = t1
        i += 1; j -= 1
      }
    }
    sortPairs(a, lo, j)
    sortPairs(a, i, hi)
  }

  /** Distinct word-k-gram shingles, mirroring the HOF SQL exactly:
    * words = split(text,' ') (trailing/empty tokens KEPT, as in Java
    * regex split with limit -1); grams for i in 1..max(n-k+1, 1) of
    * concat_ws(' ', slice(words, i, k)) (slice truncates at the end);
    * first-occurrence-order distinct. */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = words.length
    val m = math.max(n - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < m) {
      val end = math.min(i + k, n)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }

  /** MinHash signature: min over the base-hash array of each universal
    * hash h_i(x) = (A(i)·(x mod P) + B(i)) mod P. Constants shared with
    * [[graft.dedup.Dedup]] (asserted there at class-load). */
  val HashP = 2147483647L
  val HashA: Array[Long] = Array(1103515245L, 1234567891L, 987654321L,
    805306457L, 402653189L, 1610612741L, 1431655765L, 715827883L)
  val HashB: Array[Long] = Array(12345L, 67891L, 54321L, 13579L,
    24680L, 11111L, 99991L, 777L)

  def minhashSig(hs: ArrayData): ArrayData = {
    val h = HashA.length
    val out = new Array[Long](h)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val base = hs.getLong(i) % HashP
      var f = 0
      while (f < h) {
        val v = (HashA(f) * base + HashB(f)) % HashP
        if (v < out(f)) out(f) = v
        f += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 48-bit SimHash over the base-hash array: bit j of the result set
    * iff sum over hashes of (+1 if bit j set else -1) is positive. */
  def simhash48(hs: ArrayData, bits: Int): Long = {
    val cnt = new Array[Int](bits)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val hv = hs.getLong(i)
      var j = 0
      while (j < bits) {
        if (((hv >> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < bits) { if (cnt(j) > 0) acc |= 1L << j; j += 1 }
    acc
  }

  /** |A∩B| of two SORTED string arrays by linear merge — the exact-
    * jaccard verify kernel. `array_intersect` builds a hash set of one
    * side per ROW and materializes the intersection array just to take
    * its size; on 4×10⁵ candidate pairs that hashing dominated the
    * whole x06 pipeline. A merge over presorted arrays is pure
    * comparisons, zero allocation. Inputs must be sorted ascending and
    * distinct (shingle sets sorted once per document). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** |A∩B| of two SORTED long arrays by linear merge — the narrow
    * exact-jaccard verify kernel over 60-bit gram hashes (primitive
    * compares, zero allocation). */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** |A∩B| over two [[hash120Array]] outputs: the same presorted merge,
    * stepping in (first, second) PAIRS — a match requires both longs to
    * agree, so a 60-bit collision alone can no longer inflate the
    * count. Same kernel shape and cost as the single-long merge. */
  def sortedIntersectCountLong2(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements() / 2
    val nb = b.numElements() / 2
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val xa = a.getLong(2 * i); val ya = a.getLong(2 * i + 1)
      val xb = b.getLong(2 * j); val yb = b.getLong(2 * j + 1)
      val c =
        if (xa != xb) java.lang.Long.compare(xa, xb)
        else java.lang.Long.compare(ya, yb)
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Polynomial rolling hash over code points:
    * fold(acc*31 + codepoint) mod m. Replaces the interpreted
    * `aggregate(filter(split(text,'')))` HOF chain, which allocated a
    * single-char string per character and dispatched a lambda per
    * element. Matches DuckDB `list_reduce([ord(c) for c in
    * string_split(text,'')], ...)` — both iterate code points. */
  def rollingHash(s: UTF8String, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** All unordered element pairs (i<j, input order) of an array as
    * struct(l, r) — the in-bucket candidate-pair expansion. Elements
    * are copied when they are rows (Unsafe-backed inputs).
    *
    * Occupancy guard: a bucket of n members wants n(n-1)/2 pair structs
    * in ONE task's row — a mass-duplicated corpus (boilerplate pages all
    * landing in the same LSH band bucket) would OOM the task or hit the
    * 2 GB array limit. Above `cap` members the expansion degrades to the
    * STAR pattern (first member paired with each other member): n-1
    * pairs that preserve the bucket's connected component for dedup
    * clustering, while every emitted pair is still exact-verified
    * downstream. cap<=0 means uncapped. */
  def unorderedPairs(xs: ArrayData, elemType: DataType, cap: Int): ArrayData = {
    val n = xs.numElements()
    val elems = new Array[Any](n)
    var i = 0
    while (i < n) {
      elems(i) = xs.get(i, elemType) match {
        case r: InternalRow => r.copy()
        case u: UTF8String => u.copy()
        case v => v
      }
      i += 1
    }
    if (cap > 0 && n > cap) {
      // star: (elems(0), elems(j)) for j in 1..n-1
      val out = new Array[Any](n - 1)
      var j = 1
      while (j < n) { out(j - 1) = InternalRow(elems(0), elems(j)); j += 1 }
      return new GenericArrayData(out)
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(elems(i), elems(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Base for the kernel-call expressions: null-safe unary, one generated
  * call into [[DedupKernels]]. */
abstract class DedupKernelUnary extends UnaryExpression {
  protected def kernelCall(ctx: CodegenContext, childVar: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${kernelCall(ctx, c)};")

  protected def kernelRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("dedupKernels", DedupKernels,
      "graft.functions.DedupKernels$")
}

/** shingles(text): distinct word-k-gram shingles. */
case class ShinglesExpr(child: Expression, k: Int) extends DedupKernelUnary {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    DedupKernels.shingles(t.asInstanceOf[UTF8String], k)
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.shingles($c, $k)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** hash60_array(gs): md5-derived 60-bit hash of each string. */
case class Hash60ArrayExpr(child: Expression, seed: Int) extends DedupKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    DedupKernels.hash60Array(a.asInstanceOf[ArrayData], seed)
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.hash60Array($c, $seed)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** hash120_array(gs): pair-sorted interleaved 120-bit gram hashes (see
  * [[DedupKernels.hash120Array]]) — the wide verify-hash mode for
  * corpora past ~10⁸ distinct grams. */
case class Hash120ArrayExpr(child: Expression, seedA: Int, seedB: Int)
    extends DedupKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    DedupKernels.hash120Array(a.asInstanceOf[ArrayData], seedA, seedB)
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.hash120Array($c, $seedA, $seedB)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** minhash_sig(hs): H universal-hash minima over the base hashes. */
case class MinHashSigExpr(child: Expression) extends DedupKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    DedupKernels.minhashSig(a.asInstanceOf[ArrayData])
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.minhashSig($c)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** simhash48(hs): 48-bit sign-of-bit-sums fingerprint. */
case class SimHash48Expr(child: Expression, bits: Int) extends DedupKernelUnary {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    DedupKernels.simhash48(a.asInstanceOf[ArrayData], bits)
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.simhash48($c, $bits)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** unordered_pairs(xs): all i<j element pairs as struct(l, r); buckets
  * larger than `cap` degrade to the star pattern (see
  * [[DedupKernels.unorderedPairs]]). */
case class UnorderedPairsExpr(child: Expression, cap: Int) extends DedupKernelUnary {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", elemType), StructField("r", elemType))),
    containsNull = false)
  override def nullSafeEval(a: Any): Any =
    DedupKernels.unorderedPairs(a.asInstanceOf[ArrayData], elemType, cap)
  override protected def kernelCall(ctx: CodegenContext, c: String): String = {
    val et = ctx.addReferenceObj("elemType", elemType,
      "org.apache.spark.sql.types.DataType")
    s"${kernelRef(ctx)}.unorderedPairs($c, $et, $cap)"
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** rolling_hash(text): polynomial code-point fold (see
  * [[DedupKernels.rollingHash]]). */
case class RollingHashExpr(child: Expression, mod: Long) extends DedupKernelUnary {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any =
    DedupKernels.rollingHash(t.asInstanceOf[UTF8String], mod)
  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"${kernelRef(ctx)}.rollingHash($c, ${mod}L)"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sorted_inter_count(a, b): |A∩B| of two sorted distinct string
  * arrays via [[DedupKernels.sortedIntersectCount]]. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("dedupKernels", DedupKernels,
      "graft.functions.DedupKernels$")
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $k.sortedIntersectCount($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sorted_inter_count_long(a, b): |A∩B| of two sorted long arrays. */
case class SortedIntersectCountLongExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.sortedIntersectCountLong(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("dedupKernels", DedupKernels,
      "graft.functions.DedupKernels$")
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $k.sortedIntersectCountLong($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sorted_inter_count_long2(a, b): pair-stepping |A∩B| over two
  * [[DedupKernels.hash120Array]] outputs. */
case class SortedIntersectCountLong2Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.sortedIntersectCountLong2(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("dedupKernels", DedupKernels,
      "graft.functions.DedupKernels$")
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $k.sortedIntersectCountLong2($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** SQL function builders, so `expr("graft_shingles(text, 3)")` etc.
  * work from the Column API (same route as [[VectorFunctions]]). */
object DedupFunctions {
  private def lit(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** (name, builder) pairs, injected by
    * [[graft.plans.GraftSparkExtensions]] at session build. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingles" -> (es => ShinglesExpr(es.head, lit(es(1)))),
    "graft_hash60_array" -> (es => Hash60ArrayExpr(es.head, lit(es(1)))),
    "graft_minhash_sig" -> (es => MinHashSigExpr(es.head)),
    "graft_simhash48" -> (es => SimHash48Expr(es.head, lit(es(1)))),
    "graft_pairs" -> (es => UnorderedPairsExpr(es.head,
      if (es.length > 1) lit(es(1)) else 0)),
    "graft_sorted_inter_count" ->
      (es => SortedIntersectCountExpr(es.head, es(1))),
    "graft_hash120_array" -> (es => Hash120ArrayExpr(es.head, 0, 1)),
    "graft_sorted_inter_count_long2" ->
      (es => SortedIntersectCountLong2Expr(es.head, es(1))),
    "graft_sorted_inter_count_long" ->
      (es => SortedIntersectCountLongExpr(es.head, es(1))),
    "graft_rolling_hash" ->
      (es => RollingHashExpr(es.head, TextAnalysis.FpMod)))
}
