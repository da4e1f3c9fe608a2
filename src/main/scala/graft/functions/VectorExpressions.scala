package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for `Array[Float]` embedding math.
  *
  * A higher-order-function composition (`aggregate(zip_with(a, b, ...))`)
  * builds an intermediate array and runs boxed lambda calls per element;
  * these expressions instead emit a single fused primitive loop via
  * `doGenCode`, staying inside whole-stage codegen — the hot path of
  * brute-force similarity search does dim×N multiply-adds and nothing
  * else. Accumulation is double, in element order, so a DuckDB oracle
  * (`list_sum` over per-element products) reproduces results exactly.
  */
abstract class FloatVectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** Dot product of two float vectors (double accumulator). */
case class DotProductF(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in ONE pass: dot, |a|², |b|² accumulated in the
  * same loop (three HOF aggregates would scan the arrays three times).
  * Null when either norm is zero.
  */
case class CosineSimF(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = (double) $a.getFloat($i);
         |  double yv = (double) $b.getFloat($i);
         |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Plane-matrix kernel shared by eval and generated code. */
object VectorKernels extends Serializable {
  /** LSH bucket id: bit p set iff dot(planes(p), emb) > 0. The dot
    * accumulates in element order with a double accumulator — exactly
    * the order the HOF `aggregate(zip_with(...))` it replaces used, so
    * the DuckDB oracle (list fold in SQL) stays bit-identical. */
  def hyperplaneSig(emb: ArrayData, planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(plane.length, emb.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += plane(i) * emb.getFloat(i).toDouble; i += 1 }
      if (acc > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  /** Symmetric int8 quantization round-trip stats: scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5) (explicit half-up — Spark and DuckDB
    * round() disagree on ties, floor(x+0.5) is identical), then the
    * reconstruction errors |x_i − q_i·scale|. Returns
    * [scale, max_abs_err, mean_abs_err] (mean accumulated in element
    * order for oracle parity). All-zero vectors quantize to scale 0
    * with zero error. */
  def quantizeStats(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(emb.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = maxAbs / 127.0
    var maxErr = 0.0
    var sumErr = 0.0
    if (scale > 0) {
      i = 0
      while (i < n) {
        val x = emb.getFloat(i).toDouble
        val q = math.floor(x / scale + 0.5)
        val e = math.abs(x - q * scale)
        if (e > maxErr) maxErr = e
        sumErr += e
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(scale, maxErr, if (n == 0) 0.0 else sumErr / n))
  }

  /** Banded LSH signature: planes are split into `bands` groups of
    * `bits` planes; element b of the result is band b's bucket id
    * (bit i set iff dot(planes(b*bits+i), emb) > 0). Same element-order
    * double accumulation as [[hyperplaneSig]] so the DuckDB oracle is
    * bit-identical. One fused loop over all bands*bits planes per row. */
  def bandedSig(emb: ArrayData, planes: Array[Array[Double]],
                bands: Int, bits: Int): ArrayData = {
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0
      var j = 0
      while (j < bits) {
        val plane = planes(b * bits + j)
        val n = math.min(plane.length, emb.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) { acc += plane(i) * emb.getFloat(i).toDouble; i += 1 }
        if (acc > 0) bucket |= 1 << j
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** IVF kernels shared by eval and generated code. */
object IvfKernels extends Serializable {
  /** Squared L2 distances to every centroid, element-order accumulation
    * (DuckDB list_sum comprehension parity). */
  def dists(emb: ArrayData, cents: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(cent.length, emb.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = emb.getFloat(i).toDouble - cent(i)
        acc += d * d
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Nearest centroid index; ties break to the lower index (mirrors the
    * oracle's ORDER BY dist, c LIMIT 1). */
  def cell(emb: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(cent.length, emb.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = emb.getFloat(i).toDouble - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** Two-level product cell (the inverted multi-index layout, Babenko
    * & Lempitsky, "The Inverted Multi-Index", CVPR 2012): the vector's
    * FIRST `a(0).length` dims argmin against codebook `a`, the rest
    * against codebook `b`; cell = c1·|b| + c2. One fused pass, no
    * array slicing/allocation — |a|+|b| centroid scans buy |a|·|b|
    * cells, which is what keeps K ∝ N assignable (a flat argmin over
    * K ∝ N centroids would itself be quadratic in the corpus). Ties
    * break to the lower index in each half, like [[cell]]. */
  def imiCell(emb: ArrayData, a: Array[Array[Double]],
              b: Array[Array[Double]]): Int = {
    val half = if (a.length > 0) a(0).length else 0
    val n = emb.numElements()
    var best1 = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < a.length) {
      val cent = a(c)
      val m = math.min(cent.length, n)
      var acc = 0.0
      var i = 0
      while (i < m) {
        val d = emb.getFloat(i).toDouble - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best1 = c }
      c += 1
    }
    var best2 = 0
    bestD = Double.MaxValue
    c = 0
    while (c < b.length) {
      val cent = b(c)
      val m = math.min(cent.length, math.max(0, n - half))
      var acc = 0.0
      var i = 0
      while (i < m) {
        val d = emb.getFloat(half + i).toDouble - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best2 = c }
      c += 1
    }
    best1 * b.length + best2
  }
}

/** Product-quantization kernels shared by eval and generated code.
  *
  * PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011) splits a Dim vector into M contiguous SubDim
  * slices and quantizes each against its own Ks-centroid codebook, so a
  * vector compresses to M small codes (here 64 floats → 16 4-bit
  * codes = 8 B packed, 32×). Asymmetric distance (ADC) between a raw
  * query and a coded vector is the sum over subspaces of the exact
  * distance from the query's slice to the CODED centroid.
  *
  * Exactness discipline: each per-subspace squared-L2 runs in doubles
  * with element-order accumulation (the [[IvfKernels]] parity), is
  * rounded to integer MICRO-units (`Math.round(d*1e6)` ==
  * DuckDB `CAST(round(d*1e6, 0) AS BIGINT)` for non-negative d), and
  * the cross-subspace total is a sum of longs — order-free and
  * bit-identical in both engines, unlike a double sum whose result
  * depends on addition order.
  *
  * Ragged vectors (shorter than Dim) read missing elements as 0.0 —
  * the SAME zero-pad convention [[graft.similarity.Pq.codebooks]]
  * training uses, so encode-time assignments measure the metric the
  * training objective optimized (PqKernelPropertySpec pins this). */
object PqKernels extends Serializable {

  /** `emb(i)`, zero-padded past the end (training parity). */
  private def at(emb: ArrayData, i: Int): Double =
    if (i < emb.numElements()) emb.getFloat(i).toDouble else 0.0

  /** PQ codes: argmin centroid per subspace; ties to the lower index
    * (mirrors the oracle's ORDER BY dist, c). */
  def encode(emb: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cents = books(j)
      val sub = cents(0).length
      val off = j * sub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val d = at(emb, off + i) - cent(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC distance in micro-units between a raw query vector and a coded
    * corpus vector: Σ_j round(L2²(q_sub_j, cent_j[code_j])·1e6). A
    * classic PQ scan precomputes the M×Ks query lookup table once; the
    * arithmetic here is identical per term, and at one-query scope the
    * fused form keeps the whole scan in one codegen stage. */
  def adcMicros(codes: ArrayData, qEmb: ArrayData,
                books: Array[Array[Array[Double]]]): Long = {
    var total = 0L
    var j = 0
    while (j < books.length) {
      val cent = books(j)(codes.getInt(j))
      val sub = cent.length
      val off = j * sub
      var acc = 0.0
      var i = 0
      while (i < sub) {
        val d = at(qEmb, off + i) - cent(i)
        acc += d * d
        i += 1
      }
      total += Math.round(acc * 1e6)
      j += 1
    }
    total
  }

  /** The query's precomputed ADC lookup table, flat M×Ks longs:
    * T[j·Ks + c] = round(L2²(q_sub_j, cent_j[c])·1e6) — every term
    * [[adcMicros]] could ever produce for this query, computed ONCE.
    * Bit-identical to the fused form by construction (same per-term
    * arithmetic, same round-then-sum order), so rankings are exactly
    * preserved — PqSpec pins the parity. Cost: Ks× one pair's distance
    * work per probe, amortized over every corpus row the probe meets
    * (the classic PQ scan layout; the fused form only wins when a
    * probe meets fewer than ~Ks corpus rows, which a scan never does). */
  def adcTable(qEmb: ArrayData,
               books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val ks = books(0).length
    val out = new Array[Long](m * ks)
    var j = 0
    while (j < m) {
      val cents = books(j)
      val sub = cents(0).length
      val off = j * sub
      var c = 0
      while (c < ks) {
        val cent = cents(c)
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val d = at(qEmb, off + i) - cent(i)
          acc += d * d
          i += 1
        }
        out(j * ks + c) = Math.round(acc * 1e6)
        c += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC distance from a precomputed [[adcTable]]: Σ_j T[j·Ks+code_j] —
    * M table reads + adds per pair instead of M×SubDim fused
    * multiply-adds. Ks is derived from the shapes so the expression
    * carries no codebook reference at all. */
  def adcFromTable(codes: ArrayData, table: ArrayData): Long = {
    val m = codes.numElements()
    val ks = table.numElements() / m
    var total = 0L
    var j = 0
    while (j < m) {
      total += table.getLong(j * ks + codes.getInt(j))
      j += 1
    }
    total
  }

  /** Per-subspace quantization distortion in micro-units — the error a
    * vector incurs by being coded (distance to its CHOSEN = nearest
    * centroid, i.e. the min over the codebook). The quantizer-quality
    * monitoring view. */
  def distortMicros(emb: ArrayData,
                    books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val cents = books(j)
      val sub = cents(0).length
      val off = j * sub
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val d = at(emb, off + i) - cent(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) bestD = acc
        c += 1
      }
      out(j) = Math.round(bestD * 1e6)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** pq_encode(emb): M PQ codes (argmin centroid per subspace) over the
  * codebooks carried as a codegen reference object. */
case class PqEncodeExpr(child: Expression,
                        books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PqKernels.encode(a.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernels", PqKernels,
      "graft.functions.PqKernels$")
    val bref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.encode($c, $bref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pq_adc_table(q_emb): the query's M×Ks precomputed ADC lookup table
  * (flat, micro-units) — computed once per probe row, carried through
  * the broadcast, consumed by [[PqAdcLookupExpr]] per pair. */
case class PqAdcTableExpr(child: Expression,
                          books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PqKernels.adcTable(a.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernels", PqKernels,
      "graft.functions.PqKernels$")
    val bref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.adcTable($c, $bref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pq_adc_lookup(codes, table): ADC distance by table lookup — the
  * per-pair hot path of the precomputed variant (M reads + adds, no
  * floating point at all). Bit-identical to pq_adc(codes, q_emb) when
  * `table = pq_adc_table(q_emb)`. */
case class PqAdcLookupExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.adcFromTable(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernels", PqKernels,
      "graft.functions.PqKernels$")
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $k.adcFromTable($a, $b);")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** pq_adc(codes, q_emb): asymmetric PQ distance in micro-units. */
case class PqAdcExpr(left: Expression, right: Expression,
                     books: Array[Array[Array[Double]]])
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.adcMicros(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernels", PqKernels,
      "graft.functions.PqKernels$")
    val bref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $k.adcMicros($a, $b, $bref);")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** pq_distort(emb): per-subspace quantization distortion (micro-units,
  * M longs). */
case class PqDistortExpr(child: Expression,
                         books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PqKernels.distortMicros(a.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernels", PqKernels,
      "graft.functions.PqKernels$")
    val bref = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.distortMicros($c, $bref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ivf_cell(emb): nearest-centroid index over the codebook carried as a
  * codegen reference object. */
case class IvfCellExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any): Any =
    IvfKernels.cell(a.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernels", IvfKernels,
      "graft.functions.IvfKernels$")
    val cref = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.cell($c, $cref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Two-level product cell assignment (see [[IvfKernels.imiCell]]) —
  * the K ∝ N scale path's kernel: both half-space argmins fused in one
  * codegen call, codebooks carried as reference objects. */
case class IvfImiCellExpr(child: Expression,
                          a: Array[Array[Double]],
                          b: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    IvfKernels.imiCell(v.asInstanceOf[ArrayData], a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernels", IvfKernels,
      "graft.functions.IvfKernels$")
    val aref = ctx.addReferenceObj("imiA", a, "double[][]")
    val bref = ctx.addReferenceObj("imiB", b, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $k.imiCell($c, $aref, $bref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ivf_dists(emb): squared L2 distance to each centroid. */
case class IvfDistsExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    IvfKernels.dists(a.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernels", IvfKernels,
      "graft.functions.IvfKernels$")
    val cref = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.dists($c, $cref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** hyperplane_sig(emb): LSH bucket from a fixed ±1 plane matrix carried
  * as a codegen reference object — ONE fused loop per row instead of
  * NPlanes interpreted `aggregate(zip_with(...))` HOF trees (those are
  * CodegenFallback and were the last interpreted expression on the ANN
  * hot path). */
case class HyperplaneSigExpr(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hyperplaneSig(a.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = ctx.addReferenceObj("vectorKernels", VectorKernels,
      "graft.functions.VectorKernels$")
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $kernels.hyperplaneSig($c, $planesRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** banded_sig(emb): per-band LSH bucket ids (array of `bands` ints) from
  * a ±1 plane matrix of `bands*bits` rows carried as a codegen reference
  * object. The banding (OR over bands at pair time) is what lets bucket
  * geometry scale with corpus size: more bits → smaller buckets, more
  * bands → recovered recall — unlike a single fixed 2^k bucket space. */
case class BandedSigExpr(child: Expression, planes: Array[Array[Double]],
                         bands: Int, bits: Int)
    extends UnaryExpression {
  require(planes.length == bands * bits,
    s"plane matrix has ${planes.length} rows, need bands*bits = ${bands * bits}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    VectorKernels.bandedSig(a.asInstanceOf[ArrayData], planes, bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = ctx.addReferenceObj("vectorKernels", VectorKernels,
      "graft.functions.VectorKernels$")
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $kernels.bandedSig($c, $planesRef, $bands, $bits);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** quantize_stats(emb): int8 quantization round-trip stats
  * [scale, max_abs_err, mean_abs_err] — see
  * [[VectorKernels.quantizeStats]]. */
case class QuantizeStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    VectorKernels.quantizeStats(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("vectorKernels", VectorKernels,
      "graft.functions.VectorKernels$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.quantizeStats($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** SQL function builders for the vector expressions. */
object VectorFunctions {

  /** (name, builder) pairs, injected by
    * [[graft.plans.GraftSparkExtensions]] at session build.
    * Builders run at PARSE time (an active session exists), so the
    * lazily-trained Ivf codebook resolves correctly. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProductF(es.head, es(1))),
    "graft_cosine" -> (es => CosineSimF(es.head, es(1))),
    "graft_hyperplane_sig" ->
      (es => HyperplaneSigExpr(es.head, graft.similarity.Ann.planeMatrix)),
    // bands/bits must be literals: the plane matrix is a compile-time
    // reference object sized bands*bits
    "graft_banded_sig" -> (es => {
      val bands = es(1).eval().asInstanceOf[Int]
      val bits = es(2).eval().asInstanceOf[Int]
      BandedSigExpr(es.head,
        graft.similarity.Ann.bandedPlaneMatrix(bands * bits), bands, bits)
    }),
    "graft_quantize_stats" -> (es => QuantizeStatsExpr(es.head)),
    "graft_ivf_cell" ->
      (es => IvfCellExpr(es.head, graft.similarity.Ivf.centroids)),
    "graft_ivf_dists" ->
      (es => IvfDistsExpr(es.head, graft.similarity.Ivf.centroids)),
    "graft_pq_encode" ->
      (es => PqEncodeExpr(es.head, graft.similarity.Pq.codebooks)),
    "graft_pq_adc" ->
      (es => PqAdcExpr(es.head, es(1), graft.similarity.Pq.codebooks)),
    "graft_pq_adc_table" ->
      (es => PqAdcTableExpr(es.head, graft.similarity.Pq.codebooks)),
    "graft_pq_adc_lookup" -> (es => PqAdcLookupExpr(es.head, es(1))),
    "graft_pq_distort" ->
      (es => PqDistortExpr(es.head, graft.similarity.Pq.codebooks)))
}
