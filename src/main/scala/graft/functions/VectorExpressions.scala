package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two `array<float>` / `array<double>` columns.
  *
  * Semantics match the `zip_with` + `aggregate` composition (sequential
  * left-to-right double accumulation over min(len) elements) but compile to
  * a tight whole-stage-codegen loop — the HOF composition interprets one
  * lambda call per element, which dominates ANN/cosine workloads
  * (~40× slower on 64-dim embeddings).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float|double> arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  // a null ELEMENT null-propagates like the zip_with/aggregate
  // composition (and DuckDB's list functions) — the result is null, not
  // a dot product that silently read the hole as 0.0
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      floatElems(left.dataType), floatElems(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = floatElems(left.dataType)
    val rf = floatElems(right.dataType)
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.VectorKernel.dotOrNull(
         |  $x, $y, $lf, $rf);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel behind [[HyperplaneSig]]: all `bits` sign bits in one compiled
  * pass over the vector. Hash/arithmetic parity with the HOF formulation
  * (`aggregate(zip_with(v, sequence, x*((pmod(xxhash64(p, j), 2001)-1000)
  * /1000)), 0.0, +)` per plane): same xxhash64 seed chain (int p then int
  * j, seed 42), same left-to-right double accumulation. The HOF version
  * interprets one lambda per (plane, element) — 64 planes × 64 dims =
  * 4 096 interpreted calls per row. */
object VectorKernel {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  /** Dot product over min(len) elements; null if either array has a null
    * element in the overlap (parity with HOF null propagation). */
  def dotOrNull(x: ArrayData, y: ArrayData, lf: Boolean,
      rf: Boolean): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Integer dot product over min(len) elements, accumulated in long —
    * exact (no rounding) for quantized codes: |levels|² · dim ≤ 127² ·
    * dim stays far below 2⁶³. Null contract mirrors [[dotOrNull]]: a
    * null element in the overlap nulls the result. */
  def dotIntOrNull(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Unit-normalize then symmetric int8-style scalar quantization in ONE
    * pass — `q_i = clamp(floor(x_i / ||v|| * levels), -levels, levels)`
    * with the norm accumulated left-to-right in double (the [[dotOrNull]]
    * convention, so float corpora widen exactly and the result is
    * engine-portable: floor and IEEE division agree bit-for-bit with
    * DuckDB's `list_transform` on the same parquet floats).
    *
    * Null contract (mirrors the `when`/`transform` SQL composition):
    * null vector or any null element → null result (the norm is null);
    * zero norm → all zeros (the `when(nrm = 0, zeros)` guard).
    */
  def normQuantI8(v: ArrayData, isFloat: Boolean,
      levels: Int): ArrayData = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    val out = new Array[Int](n)
    if (norm != 0.0) {
      var j = 0
      while (j < n) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        val q = Math.floor(x / norm * levels)
        out(j) = Math.max(-levels, Math.min(levels, q)).toInt
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def hyperplaneSig(v: ArrayData, offset: Int, bits: Int,
      isFloat: Boolean): Long = {
    val n = v.numElements()
    // parity with the HOF formulation: a null element nullified every
    // projection, and when(null >= 0, bit) took the otherwise(0L) branch
    // for all planes → signature 0
    var i0 = 0
    while (i0 < n) {
      if (v.isNullAt(i0)) return 0L
      i0 += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      val seedP = XxHash64Function.hash(offset + b, IntegerType, 42L)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val h = XxHash64Function.hash(j, IntegerType, seedP)
        val comp = ((((h % 2001L) + 2001L) % 2001L).toDouble - 1000.0) / 1000.0
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        acc += x * comp
        j += 1
      }
      if (acc >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

object VectorKernelNearest {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  /** Index (0-based, centroid-matrix order) of the nearest centroid by
    * cosine — the codegen'd kernel behind [[NearestCentroid]]. Replicates
    * the window formulation it replaced BIT-EXACTLY
    * (`cosine(cv, centv)` per broadcast centroid row, then
    * `row_number over (partition by id order by sim desc, list_id asc)`),
    * including its edges:
    *
    *  - cosine is `when(na = 0 or nb = 0, 0.0) otherwise dot/(na*nb)`
    *    under SQL three-valued logic: a null dot (null vector / null
    *    element in the overlap) makes the sim null UNLESS the other
    *    operand's norm is zero, in which case the guard short-circuits
    *    to 0.0;
    *  - doubles compare like Spark's own ordering
    *    ([[SQLOrderingUtil.compareDoubles]]: NaN greatest, -0 < 0);
    *  - sim ties keep the FIRST index (matrix rows are list_id-ascending
    *    → smallest list_id, the window's tie-break);
    *  - null sims lose to any non-null (DESC NULLS LAST), and the
    *    all-null row still picks index 0 (the window emitted rn=1 by the
    *    list_id tie-break alone).
    *
    * Caller-side contract: `cents` rows are the centroid elements widened
    * to double (float→double widening is exact, so float-corpus products
    * are bit-identical to [[VectorKernel.dotOrNull]]'s per-element
    * `toDouble`); `nb2s(t)`/`nb2Null(t)` carry dot(cent, cent)
    * computed with the same left-to-right accumulation (`nb2Null(t)`:
    * centroid t has a null element).
    */
  def nearestCentroid(v: ArrayData, vIsFloat: Boolean,
      cents: Array[Array[Double]], nb2s: Array[Double],
      nb2Null: Array[Boolean]): Int = {
    val vLen = if (v == null) 0 else v.numElements()
    // one pass over v: first null element, and dot(v, v) (null if any
    // null element — the overlap is the whole vector)
    var vFirstNull = Int.MaxValue
    var na2 = 0.0
    var i = 0
    while (i < vLen && vFirstNull == Int.MaxValue) {
      if (v.isNullAt(i)) vFirstNull = i
      else {
        val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        na2 += x * x
        i += 1
      }
    }
    val naNull = v == null || vFirstNull != Int.MaxValue
    val na = if (naNull) 0.0 else math.sqrt(na2)
    var best = -1
    var bestSim = 0.0
    var t = 0
    while (t < cents.length) {
      val cent = cents(t)
      val nbNull = nb2Null(t)
      val nb = if (nbNull) 0.0 else math.sqrt(nb2s(t))
      // when(na === 0 || nb === 0, 0.0) under 3VL: TRUE wins over UNKNOWN
      val condTrue = (!naNull && na == 0.0) || (!nbNull && nb == 0.0)
      val condUnknown = !condTrue && (naNull || nbNull)
      var simNull = false
      var sim = 0.0
      if (condTrue) sim = 0.0
      else if (condUnknown) simNull = true
      else {
        // na/nb non-null ⇒ neither array has null elements ⇒ dot non-null
        val n = math.min(vLen, cent.length)
        var dot = 0.0
        var j = 0
        while (j < n) {
          val x = if (vIsFloat) v.getFloat(j).toDouble else v.getDouble(j)
          dot += x * cent(j)
          j += 1
        }
        sim = dot / (na * nb)
      }
      if (!simNull &&
          (best == -1 || SQLOrderingUtil.compareDoubles(sim, bestSim) > 0)) {
        best = t
        bestSim = sim
      }
      t += 1
    }
    if (best == -1) 0 else best
  }
}

object VectorKernelNearestK {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  /** Indices of the `k` nearest centroids in rank order — the multi-probe
    * generalization of [[VectorKernelNearest.nearestCentroid]], replacing
    * `row_number over (partition by query order by sim desc, list_id asc)
    * <= nprobe` over a query×centroid cross join. Same sim semantics and
    * double ordering as the top-1 kernel; rows whose sim is null rank
    * LAST (DESC NULLS LAST) ordered among themselves by index — exactly
    * the windowed row set, so the probed-list SET per query is identical
    * to the pre-rewrite plan. Returns min(k, nCentroids) indices. */
  def nearestCentroids(v: ArrayData, vIsFloat: Boolean,
      cents: Array[Array[Double]], nb2s: Array[Double],
      nb2Null: Array[Boolean], k: Int): Array[Int] = {
    val n = cents.length
    val vLen = if (v == null) 0 else v.numElements()
    var vFirstNull = Int.MaxValue
    var na2 = 0.0
    var i = 0
    while (i < vLen && vFirstNull == Int.MaxValue) {
      if (v.isNullAt(i)) vFirstNull = i
      else {
        val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        na2 += x * x
        i += 1
      }
    }
    val naNull = v == null || vFirstNull != Int.MaxValue
    val na = if (naNull) 0.0 else math.sqrt(na2)
    val sims = new Array[Double](n)
    val simNull = new Array[Boolean](n)
    var t = 0
    while (t < n) {
      val cent = cents(t)
      val nbNull = nb2Null(t)
      val nb = if (nbNull) 0.0 else math.sqrt(nb2s(t))
      val condTrue = (!naNull && na == 0.0) || (!nbNull && nb == 0.0)
      val condUnknown = !condTrue && (naNull || nbNull)
      if (condTrue) sims(t) = 0.0
      else if (condUnknown) simNull(t) = true
      else {
        val m = math.min(vLen, cent.length)
        var dot = 0.0
        var j = 0
        while (j < m) {
          val x = if (vIsFloat) v.getFloat(j).toDouble else v.getDouble(j)
          dot += x * cent(j)
          j += 1
        }
        sims(t) = dot / (na * nb)
      }
      t += 1
    }
    // rank = (non-null sims by compareDoubles desc, index asc), then
    // null-sim indices ascending — partial selection, k and n both small
    val out = new Array[Int](math.min(k, n))
    val taken = new Array[Boolean](n)
    var o = 0
    while (o < out.length) {
      var best = -1
      var u = 0
      while (u < n) {
        if (!taken(u)) {
          if (best == -1) best = u
          else {
            val better =
              if (simNull(u) != simNull(best)) simNull(best) // non-null wins
              else if (simNull(u)) false // both null: keep smaller index
              else SQLOrderingUtil.compareDoubles(sims(u), sims(best)) > 0
            if (better) best = u
          }
        }
        u += 1
      }
      taken(best) = true
      out(o) = best
      o += 1
    }
    out
  }
}

/** `nearest_centroids(vec, k)` — rank-ordered indices of the k nearest
  * centroids in a driver-frozen matrix (see [[VectorKernelNearestK]]);
  * the multi-probe selection as one codegen'd pass. Never null. */
case class NearestCentroids(child: Expression, cents: Array[Array[Double]],
    nb2s: Array[Double], nb2Null: Array[Boolean], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(cents.nonEmpty, "nearest_centroids needs at least one centroid")
  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires array<float|double>, got ${other.simpleString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernelNearestK.nearestCentroids(
        child.eval(input).asInstanceOf[ArrayData],
        floatElems(child.dataType), cents, nb2s, nb2Null, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val nb2Ref = ctx.addReferenceObj("nb2s", nb2s, "double[]")
    val nbnRef = ctx.addReferenceObj("nb2Null", nb2Null, "boolean[]")
    val childGen = child.genCode(ctx)
    val isF = floatElems(child.dataType).toString
    val kStr = k.toString
    val resultCode =
      code"""
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |    graft.functions.VectorKernelNearestK.nearestCentroids(
        |      ${childGen.isNull} ? null : ${childGen.value}, $isF,
        |      $centsRef, $nb2Ref, $nbnRef, $kStr));
      """.stripMargin
    ev.copy(code = childGen.code + resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nearest_centroid(vec)` against a driver-frozen centroid matrix —
  * the IVF assignment as a codegen'd NARROW MAP (see
  * [[VectorKernelNearest.nearestCentroid]] for the bit-compatibility
  * contract with the broadcast-join + argmax-window shape it replaced).
  * Never null: the all-null-sims row resolves to index 0, as the window's
  * list_id tie-break did. */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]],
    nb2s: Array[Double], nb2Null: Array[Boolean])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(cents.nonEmpty, "nearest_centroid needs at least one centroid")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double>, got ${other.simpleString}")
  }

  // a NULL input vector must reach the kernel (it resolves to index 0,
  // the window-shape edge), so bypass UnaryExpression's null short-circuit
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    VectorKernelNearest.nearestCentroid(
      child.eval(input).asInstanceOf[ArrayData],
      floatElems(child.dataType), cents, nb2s, nb2Null)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val nb2Ref = ctx.addReferenceObj("nb2s", nb2s, "double[]")
    val nbnRef = ctx.addReferenceObj("nb2Null", nb2Null, "boolean[]")
    val childGen = child.genCode(ctx)
    val isF = floatElems(child.dataType).toString
    val resultCode =
      code"""
        |int ${ev.value} = graft.functions.VectorKernelNearest.nearestCentroid(
        |  ${childGen.isNull} ? null : ${childGen.value}, $isF,
        |  $centsRef, $nb2Ref, $nbnRef);
      """.stripMargin
    ev.copy(code = childGen.code + resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_dot_int(a, b)` — integer dot product over two `array<int>`
  * columns, long accumulation (see [[VectorKernel.dotIntOrNull]]): the
  * candidate-scoring kernel for scalar-quantized ANN codes, where the
  * arithmetic is exact and engine-portable by construction (integer
  * products and sums have no reduction-order sensitivity). */
case class VecDotInt(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_int"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot_int requires array<int> arguments, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  // null element in the overlap → null result, the vec_dot convention
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dotIntOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.functions.VectorKernel.dotIntOrNull($x, $y);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_norm_quant_i8(vec, levels)` — unit-normalize + symmetric scalar
  * quantization to `[-levels, levels]` ints in one codegen'd pass (see
  * [[VectorKernel.normQuantI8]]) — the standard compression step before
  * storing/shuffling an ANN corpus (int8 is 4× narrower than float32 on
  * the wire and in the page cache). */
case class VecNormQuantI8(child: Expression, levels: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(levels >= 1 && levels <= 127,
    "vec_norm_quant_i8: levels must be in [1, 127]")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_norm_quant_i8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_norm_quant_i8 requires array<float|double>, got ${other.simpleString}")
  }

  // a null ELEMENT also nulls the result (the norm is null) — handled
  // inside the kernel, which returns null past nullSafeEval
  override protected def nullSafeEval(v: Any): Any =
    VectorKernel.normQuantI8(v.asInstanceOf[ArrayData],
      floatElems(child.dataType), levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val r = ctx.freshName("r")
      val isF = floatElems(child.dataType)
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.VectorKernel.normQuantI8($v, $isF, $levels);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hyperplane_sig(vec, offset, bits)` — random-hyperplane LSH signature
  * as one codegen'd pass (see [[VectorKernel.hyperplaneSig]]). */
case class HyperplaneSig(child: Expression, offset: Int, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bits >= 1 && bits <= 63, "bits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires array<float|double>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    VectorKernel.hyperplaneSig(v.asInstanceOf[ArrayData], offset, bits,
      floatElems(child.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isF = floatElems(child.dataType)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernel.hyperplaneSig($c, $offset, $bits, $isF)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel behind [[PqLut]]: the whole flat ADC lookup table in one
  * compiled pass. Parity contract with the per-entry composition it
  * replaced (`array(m·ksub VecDot(slice(qv, j·sub+1, sub), litEntry)
  * columns)`): same overlap rule per entry (min of the slice's and the
  * codebook entry's lengths — a query shorter than j·sub contributes an
  * empty slice and a 0.0 dot, exactly as `slice` + VecDot did), same
  * null propagation (null query vector or a null element inside the
  * overlap nulls THAT entry, never the whole table), same left-to-right
  * double accumulation per entry. The per-entry column formulation was
  * correct but m·ksub = 256 expressions at the a9 parameterization —
  * Janino compile time of the query-side projection dominated the whole
  * query below corpus sizes that saturate a task. */
object VectorKernelPq {
  def lut(v: ArrayData, vIsFloat: Boolean,
      books: Array[Array[Array[Double]]], sub: Int): ArrayData = {
    var total = 0
    var j = 0
    while (j < books.length) { total += books(j).length; j += 1 }
    // primitive-backed fast path: a boxed Array[Any] table makes every
    // downstream ADC read (m per CANDIDATE, not per query) a pointer
    // chase + unbox — measured 2.3× on the whole partitioned kNN-PQ
    // candidate stage at 100k docs, because consumers that DON'T pass a
    // serialization boundary (same-stage project → join → score) see
    // this object as-is, unlike a broadcast/ shuffle which flattens it
    // to UnsafeArrayData. Null entries (null query vector / null
    // elements) are the degenerate case — only then fall back to boxing.
    val out = new Array[Double](total)
    var anyNull = v == null
    var boxed: Array[Any] = null
    val vLen = if (v == null) 0 else v.numElements()
    var o = 0
    j = 0
    while (j < books.length && !anyNull) {
      val start = j * sub
      val sliceLen = math.max(0, math.min(vLen - start, sub))
      val book = books(j)
      var k = 0
      while (k < book.length && !anyNull) {
        val mat = book(k)
        val n = math.min(sliceLen, mat.length)
        var acc = 0.0
        var i = 0
        while (i < n && !anyNull) {
          if (v.isNullAt(start + i)) anyNull = true
          else {
            val x = if (vIsFloat) v.getFloat(start + i).toDouble
                    else v.getDouble(start + i)
            acc += x * mat(i)
            i += 1
          }
        }
        if (!anyNull) { out(o) = acc; o += 1; k += 1 }
      }
      j += 1
    }
    if (!anyNull)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    // slow path (null vector or null elements): per-entry nulls, boxed —
    // identical semantics to the pre-r8 implementation
    boxed = new Array[Any](total)
    o = 0
    j = 0
    while (j < books.length) {
      val start = j * sub
      val sliceLen = math.max(0, math.min(vLen - start, sub))
      val book = books(j)
      var k = 0
      while (k < book.length) {
        if (v == null) boxed(o) = null
        else {
          val mat = book(k)
          val n = math.min(sliceLen, mat.length)
          var acc = 0.0
          var i = 0
          var isNull = false
          while (i < n && !isNull) {
            if (v.isNullAt(start + i)) isNull = true
            else {
              val x = if (vIsFloat) v.getFloat(start + i).toDouble
                      else v.getDouble(start + i)
              acc += x * mat(i)
              i += 1
            }
          }
          boxed(o) = if (isNull) null else java.lang.Double.valueOf(acc)
        }
        o += 1
        k += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed)
  }
}

/** `pq_lut(qv)` against driver-frozen per-subspace codebooks — the flat
  * asymmetric-distance lookup table (lut[offⱼ + k] = dot(q_j,
  * codebook_j[k])) as ONE codegen'd expression (see
  * [[VectorKernelPq.lut]] for the parity contract). Never null itself;
  * entries are null exactly where the per-entry VecDot columns were. */
case class PqLut(child: Expression, books: Array[Array[Array[Double]]],
    sub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(books.nonEmpty, "pq_lut needs at least one codebook")
  require(sub >= 1, "subvector width must be >= 1")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires array<float|double>, got ${other.simpleString}")
  }

  // a NULL query vector must reach the kernel (it yields the all-null
  // table, as the per-entry columns did), so bypass the null short-circuit
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    VectorKernelPq.lut(child.eval(input).asInstanceOf[ArrayData],
      floatElems(child.dataType), books, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val booksRef = ctx.addReferenceObj("books", books, "double[][][]")
    val childGen = child.genCode(ctx)
    val isF = floatElems(child.dataType).toString
    val resultCode =
      code"""
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  graft.functions.VectorKernelPq.lut(
        |    ${childGen.isNull} ? null : ${childGen.value}, $isF,
        |    $booksRef, $sub);
      """.stripMargin
    ev.copy(code = childGen.code + resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_sub(a, b)` — element-wise difference over two float/double array
  * columns, the residual step of residual-encoded IVF-PQ (v −
  * centroid(list)). Output element type: float only when BOTH inputs are
  * float (float subtraction is exact IEEE and keeps the corpus
  * representation narrow); double otherwise. Length = min(len) — the
  * VecDot overlap convention. Null contract: null array or null element
  * → null result element? No — matching zip_with(a, b, (x, y) -> x - y):
  * a null ARRAY nulls the result (null-safe eval), a null ELEMENT nulls
  * that element only. */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = {
    val f = floatElems(left.dataType) && floatElems(right.dataType)
    ArrayType(if (f) FloatType else DoubleType, containsNull = true)
  }
  override def prettyName: String = "vec_sub"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vec_sub requires array<float|double> arguments, got $other")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernelSub.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      floatElems(left.dataType), floatElems(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = floatElems(left.dataType)
    val rf = floatElems(right.dataType)
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.VectorKernelSub.sub($x, $y, $lf, $rf)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorKernelSub {
  /** Element-wise a − b over min(len); a null element in either input
    * nulls that output element. Result element type follows [[VecSub]]:
    * float iff both inputs are float. */
  def sub(x: ArrayData, y: ArrayData, lf: Boolean,
      rf: Boolean): ArrayData = {
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Any](n)
    val bothFloat = lf && rf
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        if (bothFloat) out(i) = x.getFloat(i) - y.getFloat(i)
        else {
          val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
          val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
          out(i) = xv - yv
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
