package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Kernel behind [[VecSumFixed]]: element-wise fixed-point accumulation
  * over one vector row into a flat `Array[Long]` buffer.
  *
  * Per-element arithmetic replicates the built-in composition it
  * replaces — `transform(v, x -> round(x.cast("double") * scale)
  * .cast("long"))` then per-position `sum` — bit-for-bit:
  * float elements widen to double (exact), the product rounds HALF_UP
  * on the double's shortest-decimal representation (Spark's `round`
  * semantics), and the integral double casts to long. The HALF_UP tie
  * lives on a knife's edge in binary (the computed fraction can round
  * ONTO 0.5 when the true fraction is half an ulp off it), so the
  * classifier takes a wide fast path and falls back to exact
  * `BigDecimal` only inside a ±1e-9 window around the tie — never hit
  * by real embedding data, always correct when it is.
  */
object VecAggKernel {

  /** `round(d).cast("long")` for double `d`, Spark semantics: HALF_UP
    * at scale 0 over the shortest-decimal representation. */
  def roundFixed(d: Double): Long = {
    val f = Math.floor(d)
    val frac = d - f
    if (frac > 0.500000001) (f + 1.0).toLong
    else if (frac < 0.499999999) f.toLong
    else // within 1e-9 of the tie: decide on the decimal repr, exactly
      new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(0, RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Accumulate one row's vector into `buf` (layout: `dim` sums then
    * `dim` non-null counts). Elements beyond the row's length and null
    * elements are skipped — per-position `sum` null semantics. */
  def update(buf: Array[Long], v: ArrayData, isFloat: Boolean,
      scale: Double, dim: Int): Unit = {
    val n = math.min(dim, v.numElements())
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        buf(i) += roundFixed(x * scale)
        buf(dim + i) += 1L
      }
      i += 1
    }
  }
}

/** `vec_sum_fixed(vec, scale, dim)` — per-position sums of
  * `round(element * scale)` as fixed-point longs, over an
  * `array<float|double>` column, as ONE aggregate buffer.
  *
  * Replaces the `transform` + `dim` × `sum(element_at(...))`
  * formulation used for bit-deterministic vector means (the Lloyd
  * recenter step, [[graft.operators.AnnSearch.ivfCentroids]]): the HOF
  * `transform` is CodegenFallback — one interpreted lambda per element —
  * and `dim` separate aggregate columns each re-walk the array, which
  * together dominate the pass (~1.5 s of a ~2.0 s Lloyd pass at 1M×64d,
  * tools/lloydprofile_r6.txt). This aggregate makes it one tight
  * primitive loop per row with an `Array[Long]` buffer.
  *
  * Scale shape: a `TypedImperativeAggregate` runs under
  * ObjectHashAggregate with map-side partial aggregation — the shuffle
  * carries one serialized `16*dim`-byte buffer per (partition, group),
  * identical to the slim nlist×dim-longs exchange of the column
  * formulation. Groups are quantizer lists (≤ nlist), far under the
  * sort-fallback threshold.
  *
  * Result: `array<long>` of length `dim`; position i is null iff no row
  * contributed a non-null element there (matching `sum`'s all-null →
  * null). Null input vectors contribute nothing (the `transform` of a
  * null array was null, so every `element_at` was null). Elements past
  * a short row are skipped — the non-ANSI `element_at` behavior; the
  * callers feed fixed-dim vectors.
  */
case class VecSumFixed(
    child: Expression,
    scale: Double,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(dim >= 1, "vec_sum_fixed: dim must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "vec_sum_fixed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_sum_fixed requires array<float|double>, got ${other.simpleString}")
  }

  private lazy val isFloat: Boolean = floatElems(child.dataType)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * dim)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      VecAggKernel.update(buf, v.asInstanceOf[ArrayData], isFloat, scale, dim)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      out(i) = if (buf(dim + i) > 0L) java.lang.Long.valueOf(buf(i)) else null
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](2 * dim)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumFixed =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumFixed =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecSumFixed =
    copy(child = newChild)
}
