package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric per-vector int8 quantization codes — `round(x / scale)`
  * with `scale = max|x| / 127` — as ONE fused two-pass loop per row,
  * emitting `array<double>` of integral code values (the form the
  * cosine kernel and the DuckDB oracle both consume).
  *
  * Bit-identical to the HOF formulation it replaces in the quantized
  * search path (`aggregate` for max|x| then `transform(round(x/scale))`)
  * and to the DuckDB oracle:
  *   - all math in double (floats cast up front, like the HOF's
  *     `cast("array<double>")`);
  *   - rounding is HALF AWAY FROM ZERO on the binary value, which
  *     agrees with BOTH Spark's `round` (BigDecimal HALF_UP over the
  *     shortest-decimal string — order-preserving vs the exactly
  *     representable k+0.5 boundaries, so the two definitions cannot
  *     disagree) and DuckDB's `round`;
  *   - a zero-scale (all-zero or empty) vector yields all-zero codes,
  *     the HOF's explicit `when(scale === 0)` branch;
  *   - null ELEMENTS are skipped by the max (SQL `greatest` semantics)
  *     and map to null code elements (`round(null/scale)`), on a slow
  *     path — embeddings carry none, so the fast path writes an
  *     UnsafeArrayData straight from a primitive double[];
  *   - a null ARRAY yields null (UnaryExpression default).
  *
  * Why not the HOFs: `aggregate`/`transform` have no generated code —
  * three interpreted element-at-a-time passes with boxing per row. At
  * 512-d × 50k rows that was the whole cost of sim_quantized_topk's
  * corpus scan.
  */
case class Int8QuantizeCodes(child: Expression) extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "an array<float|double> input")(_.forall(KernelCall.isVector))

  @transient private lazy val isFloat = KernelCall.floatElements(child)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(arr: ArrayData): ArrayData = {
    val f = isFloat
    val n = arr.numElements()
    var hasNull = false
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val a = math.abs(KernelCall.at(arr, i, f))
        if (a > maxAbs) maxAbs = a
      }
      i += 1
    }
    val scale = maxAbs / 127.0
    if (scale == 0.0) {
      // the HOF's `when(scale === 0, transform(_ => lit(0.0)))` branch
      // maps EVERY element — including null positions — to 0.0
      ArrayData.toArrayData(new Array[Double](n))
    } else if (!hasNull) {
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = GraftMath.roundAway(KernelCall.at(arr, i, f) / scale)
        i += 1
      }
      ArrayData.toArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i))
          out(i) = GraftMath.roundAway(KernelCall.at(arr, i, f) / scale)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): Int8QuantizeCodes = copy(child = newChild)

  override def prettyName: String = "int8_quantize_codes"
}
