package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Sign-bit packing — word `w` = Σ over j∈[0,32) of
  * `(v[32w+j] > 0) · 2^j` — as ONE fused primitive loop per row,
  * emitting `array<long>` of 32-bit packed words (longs so DuckDB's
  * BIGINT reproduces them without sign traps — see
  * [[graft.operators.BinaryQuant.WordBits]]).
  *
  * The binary-ANN ingest kernel (VERDICT r17 ask #4): the HOF formulation
  * (`transform(sequence)` over `aggregate(zip_with(slice, sequence))`)
  * has no generated code — interpreted element-at-a-time with boxing and a
  * per-word slice copy, measured ~200 µs/row at 512-d, which made the
  * write-once packing scan the single visible build cost at the 100×
  * stress scale (0.72 → 9.76 s). This kernel is one branch-per-element
  * pass writing a primitive long[].
  *
  * Bit-identical to the HOF form ([[graft.operators.BinaryQuant
  * .signBits]], spec-pinned in BinaryQuantSpec):
  *   - floats compare as doubles (`x > 0.0` after the cast — lossless);
  *   - null ELEMENTS contribute 0 bits (the HOF's `when(x > 0.0, …)
  *     .otherwise(0)` — a null comparison is null → otherwise);
  *   - the tail of a non-multiple-of-32 vector contributes 0 bits
  *     (the HOF's null-padded zip_with);
  *   - an EMPTY vector packs to the empty array;
  *   - a null vector packs to null (UnaryExpression default).
  */
case class SignBitPack(child: Expression) extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "an array<float|double> input")(_.forall(KernelCall.isVector))

  @transient private lazy val isFloat = KernelCall.floatElements(child)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(arr: ArrayData): ArrayData = {
    val f = isFloat
    val n = arr.numElements()
    val words = (n + 31) / 32
    val out = new Array[Long](words)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && KernelCall.at(arr, i, f) > 0.0)
        out(i / 32) |= (1L << (i % 32))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): SignBitPack = copy(child = newChild)

  override def prettyName: String = "sign_bit_pack"
}
