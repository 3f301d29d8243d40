package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Hamming distance between two packed-bits arrays —
  * Σ `bit_count(a[w] xor b[w])` — as ONE fused primitive loop per row.
  *
  * Unlike [[SignBitPack]] (build-only), this kernel sits on the binary
  * ANN SERVING path: the prefilter evaluates it |queries| × corpus
  * times per batch (BinaryQuant.binaryTopK's bits-scan × broadcast
  * query join), where the HOF form (`aggregate(zip_with(bit_count ∘
  * xor))`) is interpreted element-at-a-time with a zipped intermediate
  * array per evaluation.
  *
  * Bit-identical to the HOF form ([[graft.operators.BinaryQuant
  * .hammingDist]], kept as the spec-pinned reference):
  *   - words pair positionally; if one array is LONGER, zip_with pads
  *     the short side with null and `bit_count(x xor null)` is null,
  *     which the HOF's `acc + null` turns into a NULL total — mirrored
  *     here by returning null on length mismatch (same-geometry packed
  *     tables never hit it, but the edge must agree);
  *   - a null ELEMENT likewise nulls the HOF total (null xor) — ditto;
  *   - a null ARRAY on either side is null (BinaryExpression default).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = LongType

  // Either operand null → null, plus the data-dependent null edges
  // above — so never claim non-nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "two array<bigint> inputs")(_.forall(KernelCall.isLongs))

  override protected def kernelMayReturnNull: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Boxed distance, or null on the length-mismatch and null-element
    * edges (see class doc). */
  def kernel(x: ArrayData, y: ArrayData): Any = {
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var total = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      total += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    total
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_distance"
}
