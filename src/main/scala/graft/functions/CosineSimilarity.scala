package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * array<float|double> columns: one fused loop computing dot product and
  * both norms, called from the enclosing WholeStageCodegen stage
  * through [[KernelCall]].
  *
  * Why not `zip_with`/`aggregate` (the [[VectorFunctions]] formulation)?
  * Those are codegen'd too, but the zip materializes an intermediate
  * array per row and the three passes (dot, ‖a‖, ‖b‖) each walk their
  * input separately — for a verification step that evaluates millions of
  * candidate pairs, the fused single-pass loop with no allocation is the
  * performance path the charter's preference order names (custom
  * `Expression` beats composed built-ins beats UDF).
  *
  * Semantics (identical to the HOF formulation on well-formed input, and
  * pinned against it by VectorFunctionsSpec):
  *   - accumulation is sequential left-to-right in double, so results are
  *     bit-identical to the zip_with/aggregate version and to the DuckDB
  *     oracle's list_cosine_similarity at 4-decimal rounding;
  *   - arrays of different lengths are compared over the common prefix;
  *   - null ELEMENTS contribute 0 (embeddings have none; this avoids a
  *     null-check branch per element in the hot loop);
  *   - a zero-norm side yields NaN (IEEE 0/0), as with the HOF version;
  *   - a null ARRAY on either side yields null (BinaryExpression default).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "array<float|double> inputs")(_.forall(KernelCall.isVector))

  @transient private lazy val floatLeft = KernelCall.floatElements(left)
  @transient private lazy val floatRight = KernelCall.floatElements(right)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def kernel(xa: ArrayData, xb: ArrayData): Double = {
    val fa = floatLeft
    val fb = floatRight
    val n = math.min(xa.numElements(), xb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (xa.isNullAt(i)) 0.0 else KernelCall.at(xa, i, fa)
      val y = if (xb.isNullAt(i)) 0.0 else KernelCall.at(xb, i, fb)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}
