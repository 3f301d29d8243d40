package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Sound cosine UPPER BOUND from two compact verify sketches
  * (struct<binary q, double scale, double norm> — int8 codes + the
  * quantization scale + the exact L2 norm), as ONE fused loop per
  * candidate pair.
  *
  * The math is [[graft.operators.Dedup.verifySketchUdf]]'s companion
  * bound, bit-identical to the Scala UDF it replaced (same double
  * accumulation order): with u = s_a·q_a + e_a and ‖e_a‖ ≤ s_a·√d/2,
  * Cauchy–Schwarz gives
  *   u·v ≤ s_a·s_b·(q_a·q_b) + (‖u‖+ε_a)·ε_b + ε_a·(‖v‖+ε_b) + ε_a·ε_b,
  * divided by ‖u‖‖v‖. Filtering on `upper ≥ threshold` can never drop
  * a true pair; only noise (upper ≈ 0) is shed.
  *
  * This is the per-CANDIDATE hot loop of the embedding verify stage —
  * candidate cardinality × d byte-multiplies — so it follows the
  * charter's preference order off the Scala-UDF tier: no
  * Catalyst↔Scala conversion of the byte arrays, no boxed tuple, and
  * the enclosing WholeStageCodegen stage calls the loop directly.
  *
  * Null / degenerate semantics (filter-equivalent to the UDF): a null
  * sketch on either side, a null code array, or a zero norm yields
  * −∞ — the exact cosine there is NaN or undefined and fails any
  * threshold. MISMATCHED code lengths (a stale sketch table joined
  * against a re-embedded corpus) yield +∞: a prefix dot with
  * full-vector norms is not a sound bound, and +∞ keeps the pair for
  * the exact downstream verify instead of silently dropping it. The
  * expression itself is never null-valued.
  */
case class SketchCosUpperBound(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "struct<binary,double,double> inputs")(_.forall {
      case StructType(Array(q, scale, norm)) =>
        q.dataType == BinaryType && scale.dataType == DoubleType &&
          norm.dataType == DoubleType
      case _ => false
    })

  override protected def kernelSeesNull: Boolean = true

  override def eval(input: InternalRow): Any =
    kernel(left.eval(input).asInstanceOf[InternalRow],
      right.eval(input).asInstanceOf[InternalRow])

  def kernel(ra: InternalRow, rb: InternalRow): Double = {
    if (ra == null || rb == null || ra.isNullAt(0) || rb.isNullAt(0))
      return Double.NegativeInfinity
    val qa = ra.getBinary(0); val sa = ra.getDouble(1); val na = ra.getDouble(2)
    val qb = rb.getBinary(0); val sb = rb.getDouble(1); val nb = rb.getDouble(2)
    if (na == 0.0 || nb == 0.0) return Double.NegativeInfinity
    // Mismatched code lengths (a stale sketch table joined against a
    // re-embedded corpus) make the Cauchy–Schwarz bound UNSOUND if
    // computed over the common prefix with full-vector norms — the
    // "bound" can fall below the true cosine and silently drop a true
    // pair. +∞ keeps the pair, forcing the exact downstream verify (on
    // the real embeddings) to decide — the sound direction for an
    // upper bound. (Null would read as filter-false = a silent drop.)
    if (qa.length != qb.length) return Double.PositiveInfinity
    val d = qa.length
    var dot = 0L
    var i = 0
    while (i < d) { dot += qa(i).toLong * qb(i).toLong; i += 1 }
    val sq = math.sqrt(d.toDouble)
    val ea = sa * sq / 2.0
    val eb = sb * sq / 2.0
    (sa * sb * dot.toDouble + (na + ea) * eb + ea * (nb + eb) + ea * eb) /
      (na * nb)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SketchCosUpperBound =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sketch_cos_upper"
}
