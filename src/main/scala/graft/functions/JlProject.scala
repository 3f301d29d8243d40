package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Johnson–Lindenstrauss ±1 random projection of an embedding vector —
  * integerize (`round(x·10⁶)` longs), then `y_j = Σ_i vi[i]·sign(i,j)`
  * for j ∈ [0, pDims) — as ONE fused two-pass primitive loop per row,
  * emitting `array<long>` of exact projection cells.
  *
  * The pre-ANN shrink kernel: the HOF formulation
  * (`transform(sequence)` over `aggregate(zip_with)` per cell, with the
  * integerizing `transform` inlined 3× by CollapseProject) is
  * interpreted element-at-a-time — and any plan that evaluates it more
  * than once per row (a range-sort sampling pass, an inferred
  * `size > 0` filter under a Generate) multiplies that cost. This
  * kernel is O(pDims·d) primitive arithmetic per row with the
  * integerization hoisted into a long[] first pass.
  *
  * Bit-identical to the HOF form (`Embeddings.projExprHof`,
  * spec-pinned in EmbeddingsSpec):
  *   - integerization is `round(x·10⁶)` where Spark's `round` is
  *     BigDecimal HALF_UP over the shortest-decimal string — agrees
  *     with half-away-from-zero on every double (the Int8QuantizeCodes
  *     scaladoc's argument), so the kernel uses half-away-from-zero;
  *   - the sign is the middle-square hash: `h = (i·7919 + j·104729 +
  *     12345) mod 2²¹`, `sign = 1 − 2·(bit₈(h²) xor bit₂₇(h²))` — pure
  *     long arithmetic, identical on every engine;
  *   - a null ELEMENT nulls every cell (the HOF's `acc + null` — each
  *     cell sums all elements);
  *   - an EMPTY vector projects to the zero vector (the hoisted guard);
  *   - a null vector is null (UnaryExpression default; the HOF's
  *     explicit isNull branch mirrors this).
  */
case class JlProject(child: Expression, pDims: Int)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, s"an array<float|double> input and pDims > 0 (pDims=$pDims)")(
      t => pDims > 0 && t.forall(KernelCall.isVector))

  @transient private lazy val isFloat = KernelCall.floatElements(child)

  /** Data-independent ±1 sign table for cells (i, j), built LAZILY to
    * the longest vector seen and published via volatile (the
    * expression instance is shared across an executor's tasks through
    * the codegen references array). The per-cell hash depends only on
    * (i, j), so recomputing it per ROW on the hot pre-ANN shrink scan
    * was ~d·pDims wasted integer ops per row (r19 review finding —
    * [[NearestCentroid]] already uses this precompute shape); the
    * table is d×pDims bytes (8 KB at 512×16, L1-resident) and growth
    * races rebuild identical content, so lost updates are harmless. */
  @transient @volatile private var signCache: Array[Byte] =
    Array.emptyByteArray

  private def signTable(n: Int): Array[Byte] = {
    // null-safe: @transient leaves the field null after deserialization
    // on an executor, not at its initializer value
    var t = signCache
    if (t == null || t.length < n * pDims) synchronized {
      t = signCache
      if (t == null || t.length < n * pDims) {
        val nt = new Array[Byte](n * pDims)
        var i = 0
        while (i < n) {
          var j = 0
          while (j < pDims) {
            val h = (i.toLong * 7919L + j.toLong * 104729L + 12345L) %
              2097152L
            val g = h * h
            nt(i * pDims + j) =
              (1L - 2L * (((g >> 8) & 1L) ^ ((g >> 27) & 1L))).toByte
            j += 1
          }
          i += 1
        }
        signCache = nt
        t = nt
      }
    }
    t
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(arr: ArrayData): ArrayData = {
    val f = isFloat
    val n = arr.numElements()
    if (n == 0) return ArrayData.toArrayData(new Array[Long](pDims))
    val vi = new Array[Long](n)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) {
      if (arr.isNullAt(i)) hasNull = true
      else vi(i) = GraftMath.roundAway(KernelCall.at(arr, i, f) * 1000000.0).toLong
      i += 1
    }
    if (hasNull) {
      // each cell sums every element, so one null element nulls ALL cells
      new GenericArrayData(new Array[Any](pDims))
    } else {
      val signs = signTable(n)
      val out = new Array[Long](pDims)
      var j = 0
      while (j < pDims) {
        var sum = 0L
        i = 0
        while (i < n) {
          sum += vi(i) * signs(i * pDims + j)
          i += 1
        }
        out(j) = sum
        j += 1
      }
      ArrayData.toArrayData(out)
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): JlProject = copy(child = newChild)

  override def prettyName: String = "jl_project"
}
