package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused argmax-dot centroid assignment: for an `array<float|double>`
  * row vector and a fixed k×d centroid matrix, returns the index of the
  * max-dot-product centroid in ONE fused k·d loop per row.
  *
  * Why not compose it from built-ins? The previous formulation —
  * `array(cos(v, c₀) … cos(v, cₖ₋₁))` then
  * `array_position(scores, array_max(scores))` — builds a k-element
  * intermediate array per row and, once the two projections collapse,
  * evaluates the k-cosine array expression for BOTH consumers; with
  * 512-d vectors that measured ~2× the arithmetic plus an allocation
  * and a boxed array walk per row, on the hottest scan of the IVF build
  * (every corpus row, every ingest). The fused expression does the k·d
  * multiply-adds straight out of the row's ArrayData with no
  * intermediate, exactly the preference order the charter names for
  * per-row kernels Spark can't express natively.
  *
  * Semantics (pinned by VectorFunctionsSpec against the composed
  * formulation, and by SimilaritySpec's max-dot sample check):
  *   - centroids are expected UNIT-NORM (as [[graft.operators.Similarity]]
  *     produces them), so argmax dot ≡ argmax cosine for every non-zero
  *     row — the row's own norm is a positive constant across centroids;
  *   - ties break to the FIRST max index (strict `>` over ascending c),
  *     matching `array_position`'s first-match contract;
  *   - a zero-norm row dots 0 against every centroid and lands on
  *     centroid 0 — the same deterministic bucket the old
  *     `nanvl(cos, -2)` guard chose;
  *   - null ELEMENTS contribute 0 (as [[CosineSimilarity]] does);
  *   - a null ARRAY yields null (UnaryExpression default);
  *   - a row shorter than d dots over its common prefix.
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with KernelCall {
  require(centroids.nonEmpty, "NearestCentroid requires at least one centroid")
  require(centroids.forall(_.length == centroids.head.length),
    "NearestCentroid requires centroids of uniform dimension")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "an array<float|double> input")(_.forall(KernelCall.isVector))

  @transient private lazy val isFloat = KernelCall.floatElements(child)
  @transient private lazy val dim = centroids.head.length
  /** Row-major k×d matrix; a flat primitive array, so the kernel indexes
    * it without boxing. */
  @transient private lazy val flatMatrix: Array[Double] = centroids.flatten.toArray

  override protected def nullSafeEval(a: Any): Any =
    kernel(a.asInstanceOf[ArrayData])

  def kernel(arr: ArrayData): Int = {
    val f = isFloat
    val d = dim
    val mat = flatMatrix
    val n = math.min(arr.numElements(), d)
    var best = 0
    var bestDot = Double.NegativeInfinity
    var base = 0
    while (base < mat.length) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        val x = if (arr.isNullAt(j)) 0.0 else KernelCall.at(arr, j, f)
        dot += x * mat(base + j)
        j += 1
      }
      if (dot > bestDot) { bestDot = dot; best = base / d }
      base += d
    }
    best
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroid = copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}
