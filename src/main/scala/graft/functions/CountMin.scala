package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch aggregate (`count_min(term, depth, width)`) — the
  * bounded-memory FREQUENCY POINT-QUERY summary (Cormode & Muthukrishnan
  * 2005), completing the sketch family next to Misra–Gries
  * ([[HeavyHitters]]: top-k membership), HyperLogLog (distinct count)
  * and the percentile sketch (quantiles): a CMS answers "how often did
  * KEY x occur" for ANY x after the fact, in depth×width longs of state
  * regardless of vocabulary size.
  *
  * Why this matters at 100 TB: the exact formulation
  * (`groupBy(term).count()` then look up the asked terms) shuffles and
  * materializes one row per DISTINCT key — 10⁸⁺ for a web-corpus
  * vocabulary — when the consumer only ever issues point queries
  * (per-term corpus frequencies for rarity scoring, stopword tables,
  * feature hashing stats). The sketch is a constant-size aggregate
  * state on EVERY side of the shuffle, and the merge is element-wise
  * addition — associative, commutative, partition-count-independent —
  * so map-side partial aggregation does almost all the work and the
  * final reduce touches depth×width longs per group.
  *
  * Guarantees (N = total counted rows): estimates NEVER underestimate
  * (each of the `depth` rows adds every occurrence of the key, plus
  * non-negative collision noise; the estimate takes the row MINIMUM),
  * and overestimate by more than 2N/width with probability ≤
  * (1/2)^depth per query — deterministic here for fixed seeds/data.
  * Exactness property the oracle gate leans on (the [[HeavyHitters]]
  * discipline): if no OTHER key collides with the probed key in at
  * least one row, the estimate is EXACT — so a small-vocabulary query
  * at width ≫ |vocab| is DuckDB-checkable (plain GROUP BY counts)
  * while the same operator runs approximately on an unbounded
  * vocabulary; the spec pins the never-underestimate bound on an
  * adversarial width-4 sketch where collisions are forced.
  *
  * Row hashes are XXH64 over the key's UTF-8 bytes with the row index
  * as seed — the same per-row-seed family the MinHash path uses, and
  * the reason [[CountMinEstimate]] reproduces the cell indices exactly.
  *
  * Result: `array<bigint>` of length depth×width, row-major — a plain
  * column value, so sketches can be stored, unioned across datasets
  * (element-wise `zip_with(+)` equals merging the aggregates), and
  * probed long after the scan via [[CountMinEstimate]].
  *
  * Null keys are skipped (aggregate-input convention).
  */
object CountMin {

  final class Buffer(val depth: Int, val width: Int) {
    val table = new Array[Long](depth * width)

    def add(s: UTF8String, n: Long): Unit = {
      var d = 0
      while (d < depth) {
        table(d * width + CountMin.cell(s, d, width)) += n
        d += 1
      }
    }
  }

  /** Cell index of `s` in hash row `d`: XXH64(bytes, seed = d) mod
    * width, sign-folded. Shared with [[CountMinEstimate]] — the two
    * MUST agree bit for bit. */
  def cell(s: UTF8String, d: Int, width: Int): Int = {
    val h = XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), d.toLong)
    java.lang.Math.floorMod(h, width.toLong).toInt
  }

  /** Column-API entry point: `CountMin(term, depth, width)` inside an
    * `agg(...)`. */
  def apply(term: Column, depth: Int, width: Int): Column =
    GraftColumnBridge.column(
      CountMinAgg(GraftColumnBridge.expression(term), depth, width)
        .toAggregateExpression())

  /** Point estimate of `term`'s count from a sketch column produced by
    * [[apply]] with the same (depth, width). */
  def estimate(sketch: Column, term: Column, depth: Int, width: Int): Column =
    GraftColumnBridge.column(CountMinEstimate(
      GraftColumnBridge.expression(sketch),
      GraftColumnBridge.expression(term), depth, width))

  /** JOIN-SIZE estimate from two sketches over the join key (Cormode &
    * Muthukrishnan §4.2): |A ⋈ B| = Σ_k cntA(k)·cntB(k), estimated as
    * `min_d Σ_w A[d][w]·B[d][w]` — the row-wise sketch inner product.
    * Never underestimates (collision terms are non-negative products),
    * overshoots by ~N_A·N_B/width in expectation. This is how a cost
    * model prices a join WITHOUT running it, from sketch statistics
    * maintained incrementally at ingest — the 100 TB alternative to
    * ANALYZE-scanning the table per query. Pure HOF arithmetic over the
    * two array columns (depth×width longs each). */
  def innerProduct(a: Column, b: Column, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    array_min(transform(sequence(lit(0), lit(depth - 1)), d =>
      aggregate(
        zip_with(
          slice(a, d * width + 1, lit(width)),
          slice(b, d * width + 1, lit(width)),
          (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)))
  }
}

case class CountMinAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CountMin.Buffer]
    with UnaryLike[Expression] {
  require(depth > 0 && width > 0,
    s"count_min requires depth > 0 and width > 0, got ($depth, $width)")

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "a string key column")(_ == Seq(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): CountMin.Buffer =
    new CountMin.Buffer(depth, width)

  override def update(buf: CountMin.Buffer,
      input: InternalRow): CountMin.Buffer = {
    val t = child.eval(input)
    if (t != null) buf.add(t.asInstanceOf[UTF8String], 1L)
    buf
  }

  override def merge(buf: CountMin.Buffer,
      other: CountMin.Buffer): CountMin.Buffer = {
    var i = 0
    val n = buf.table.length
    while (i < n) { buf.table(i) += other.table(i); i += 1 }
    buf
  }

  override def eval(buf: CountMin.Buffer): Any =
    new GenericArrayData(buf.table.clone())

  override def serialize(buf: CountMin.Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.table.length * 8)
    bb.asLongBuffer().put(buf.table)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CountMin.Buffer = {
    val buf = new CountMin.Buffer(depth, width)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf.table)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(
      newChild: Expression): CountMinAgg = copy(child = newChild)

  override def prettyName: String = "count_min"
}

/** Scalar point-query over a stored CMS: `min over rows d of
  * sketch[d·width + cell_d(term)]` — null if either input is null
  * (a null term has no count to ask for; nulls were skipped at build).
  * A sketch whose length is not depth×width fails the row. */
case class CountMinEstimate(sketch: Expression, term: Expression,
    depth: Int, width: Int)
    extends Expression with KernelCall {

  override def children: Seq[Expression] = Seq(sketch, term)

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "(array<bigint>, string)") {
      case Seq(s, StringType) => KernelCall.isLongs(s)
      case _ => false
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val sk = sketch.eval(input)
    val t = term.eval(input)
    if (sk == null || t == null) null
    else kernel(sk.asInstanceOf[ArrayData], t.asInstanceOf[UTF8String])
  }

  def kernel(arr: ArrayData, s: UTF8String): Long = {
    require(arr.numElements() == depth * width,
      s"sketch length ${arr.numElements()} != depth*width (${depth * width})")
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val v = arr.getLong(d * width + CountMin.cell(s, d, width))
      if (v < best) best = v
      d += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinEstimate =
    copy(sketch = newChildren(0), term = newChildren(1))

  override def prettyName: String = "count_min_estimate"
}
