package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k-by-score aggregate — the missing Spark primitive for
  * "k best rows PER GROUP" at scale.
  *
  * The composed alternatives all break at 100 TB: a `Window.partitionBy
  * (group).orderBy(score)` buffers and sorts EVERY group row in one
  * window partition (corpus-sized for a brute-force ANN group), and
  * `collect_list` + slice carries the whole group through the shuffle.
  * This aggregate's state never exceeds `4k` entries: partial
  * aggregation runs on the map side, so each shuffle partition emits at
  * most k entries per group, and merge is k-bounded too — the classic
  * bounded-heap combine. The charter's extension-preference order names
  * exactly this: a custom Catalyst aggregate beats composed built-ins
  * when the built-ins can't bound their state.
  *
  * Ordering is (score DESC, id ASC) — ties break on the id so results
  * are deterministic and cross-engine reproducible. NaN scores (e.g.
  * cosine of a zero-norm embedding) are unrankable and skipped, as
  * [[graft.operators.Retrieval]]'s single-query cut skips them too.
  * Null score or id rows are skipped (aggregate-input convention).
  *
  * Result: `array<struct<score: double, id: bigint>>`, best-first,
  * length ≤ k.
  */
object TopKByScore {

  /** Flat parallel-array buffer; compacted to the k best (by sort) only
    * when it hits 4k entries, amortizing the O(n log n) over 3k inserts. */
  final class Buffer(val k: Int) {
    var scores = new Array[Double](math.max(4 * k, 8))
    var ids = new Array[Long](scores.length)
    var size = 0

    def insert(score: Double, id: Long): Unit = {
      if (size == scores.length) compact()
      scores(size) = score
      ids(size) = id
      size += 1
    }

    /** Keep only the k best (score desc, id asc). */
    def compact(): Unit = if (size > k) {
      val idx = Array.range(0, size).sortBy(i => (-scores(i), ids(i)))
      val ns = new Array[Double](scores.length)
      val ni = new Array[Long](ids.length)
      var j = 0
      while (j < k) { ns(j) = scores(idx(j)); ni(j) = ids(idx(j)); j += 1 }
      scores = ns; ids = ni; size = k
    }
  }

  /** Column-API entry point: `topKByScore(score, id, k)` inside an
    * `agg(...)`. */
  def apply(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKByScoreAgg(GraftColumnBridge.expression(score),
        GraftColumnBridge.expression(id), k).toAggregateExpression())
}

case class TopKByScoreAgg(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByScore.Buffer]
    with ImplicitCastInputTypes
    with BinaryLike[Expression] {
  require(k > 0, s"topKByScore requires k > 0, got $k")

  /** Analysis auto-casts a float score / int id up to these, so a
    * `top_k_by_score(float_col, int_col, k)` call works instead of
    * ClassCastException-ing in `update` at runtime. (Return type
    * narrowed to Seq[DataType]: AbstractDataType is private[sql].) */
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKByScore.Buffer =
    new TopKByScore.Buffer(k)

  override def update(buf: TopKByScore.Buffer,
      input: InternalRow): TopKByScore.Buffer = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null) {
      val sv = s.asInstanceOf[Double]
      if (!java.lang.Double.isNaN(sv))
        buf.insert(sv, i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKByScore.Buffer,
      other: TopKByScore.Buffer): TopKByScore.Buffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKByScore.Buffer): Any = {
    buf.compact()
    val idx = Array.range(0, buf.size).sortBy(i => (-buf.scores(i), buf.ids(i)))
    new GenericArrayData(idx.map(i =>
      InternalRow(buf.scores(i), buf.ids(i))): Array[Any])
  }

  override def serialize(buf: TopKByScore.Buffer): Array[Byte] = {
    buf.compact() // ship at most k entries through the shuffle
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.scores(i)); out.writeLong(buf.ids(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByScore.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKByScore.Buffer(k)
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.insert(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByScoreAgg =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "top_k_by_score"
}
