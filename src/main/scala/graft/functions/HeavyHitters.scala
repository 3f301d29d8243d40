package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters aggregate — single-pass, bounded-memory
  * frequent-terms over a corpus-sized column
  * (`heavy_hitters(term, capacity)`).
  *
  * The exact formulation (`groupBy(term).count().orderBy(...)`) shuffles
  * one row PER DISTINCT TERM — a web-corpus vocabulary is 10⁸⁺ keys, and
  * the full count table exists only to be thrown away after the top
  * handful. This aggregate's state never exceeds `capacity` counters on
  * any side of the shuffle: map-side partials are Misra–Gries summaries,
  * and the merge is the Agarwal et al. "Mergeable Summaries" combine
  * (sum counters; if over capacity, subtract the (capacity+1)-th largest
  * count from all and drop the non-positive). Guarantees, with N = total
  * rows: every term with true frequency > N/(capacity+1) SURVIVES, and
  * every reported count is an UNDER-estimate by at most N/(capacity+1).
  *
  * Exactness property the oracle leans on: if the column's distinct
  * cardinality never exceeds `capacity` (in any partial), no decrement
  * ever fires and the output counts are EXACT — so a low-cardinality
  * query (per-language counts) is DuckDB-checkable while the same
  * operator runs approximately on an unbounded vocabulary. The spec pins
  * the survival + under-estimate guarantees on the approximate path.
  *
  * Result: `array<struct<term: string, count: bigint>>`, count desc then
  * term asc (deterministic), length ≤ capacity.
  *
  * Null terms are skipped (aggregate-input convention).
  */
object HeavyHitters {

  /** String-keyed Misra–Gries summary. The decrement step is O(size)
    * but fires at most once per `capacity` inserts of novel terms, so
    * update stays amortized O(1). */
  final class Buffer(val capacity: Int) {
    val counts = new java.util.HashMap[String, Long](capacity * 2)

    /** One Misra–Gries observation: increment a tracked term, insert
      * while capacity remains, otherwise decrement every counter by 1
      * (evicting zeros). The classic n=1 rule only — the sole caller is
      * update() with one row at a time (merge() goes through
      * [[reduceToCapacity]], never here), and the former general-n
      * decrement-and-recurse branch was untested dead generality. */
    def add(term: String): Unit = {
      val cur = counts.get(term)
      if (cur != 0L || counts.containsKey(term)) counts.put(term, cur + 1L)
      else if (counts.size < capacity) counts.put(term, 1L)
      else decrementAll(1L)
    }

    private def decrementAll(by: Long): Unit = {
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - by
        if (nv <= 0) it.remove() else e.setValue(nv)
      }
    }

    /** Mergeable-summaries reduction: keep the `capacity` largest, and
      * subtract the (capacity+1)-th largest from the survivors. */
    def reduceToCapacity(): Unit = if (counts.size > capacity) {
      val vals = new Array[Long](counts.size)
      val it = counts.values().iterator()
      var i = 0
      while (it.hasNext) { vals(i) = it.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(counts.size - capacity - 1) // (capacity+1)-th largest
      decrementAll(cut)
      // ties at the cut can leave > capacity survivors with positive
      // residue 0... no: survivors have value > cut strictly (== cut
      // went to 0 and was removed), so size ≤ capacity holds.
    }
  }

  /** Column-API entry point: `heavyHitters(term, capacity)` inside an
    * `agg(...)`. */
  def apply(term: Column, capacity: Int): Column =
    GraftColumnBridge.column(
      HeavyHittersAgg(GraftColumnBridge.expression(term), capacity)
        .toAggregateExpression())
}

case class HeavyHittersAgg(child: Expression, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[HeavyHitters.Buffer]
    with UnaryLike[Expression] {
  require(capacity > 0, s"heavy_hitters requires capacity > 0, got $capacity")

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "a string term column")(_ == Seq(StringType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("count", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): HeavyHitters.Buffer =
    new HeavyHitters.Buffer(capacity)

  override def update(buf: HeavyHitters.Buffer,
      input: InternalRow): HeavyHitters.Buffer = {
    val t = child.eval(input)
    if (t != null) buf.add(t.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: HeavyHitters.Buffer,
      other: HeavyHitters.Buffer): HeavyHitters.Buffer = {
    // Sum counters first (may transiently exceed capacity), then apply
    // the mergeable-summaries cut once — tighter than feeding the other
    // side through add() term by term.
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = buf.counts.get(e.getKey)
      buf.counts.put(e.getKey, cur + e.getValue)
    }
    buf.reduceToCapacity()
    buf
  }

  override def eval(buf: HeavyHitters.Buffer): Any = {
    val entries = new Array[(String, Long)](buf.counts.size)
    val it = buf.counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1
    }
    scala.util.Sorting.stableSort(entries,
      (a: (String, Long), b: (String, Long)) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    new GenericArrayData(entries.map { case (t, n) =>
      InternalRow(UTF8String.fromString(t), n) }: Array[Any])
  }

  override def serialize(buf: HeavyHitters.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HeavyHitters.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new HeavyHitters.Buffer(capacity)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val cnt = in.readLong()
      buf.counts.put(
        new String(b, java.nio.charset.StandardCharsets.UTF_8), cnt)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(
      newChild: Expression): HeavyHittersAgg = copy(child = newChild)

  override def prettyName: String = "heavy_hitters"
}
