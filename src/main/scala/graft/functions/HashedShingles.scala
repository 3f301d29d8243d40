package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression producing a document's distinct word
  * n-gram shingles as 64-bit hashes (`hashed_shingles(text, n)`) — the
  * corpus-scan kernel of the whole dedup family (n-gram Jaccard,
  * MinHash-LSH, incremental dedup, the histograms all start here).
  *
  * Why an `Expression` and not the Scala UDF it replaces (the charter's
  * preference order): the UDF path pays, per row, a UTF8String→String
  * copy, a `String.split` that allocates one String per word, a
  * `getBytes` copy per word to feed the hasher, boxing into
  * `Seq[Long]`, and the UDF converter back to Catalyst. This kernel
  * walks the UTF8String's OWN bytes: words are maximal runs of
  * non-0x20 bytes (in UTF-8, 0x20 never occurs inside a multi-byte
  * code point, so byte-splitting equals the UDF's `split(" ")` +
  * non-empty filter exactly), each word is XXH64-hashed IN PLACE over
  * its byte range, n-gram hashes chain the word hashes with
  * `XXH64.hashLong`, and first-occurrence distinctness runs through a
  * primitive open-addressing table — zero per-word allocation, output
  * written once into the result array. Bit-identical to the UDF it
  * replaces (same tokenization, same hash chain, same ordering), pinned
  * by DedupSpec.
  *
  * Null/short semantics: null text and docs shorter than n words yield
  * an EMPTY array (`nullable = false`) — the dedup pipelines treat both
  * as "can never pair", and `size(shingles)` must be 0, not -1, for the
  * Jaccard size arithmetic.
  */
case class HashedShingles(child: Expression, n: Int,
    distinct: Boolean = true)
    extends UnaryExpression with KernelCall {

  require(n >= 1, "shingle width n must be ≥ 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "a string input")(_ == Seq(StringType))

  override protected def kernelSeesNull: Boolean = true

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[UTF8String])

  /** Null-tolerant: null → empty array.
    *
    * `distinct = false` is the POSITIONAL mode (round 13, feeding
    * span-level dedup): one hash per shingle START in token order, so
    * `posexplode` over the result yields (position, shingle) pairs
    * directly — the distinct table is skipped entirely and the output
    * length is exactly `nw − n + 1`. */
  def kernel(s: UTF8String): ArrayData = {
    import HashedShingles.{Empty, Seed, Space}
    if (s == null) return Empty
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    // pass 1: hash each space-delimited word in place
    var wh = new Array[Long](math.max(8, len / 6))
    var nw = 0
    var i = 0
    while (i < len) {
      while (i < len && Platform.getByte(base, off + i) == Space) i += 1
      if (i < len) {
        val start = i
        while (i < len && Platform.getByte(base, off + i) != Space) i += 1
        if (nw == wh.length) wh = java.util.Arrays.copyOf(wh, nw * 2)
        wh(nw) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        nw += 1
      }
    }
    if (nw < n) return Empty
    val m = nw - n + 1
    if (!distinct) {
      // positional mode: every start, in order — no dedup table
      val out = new Array[Long](m)
      var k = 0
      while (k < m) {
        var h = Seed
        var j = 0
        while (j < n) { h = XXH64.hashLong(wh(k + j), h); j += 1 }
        out(k) = h
        k += 1
      }
      return new GenericArrayData(out)
    }
    // pass 2: chain n word hashes per shingle; first-occurrence distinct
    // via a primitive open-addressing table (no boxing, no HashSet)
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](m)
    var outN = 0
    var k = 0
    while (k < m) {
      var h = Seed
      var j = 0
      while (j < n) { h = XXH64.hashLong(wh(k + j), h); j += 1 }
      var idx = (h ^ (h >>> 32)).toInt & mask
      while (used(idx) && table(idx) != h) idx = (idx + 1) & mask
      if (!used(idx)) {
        used(idx) = true; table(idx) = h
        out(outN) = h; outN += 1
      }
      k += 1
    }
    new GenericArrayData(
      if (outN == m) out else java.util.Arrays.copyOf(out, outN))
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)

  override def prettyName: String = "hashed_shingles"
}

object HashedShingles {
  private val Seed = 42L
  private val Space = ' '.toByte
  private val Empty = new GenericArrayData(Array.emptyLongArray)
}
