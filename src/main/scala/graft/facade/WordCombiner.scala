package graft.facade

/** The word count's in-map combiner: an open-addressing table that keeps
  * no object per word.
  *
  *   - [[add]] scans a line by index for the runs of non-space characters
  *     (the words of `line.split(" ").filter(_.nonEmpty)`), hashing as it
  *     goes, and probes the table without allocating.
  *   - A new key's characters are appended to one char arena; its hash,
  *     arena offset and count live in primitive arrays. Entries are dense
  *     and in insertion order, so a key's length is the next key's offset
  *     minus its own.
  *   - [[flushRuns]] sorts the keys in `Ordering[String]` order (UTF-16
  *     code units, shorter first on a shared prefix) and writes each
  *     entry straight from the arena into the run of its key's reducer
  *     ([[FirstCharPartitioner.reducerOf]] on the key's first char), so a
  *     flush makes no `String`, tuple or boxed count per key. It empties
  *     the table, keeping its arrays for the next fill.
  *
  * The sort packs each key's leading characters and its entry index into
  * one `long` (characters as `c + 1` in just enough bits for the largest
  * character in the arena, 0 past the key's end) and sorts the `long`s;
  * only keys whose packed prefixes tie are compared in full. Prefix order
  * implies key order, so the result is the full-key order.
  *
  * @param maxEntries keys the table holds before it is [[full]]; positive
  */
private[graft] final class WordCombiner(maxEntries: Int) {
  require(maxEntries > 0, s"maxEntries must be positive: $maxEntries")

  private var arena = new Array[Char](1 << 12)
  /** Entry `j`'s key is `arena(starts(j) until starts(j + 1))`. */
  private var starts = new Array[Int](WordCombiner.InitialEntries + 1)
  private var hashes = new Array[Int](WordCombiner.InitialEntries)
  private var counts = new Array[Long](WordCombiner.InitialEntries)
  /** Entry index + 1 per slot; 0 is a free slot. */
  private var slots = new Array[Int](WordCombiner.InitialEntries * 2)
  private var shift = 32 - Integer.numberOfTrailingZeros(slots.length)
  private var n = 0

  def size: Int = n
  def full: Boolean = n >= maxEntries

  /** Counts the words of `line` from index `from` until the line ends or
    * the table is [[full]]; returns the index it stopped at (`line.length`
    * once the line is done). A table that fills mid-line takes no further
    * word, not even one it already holds, so a flush holds exactly the
    * keys of a prefix of the input. */
  def add(line: String, from: Int): Int = {
    val end = line.length
    var i = from
    while (i < end && n < maxEntries) {
      var c = line.charAt(i)
      if (c == ' ') i += 1
      else {
        val s = i
        var h = 0
        while (c != ' ') {
          h = 31 * h + c
          i += 1
          c = if (i < end) line.charAt(i) else ' '
        }
        count(line, s, i, h)
      }
    }
    i
  }

  private def count(line: String, s: Int, e: Int, h: Int): Unit = {
    val len = e - s
    var slot = (h * WordCombiner.Golden) >>> shift
    var ref = slots(slot)
    while (ref != 0) {
      val j = ref - 1
      if (hashes(j) == h && starts(j + 1) - starts(j) == len && sameKey(line, s, starts(j), len)) {
        counts(j) += 1
        return
      }
      slot = (slot + 1) & (slots.length - 1)
      ref = slots(slot)
    }
    if (n == hashes.length) growEntries()
    val at = starts(n)
    if (at + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, at + len))
    line.getChars(s, e, arena, at)
    hashes(n) = h
    counts(n) = 1
    starts(n + 1) = at + len
    n += 1
    slots(slot) = n
    if (n * 2 > slots.length) rehash()
  }

  private def sameKey(line: String, s: Int, at: Int, len: Int): Boolean = {
    var k = 0
    while (k < len && line.charAt(s + k) == arena(at + k)) k += 1
    k == len
  }

  private def growEntries(): Unit = {
    val cap = math.min(hashes.length.toLong * 2, maxEntries.toLong).toInt
    starts = java.util.Arrays.copyOf(starts, cap + 1)
    hashes = java.util.Arrays.copyOf(hashes, cap)
    counts = java.util.Arrays.copyOf(counts, cap)
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    shift -= 1
    val mask = slots.length - 1
    var j = 0
    while (j < n) {
      var slot = (hashes(j) * WordCombiner.Golden) >>> shift
      while (slots(slot) != 0) slot = (slot + 1) & mask
      slots(slot) = j + 1
      j += 1
    }
  }

  /** Writes the table's entries in key order into `runs`, each into
    * `runs(r)` for its key's reducer `r` of `runs.length`; empties the
    * table. Each run so receives its reducer's keys in key order. */
  def flushRuns(runs: Array[RunBuffer]): Unit = {
    val order = sortedEntries()
    var k = 0
    while (k < n) {
      val j = order(k)
      val s = starts(j)
      WordCombiner.writeEntry(runs(FirstCharPartitioner.reducerOf(arena(s), runs.length)),
        arena, s, starts(j + 1) - s, counts(j))
      k += 1
    }
    java.util.Arrays.fill(slots, 0)
    n = 0
  }

  /** Entry indexes in key order. */
  private def sortedEntries(): Array[Int] = {
    val used = starts(n)
    var maxChar = 0
    var k = 0
    while (k < used) { maxChar = math.max(maxChar, arena(k).toInt); k += 1 }
    val idxBits = math.max(1, 32 - Integer.numberOfLeadingZeros(n - 1))
    val charBits = 32 - Integer.numberOfLeadingZeros(maxChar + 1)
    // the sign bit stays clear, so signed order is prefix order
    val perKey = (63 - idxBits) / charBits
    val packed = new Array[Long](n)
    var j = 0
    while (j < n) {
      val s = starts(j)
      val len = starts(j + 1) - s
      var p = 0L
      var c = 0
      while (c < perKey) {
        p = (p << charBits) | (if (c < len) arena(s + c) + 1 else 0)
        c += 1
      }
      packed(j) = (p << idxBits) | j
      j += 1
    }
    java.util.Arrays.sort(packed)
    val idxMask = (1L << idxBits) - 1
    val order = new Array[Int](n)
    k = 0
    while (k < n) { order(k) = (packed(k) & idxMask).toInt; k += 1 }
    // keys whose packed prefixes tie: order them by the full key
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n && (packed(b) >>> idxBits) == (packed(a) >>> idxBits)) b += 1
      if (b - a > 1) sortByKey(order, a, b)
      a = b
    }
    order
  }

  private def sortByKey(order: Array[Int], from: Int, until: Int): Unit = {
    val run = java.util.Arrays.copyOfRange(order, from, until).map(Int.box)
    java.util.Arrays.sort(run, (x: Integer, y: Integer) => compareKeys(x, y))
    var k = 0
    while (k < run.length) { order(from + k) = run(k); k += 1 }
  }

  /** `String.compareTo` on two arena keys. */
  private def compareKeys(x: Int, y: Int): Int = {
    val xs = starts(x)
    val ys = starts(y)
    val xl = starts(x + 1) - xs
    val yl = starts(y + 1) - ys
    val m = math.min(xl, yl)
    var k = 0
    while (k < m && arena(xs + k) == arena(ys + k)) k += 1
    if (k < m) arena(xs + k) - arena(ys + k) else xl - yl
  }
}

private[graft] object WordCombiner {
  private val InitialEntries = 1 << 10
  /** Fibonacci hashing: the top bits of `h * Golden` pick the slot. */
  private val Golden = 0x9E3779B9

  /** Appends one entry to a word run: the key's length, each of its
    * chars, then its count, every one a varint (an ASCII char takes one
    * byte). Order is decided on the decoded chars, so the encoding
    * cannot change `Ordering[String]`. */
  def writeEntry(out: RunBuffer, chars: Array[Char], from: Int, len: Int, count: Long): Unit = {
    out.writeVarLong(len)
    var k = 0
    while (k < len) { out.writeVarLong(chars(from + k)); k += 1 }
    out.writeVarLong(count)
  }

  /** The entries of a word run ([[writeEntry]]), in the order written. */
  def readRun(in: RunInput): Iterator[(String, Long)] = new Iterator[(String, Long)] {
    private var chars = new Array[Char](64)
    def hasNext: Boolean = in.more
    def next(): (String, Long) = {
      val len = in.readVarLong().toInt
      if (len > chars.length) chars = new Array[Char](math.max(len, chars.length * 2))
      var k = 0
      while (k < len) { chars(k) = in.readVarLong().toChar; k += 1 }
      (new String(chars, 0, len), in.readVarLong())
    }
  }

  /** The runs of a [[WordCombiner]] bounded at `maxEntries` keys over
    * `lines`: per flush, one `(reducer, run)` for each of `numReducers`
    * reducers that the flush holds keys of. A flush is taken only when
    * the table is full or the input is done. */
  def runs(lines: Iterator[String], maxEntries: Int,
      numReducers: Int): Iterator[(Int, Array[Byte])] = {
    val bufs = Array.fill(numReducers)(new RunBuffer)
    fills(lines, maxEntries).flatMap { table =>
      table.flushRuns(bufs)
      bufs.indices.collect { case r if bufs(r).size > 0 =>
        val run = bufs(r).toByteArray
        bufs(r).reset()
        (r, run)
      }
    }
  }

  /** The flushes of [[runs]] with one reducer, decoded: each flush's keys
    * and counts in key order. */
  def flushes(lines: Iterator[String], maxEntries: Int): Iterator[Array[(String, Long)]] =
    runs(lines, maxEntries, 1).map { case (_, run) => readRun(new RunInput(run)).toArray }

  /** The table, each time it is full or the input is done and it holds
    * a key; the caller flushes it before asking for the next. */
  private def fills(lines: Iterator[String], maxEntries: Int): Iterator[WordCombiner] =
    new Iterator[WordCombiner] {
      private val table = new WordCombiner(maxEntries)
      private var line: String = null
      private var pos = 0
      def hasNext: Boolean = {
        while (!table.full && (line != null || lines.hasNext)) {
          if (line == null) { line = lines.next(); pos = 0 }
          pos = table.add(line, pos)
          if (pos == line.length) line = null
        }
        table.size > 0
      }
      def next(): WordCombiner =
        if (hasNext) table else Iterator.empty.next()
    }
}
