package graft.facade

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.{Partitioner, TaskContext}

import scala.collection.mutable

/** A growable byte buffer that one map-side run is written into: an
  * unsynchronized `OutputStream` (serializer streams write through it)
  * with the word codec's varint writer. [[reset]] keeps the array for
  * the next flush. */
private[graft] final class RunBuffer extends java.io.OutputStream {
  private var buf = new Array[Byte](1 << 12)
  private var n = 0

  def size: Int = n
  def reset(): Unit = n = 0
  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)

  private def ensure(more: Int): Unit =
    if (n + more > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + more))

  override def write(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(b, off, buf, n, len)
    n += len
  }

  /** `v` (non-negative) in 7-bit groups, low group first, the high bit
    * set on every byte but the last. */
  def writeVarLong(v: Long): Unit = {
    ensure(10)
    var x = v
    while ((x & ~0x7FL) != 0) { buf(n) = ((x & 0x7F) | 0x80).toByte; n += 1; x >>>= 7 }
    buf(n) = x.toByte
    n += 1
  }
}

/** One run's bytes as an unsynchronized `InputStream` with the word
  * codec's varint reader: the run's own array when it is held in memory,
  * else its `[from, until)` window of a spill file, read into a small
  * buffer by positional reads. */
private[graft] final class RunInput private (private var buf: Array[Byte],
    private var lim: Int, channel: FileChannel, private var at: Long, until: Long)
  extends java.io.InputStream {
  private var pos = 0

  def this(run: Array[Byte]) = this(run, run.length, null, 0L, 0L)
  def this(channel: FileChannel, from: Long, until: Long) =
    this(new Array[Byte](RunInput.SpillBuffer), 0, channel, from, until)

  /** Whether a byte is left in the run. */
  def more: Boolean = pos < lim || refill()

  private def refill(): Boolean = channel != null && at < until && {
    val bb = ByteBuffer.wrap(buf, 0, math.min(buf.length.toLong, until - at).toInt)
    while (bb.hasRemaining)
      if (channel.read(bb, at + bb.position()) < 0) throw new java.io.EOFException(
        s"spill file ends before its run (byte ${at + bb.position()} of $until)")
    at += bb.limit()
    pos = 0
    lim = bb.limit()
    true
  }

  override def read(): Int =
    if (more) { val b = buf(pos) & 0xFF; pos += 1; b } else -1

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0
    else if (!more) -1
    else {
      val k = math.min(len, lim - pos)
      System.arraycopy(buf, pos, b, off, k)
      pos += k
      k
    }

  /** The inverse of [[RunBuffer.writeVarLong]]. */
  def readVarLong(): Long = {
    var r = 0L
    var shift = 0
    var b = 0
    while ({
      b = read()
      if (b < 0) throw new java.io.EOFException("run ends inside a varint")
      r |= (b & 0x7FL) << shift
      shift += 7
      (b & 0x80) != 0
    }) ()
    r
  }
}

private object RunInput {
  /** Read-ahead of one spilled run. */
  val SpillBuffer = 1 << 15
}

/** The facade's sorted-run shuffle: a map task ships one encoded run per
  * (combiner flush, reducer) as a `(reducerId, run)` record, and each
  * reducer merges its runs. */
private[graft] object Runs {

  /** Routes a `(reducerId, run)` record to the reducer the map side
    * already chose. */
  final class PassThrough(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Bytes of runs a merge holds in memory; later runs spill. */
  val MergeBudget: Long = 64L << 20

  /** The entries of `runs`, each sorted by `Ordering[K]` and decoded by
    * `decode`, in one `Ordering[K]` order: a k-way merge on a binary heap
    * of the runs' heads, equal keys taken from the earlier run first.
    *
    * Runs are held in memory while their bytes total at most `budget`;
    * every later run is appended to one spill file under
    * `java.io.tmpdir` and read back through a small buffer. The file is
    * deleted when the merge is drained, or when the task completes,
    * whichever comes first. Every run is read before the first entry is
    * returned (each run's head takes part in the first comparison). */
  def merge[K, V](runs: Iterator[Array[Byte]], decode: RunInput => Iterator[(K, V)],
      budget: Long = MergeBudget)(implicit ord: Ordering[K]): Iterator[(K, V)] = {
    val inputs = mutable.ArrayBuffer.empty[RunInput]
    var spill: Spill = null
    var held = 0L
    try runs.foreach { r =>
      if (r.length > 0) {
        if (spill == null && held + r.length <= budget) {
          inputs += new RunInput(r)
          held += r.length
        } else {
          if (spill == null) spill = new Spill
          val (from, until) = spill.append(r)
          inputs += new RunInput(spill.channel, from, until)
        }
      }
    } catch { case e: Throwable => if (spill != null) spill.close(); throw e }
    new HeapMerge(inputs.iterator.map(decode).toArray, ord, spill)
  }

  /** One task's spill file, opened for append and positional reads. */
  private final class Spill {
    private val path: Path = Files.createTempFile("graft_merge_", ".runs")
    val channel: FileChannel = try FileChannel.open(path,
        StandardOpenOption.READ, StandardOpenOption.WRITE)
      catch { case e: Throwable => Files.deleteIfExists(path); throw e }
    private var end = 0L
    private var closed = false
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    /** Appends `run`; returns its `[from, until)` in the file. */
    def append(run: Array[Byte]): (Long, Long) = {
      val bb = ByteBuffer.wrap(run)
      while (bb.hasRemaining) channel.write(bb, end + bb.position())
      end += run.length
      (end - run.length, end)
    }

    def close(): Unit = synchronized {
      if (!closed) {
        closed = true
        try channel.close() finally Files.deleteIfExists(path)
      }
    }
  }

  private final class Cursor[K, V](val it: Iterator[(K, V)], val idx: Int) {
    var head: (K, V) = it.next()
  }

  private final class HeapMerge[K, V](its: Array[Iterator[(K, V)]], ord: Ordering[K],
      spill: Spill) extends Iterator[(K, V)] {
    private val heap: Array[Cursor[K, V]] =
      its.indices.filter(its(_).hasNext).map(i => new Cursor(its(i), i)).toArray
    private var n = heap.length
    (n / 2 - 1 to 0 by -1).foreach(siftDown)
    release()

    private def less(a: Cursor[K, V], b: Cursor[K, V]): Boolean = {
      val c = ord.compare(a.head._1, b.head._1)
      c < 0 || (c == 0 && a.idx < b.idx)
    }

    private def siftDown(from: Int): Unit = {
      val top = heap(from)
      var i = from
      var child = 2 * i + 1
      while (child < n) {
        if (child + 1 < n && less(heap(child + 1), heap(child))) child += 1
        if (less(heap(child), top)) {
          heap(i) = heap(child)
          i = child
          child = 2 * i + 1
        } else child = n
      }
      heap(i) = top
    }

    private def release(): Unit = if (n == 0 && spill != null) spill.close()

    def hasNext: Boolean = n > 0

    def next(): (K, V) = {
      if (n == 0) throw new NoSuchElementException("merge is drained")
      val top = heap(0)
      val out = top.head
      if (top.it.hasNext) top.head = top.it.next()
      else {
        n -= 1
        heap(0) = heap(n)
        heap(n) = null
      }
      if (n > 0) siftDown(0) else release()
      out
    }
  }
}
