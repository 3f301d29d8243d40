package graft.facade

import org.apache.spark.{Partitioner, SparkEnv}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.SerializationStream

import scala.collection.mutable
import scala.reflect.ClassTag

/** Reference-faithful partitioner: route by the ASCII value of the key's
  * first character, modulo the reducer count, with the reference's
  * `0 → R` remap (its reducers are 1-indexed; Spark partitions are
  * 0-indexed, so reference reducer i becomes partition i-1).
  *
  * Reference: thread_pool.cc:121-134 — `ascii(key[0]) % num_reducers`,
  * remap at :127-132. Like the reference, this is NOT a general hash (only
  * the first byte participates), so it skews at scale; it exists to
  * reproduce the reference's exact output-file assignment. Production jobs
  * should pass a `HashPartitioner` instead — [[MapReduceJob.run]] takes
  * any [[org.apache.spark.Partitioner]].
  */
class FirstCharPartitioner(numReducers: Int) extends Partitioner {
  require(numReducers > 0, s"numReducers must be positive: $numReducers")
  override def numPartitions: Int = numReducers
  override def getPartition(key: Any): Int = {
    val s = key.toString
    require(s.nonEmpty, "FirstCharPartitioner cannot route an empty key " +
      "(the reference crashes on key.at(0) here too — thread_pool.cc:125)")
    FirstCharPartitioner.reducerOf(s.charAt(0), numReducers)
  }
  override def equals(other: Any): Boolean = other match {
    case p: FirstCharPartitioner => p.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = numPartitions
}

private[graft] object FirstCharPartitioner {
  /** The partition of a key whose first char is `first`, of `numReducers`. */
  def reducerOf(first: Char, numReducers: Int): Int = {
    val m = first.toInt % numReducers
    (if (m == 0) numReducers else m) - 1
  }
}

/** The MapReduce facade: the reference's pipeline —
  * map + in-map combine → partition → shuffle → sort → group-reduce
  * (thread_pool.cc: MapFunction :76-110, PartitionFunction :121-134,
  * SortFunction :199-202, GroupReduceFunction :204-230) — re-expressed
  * as one RDD chain.
  *
  * Design notes for scale (this is what the reference's design could not
  * do):
  *   - The shuffle is a sorted-run shuffle, the reference's own shape:
  *     there every mapper writes one intermediate file per reducer,
  *     `<job>-<mapperRank>-p<reducerID>.tmp` (thread_pool.cc:144-160), and
  *     the reducer sorts what it reads. Here each combiner flush is
  *     sorted by `Ordering[K2]` on the map side and written as one encoded
  *     byte run per reducer it holds keys of; the map task emits
  *     `(reducerId, run)` records, so the shuffle carries at most
  *     map tasks × flushes × reducers records, however many pairs they
  *     hold. The reducer merges its runs instead of sorting pairs.
  *   - Spark's shuffle moves the runs (fetch, compression, re-execution
  *     of a lost map output); the reference's `.tmp`-files-over-NFS
  *     transport is not ported.
  *   - The in-map combiner is bounded, not the reference's O(n·distinct)
  *     linear-searched parallel arrays: a flush holds at most
  *     `maxCombinerEntries` keys, keeping memory bounded regardless of
  *     input size. [[run]] combines with a hash map, for any key type;
  *     with no `combineFn` a flush is a buffer of at most
  *     `maxCombinerEntries` mapped pairs. It writes its runs through
  *     `SparkEnv.get.serializer` streams.
  *   - [[MapReduceJob.wordCount]] combines with [[WordCombiner]], which
  *     keeps no object per word (one char arena, primitive arrays) and
  *     writes its runs straight from the arena in a varint codec, so its
  *     map side makes no object per key either.
  *   - One tail, shared by [[run]] and [[MapReduceJob.wordCount]]: a k-way
  *     heap merge of the partition's runs by `Ordering[K2]` (reference
  *     SortFunction), then a stream over groups of consecutive equal
  *     keys into `reduceFn`. The merge holds runs in memory up to a fixed
  *     budget and spills the rest to a task-local temp file, so a single
  *     reducer partition larger than memory still works.
  *
  * @param mapFn     (K1,V1) → intermediate (K2,V2) pairs (reference MapFunction)
  * @param reduceFn  key + all values → output values (reference GroupReduceFunction)
  * @param combineFn optional associative pre-aggregation (reference's in-map
  *                  combining, thread_pool.cc:90-98)
  * @param maxCombinerEntries keys (pairs, with no `combineFn`) a flush
  *                  holds; positive
  */
class MapReduceJob[K1, V1, K2: ClassTag: Ordering, V2: ClassTag](
    mapFn: (K1, V1) => IterableOnce[(K2, V2)],
    reduceFn: (K2, Iterator[V2]) => IterableOnce[(K2, V2)],
    combineFn: Option[(V2, V2) => V2] = None,
    maxCombinerEntries: Int = MapReduceJob.MaxCombinerEntries) extends Serializable {
  require(maxCombinerEntries > 0,
    s"maxCombinerEntries must be positive: $maxCombinerEntries")

  def run(input: RDD[(K1, V1)], partitioner: Partitioner): RDD[(K2, V2)] =
    MapReduceJob.mergeReduce(
      input.mapPartitions { it =>
        flushes(it.flatMap { case (k, v) => mapFn(k, v) })
          .flatMap(MapReduceJob.serializedRuns(_, partitioner))
      },
      partitioner.numPartitions, MapReduceJob.readSerialized[K2, V2], reduceFn)

  /** The map side's flushes, each sorted by `Ordering[K2]`. Emitting
    * partial sums early is correct because reduceFn re-merges per key. */
  private def flushes(mapped: Iterator[(K2, V2)]): Iterator[Array[(K2, V2)]] =
    new Iterator[Array[(K2, V2)]] {
      def hasNext: Boolean = mapped.hasNext
      def next(): Array[(K2, V2)] = {
        if (!hasNext) throw new NoSuchElementException("no pairs left to flush")
        val flush = combineFn match {
          case None =>
            val buf = mutable.ArrayBuffer.empty[(K2, V2)]
            while (buf.size < maxCombinerEntries && mapped.hasNext) buf += mapped.next()
            buf.toArray
          case Some(merge) =>
            val buf = mutable.HashMap.empty[K2, V2]
            while (buf.size < maxCombinerEntries && mapped.hasNext) {
              val (k, v) = mapped.next()
              buf.update(k, buf.get(k).fold(v)(merge(_, v)))
            }
            buf.toArray
        }
        java.util.Arrays.sort(flush, Ordering.by[(K2, V2), K2](_._1))
        flush
      }
    }
}

object MapReduceJob {

  /** The in-map combiner's default bound, in keys. */
  private[graft] val MaxCombinerEntries = 1 << 20

  /** Reference phases 4-7 (shuffle, sort, group-reduce) over the map
    * side's `(reducerId, run)` records, the tail that [[MapReduceJob.run]]
    * and [[wordCount]] share: a pass-through shuffle to the reducer each
    * run names, a merge of each reducer's runs ([[Runs.merge]], runs
    * decoded by `decode`), then a streaming group-reduce over groups of
    * equal keys. */
  private def mergeReduce[K2: Ordering, V2](runs: RDD[(Int, Array[Byte])],
      numReducers: Int, decode: RunInput => Iterator[(K2, V2)],
      reduceFn: (K2, Iterator[V2]) => IterableOnce[(K2, V2)]): RDD[(K2, V2)] =
    new ShuffledRDD[Int, Array[Byte], Array[Byte]](runs, new Runs.PassThrough(numReducers))
      .mapPartitions { it =>
        val in = Runs.merge(it.map(_._2), decode).buffered
        new Iterator[(K2, V2)] {
          private var out: Iterator[(K2, V2)] = Iterator.empty
          private def advance(): Unit = {
            while (!out.hasNext && in.hasNext) {
              val key = in.head._1
              val values = new Iterator[V2] {
                def hasNext: Boolean =
                  in.hasNext && in.head._1 == key
                def next(): V2 = in.next()._2
              }
              out = reduceFn(key, values).iterator
              // reduceFn may not consume every value; drain the run.
              while (values.hasNext) values.next()
            }
          }
          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): (K2, V2) = { advance(); out.next() }
        }
      }

  /** One run per partition that `flush` holds keys of, in flush order,
    * each written through its own `SparkEnv.get.serializer` stream. */
  private def serializedRuns[K: ClassTag, V: ClassTag](flush: Array[(K, V)],
      partitioner: Partitioner): Iterator[(Int, Array[Byte])] = {
    val ser = SparkEnv.get.serializer.newInstance()
    val bufs = new Array[RunBuffer](partitioner.numPartitions)
    val streams = new Array[SerializationStream](partitioner.numPartitions)
    flush.foreach { case (k, v) =>
      val p = partitioner.getPartition(k)
      if (streams(p) == null) {
        bufs(p) = new RunBuffer
        streams(p) = ser.serializeStream(bufs(p))
      }
      streams(p).writeKey(k).writeValue(v)
    }
    streams.indices.collect { case p if streams(p) != null =>
      streams(p).close()
      (p, bufs(p).toByteArray)
    }.iterator
  }

  /** The pairs of a [[serializedRuns]] run. */
  private def readSerialized[K, V](in: RunInput): Iterator[(K, V)] =
    SparkEnv.get.serializer.newInstance().deserializeStream(in)
      .asKeyValueIterator.asInstanceOf[Iterator[(K, V)]]

  /** Writes `key value\n` per record, UTF-8 whatever the JVM's default
    * charset, without building a line per record. */
  private def writeRecords[K2, V2](out: java.io.OutputStream,
      it: Iterator[(K2, V2)]): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      out, java.nio.charset.StandardCharsets.UTF_8))
    try it.foreach { case (k, v) =>
      w.write(String.valueOf(k)); w.write(' ')
      w.write(String.valueOf(v)); w.write('\n')
    } finally w.close()
  }

  /** Write reducer output in the reference's final layout
    * (thread_pool.cc:232-242): one text file `<job>-<reducerID>.out` per
    * reducer partition, lines `key value\n`, reducer IDs 1-based
    * (reference reducer i = Spark partition i-1, matching
    * [[FirstCharPartitioner]]). Each task writes its own partition's file
    * — the same shape as the reference, where every reducer writes its
    * own `.out` — replacing any existing file (CleanExistingFile,
    * thread_pool.cc:245-256).
    *
    * Commit protocol: each task attempt writes a private temp file and
    * atomically renames it into place on success, so a retried or
    * speculative attempt can never interleave partial writes with
    * another attempt of the same partition — the last completed attempt
    * wins with a complete file either way. (This is the minimal form of
    * the output-committer dance `rdd.saveAsTextFile` does; at cluster
    * scale the same per-partition pattern targets the distributed FS
    * client, with part-NNNNN names instead of the reference's.) */
  def writeReferenceLayout[K2, V2](rdd: RDD[(K2, V2)], outDir: String,
      jobName: String): Unit = {
    new java.io.File(outDir).mkdirs()
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val ctx = org.apache.spark.TaskContext.get()
      val attempt = if (ctx == null) 0L else ctx.taskAttemptId()
      val dir = new java.io.File(outDir)
      val tmp = new java.io.File(dir, s".$jobName-${pid + 1}.out.$attempt.tmp")
      try {
        writeRecords(new java.io.FileOutputStream(tmp, false), it)
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(dir, s"$jobName-${pid + 1}.out").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally
        // a failed/killed attempt must not leave its private temp file
        // behind (no-op after a successful rename)
        java.nio.file.Files.deleteIfExists(tmp.toPath)
      Iterator.single(pid)
    }.count() // force the write job
  }

  /** [[writeReferenceLayout]] against any Hadoop `FileSystem` — the
    * cluster-scale form of the same layout: pass `hdfs://…`, `s3a://…`,
    * or `file://…` and each reducer task writes `<job>-<reducerID>.out`
    * through the distributed FS client instead of a task-local
    * `java.io.File`. The commit protocol is preserved: a private
    * per-attempt temp file, then a RENAME-commit via
    * `FileContext.rename(OVERWRITE)` — atomic on HDFS, so a retried or
    * speculative attempt still can't publish a partial file; the last
    * completed attempt wins with a complete file. The `FileSystem` is
    * resolved from the path URI on each executor (cluster site configs
    * come from the executor classpath, the standard Hadoop mechanism —
    * no driver-side Configuration needs shipping for path-default FSes).
    * Output bytes are identical to the local variant (pinned by
    * FacadeSpec). */
  def writeReferenceLayoutHadoop[K2, V2](rdd: RDD[(K2, V2)], outDir: String,
      jobName: String): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    {
      val dir = new Path(outDir)
      dir.getFileSystem(rdd.sparkContext.hadoopConfiguration).mkdirs(dir)
    }
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val ctx = org.apache.spark.TaskContext.get()
      val attempt = if (ctx == null) 0L else ctx.taskAttemptId()
      val conf = new org.apache.hadoop.conf.Configuration()
      val dir = new Path(outDir)
      val fs = dir.getFileSystem(conf)
      val tmp = new Path(dir, s".$jobName-${pid + 1}.out.$attempt.tmp")
      try {
        writeRecords(fs.create(tmp, true), it)
        FileContext.getFileContext(dir.toUri, conf).rename(
          tmp, new Path(dir, s"$jobName-${pid + 1}.out"),
          Options.Rename.OVERWRITE)
      } finally
        // a failed/killed attempt must not leave its private temp file
        // behind (no-op after a successful rename)
        fs.delete(tmp, false)
      Iterator.single(pid)
    }.count() // force the write job
  }

  /** Parse the reference's locality config — `chunkID nodeID` pairs —
    * including its out-of-range fold `nodeID %= workers` with
    * `0 → workers` (ReadLocalityConfigFile, thread_pool.cc:3-19,
    * fold at :11-14). */
  def parseLocalityConfig(lines: IterableOnce[String],
      workers: Int): Seq[(Int, Int)] =
    lines.iterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val parts = l.split("\\s+")
      val chunk = parts(0).toInt
      var node = parts(1).toInt
      if (node > workers) {
        node %= workers
        if (node == 0) node = workers
      }
      (chunk, node)
    }.toSeq

  /** Input RDD carrying the reference's INTENDED locality semantics:
    * chunk c prefers the host of its configured node, consumed by Spark's
    * delay scheduling. This models what GetNextDataAndRemove was meant to
    * do (thread_pool.cc:28-44 — greedy match of a chunk's nodeID to the
    * requesting rank); the reference call-site bug that degrades it to
    * FIFO (mapreduce.cc:160 passes the jobtracker's own rank) is
    * deliberately not ported. Chunk IDs are 1-based like the reference's. */
  def inputWithLocality[T: ClassTag](sc: org.apache.spark.SparkContext,
      chunks: Seq[T], locality: Seq[(Int, Int)],
      hostOf: Int => String): RDD[T] = {
    val byChunk = locality.toMap
    sc.makeRDD(chunks.zipWithIndex.map { case (c, i) =>
      (c, byChunk.get(i + 1).map(n => Seq(hostOf(n))).getOrElse(Seq.empty))
    })
  }

  /** Word count through the facade — the reference's one job, end to end,
    * and one Spark job. Tokenization matches MapFunction
    * (thread_pool.cc:87-101): words are the runs of non-space characters
    * between single spaces; the reference's appended trailing `" "`
    * (thread_pool.cc:58) exists so its last token is counted — the scan
    * counts it naturally, and empty tokens (which crash the reference's
    * partitioner) are dropped. The map side is [[WordCombiner]], flushed
    * at [[MaxCombinerEntries]] keys into one sorted run per reducer of
    * [[FirstCharPartitioner]]'s assignment.
    */
  def wordCount(lines: RDD[String], numReducers: Int): RDD[(String, Long)] =
    wordCount(lines, numReducers, MaxCombinerEntries)

  /** [[wordCount]] with its combiner flushed at `maxEntries` keys. */
  private[graft] def wordCount(lines: RDD[String], numReducers: Int,
      maxEntries: Int): RDD[(String, Long)] = {
    require(numReducers > 0, s"numReducers must be positive: $numReducers")
    mergeReduce[String, Long](
      lines.mapPartitions(WordCombiner.runs(_, maxEntries, numReducers)),
      numReducers, WordCombiner.readRun, (word, counts) => Iterator((word, counts.sum)))
  }
}
