package graft.facade

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

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
    val m = s.charAt(0).toInt % numReducers
    (if (m == 0) numReducers else m) - 1
  }
  override def equals(other: Any): Boolean = other match {
    case p: FirstCharPartitioner => p.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = numPartitions
}

/** The MapReduce facade: the reference's pipeline —
  * map + in-map combine → partition → shuffle → sort → group-reduce
  * (thread_pool.cc: MapFunction :76-110, PartitionFunction :121-134,
  * SortFunction :199-202, GroupReduceFunction :204-230) — re-expressed
  * as one RDD chain.
  *
  * Design notes for scale (this is what the reference's design could not
  * do):
  *   - The in-map combiner is bounded, not the reference's O(n·distinct)
  *     linear-searched parallel arrays. It spills nothing itself: it
  *     flushes when it holds `maxCombinerEntries` keys, keeping memory
  *     bounded regardless of input size. [[run]] combines with a hash
  *     map, for any key type.
  *   - [[MapReduceJob.wordCount]] combines with [[WordCombiner]], which
  *     keeps no object per word: it scans each line by index, keeps the
  *     keys in one char arena and their hashes, offsets and counts in
  *     primitive arrays, and makes a `String` only when a flush emits the
  *     key. It flushes at the same bound, so the shuffle carries the same
  *     records.
  *   - Each [[WordCombiner]] flush is emitted in key order (the reducer's
  *     `Ordering[String]`), so every reducer's sort receives a few sorted
  *     runs to merge rather than records in random order.
  *   - The shuffle is Spark's (sort-based, spillable, fault-tolerant) —
  *     the reference's `.tmp`-files-over-NFS shuffle is not ported.
  *   - One tail, shared by [[run]] and [[MapReduceJob.wordCount]]:
  *     `repartitionAndSortWithinPartitions` gives the reducer sorted input
  *     (reference SortFunction), and the reduce phase streams over groups
  *     of consecutive equal keys — no per-partition materialization, so a
  *     single reducer partition larger than memory still works.
  *
  * @param mapFn     (K1,V1) → intermediate (K2,V2) pairs (reference MapFunction)
  * @param reduceFn  key + all values → output values (reference GroupReduceFunction)
  * @param combineFn optional associative pre-aggregation (reference's in-map
  *                  combining, thread_pool.cc:90-98)
  * @param maxCombinerEntries keys the combiner holds before it flushes; positive
  */
class MapReduceJob[K1, V1, K2: ClassTag: Ordering, V2: ClassTag](
    mapFn: (K1, V1) => IterableOnce[(K2, V2)],
    reduceFn: (K2, Iterator[V2]) => IterableOnce[(K2, V2)],
    combineFn: Option[(V2, V2) => V2] = None,
    maxCombinerEntries: Int = MapReduceJob.MaxCombinerEntries) extends Serializable {
  require(maxCombinerEntries > 0,
    s"maxCombinerEntries must be positive: $maxCombinerEntries")

  def run(input: RDD[(K1, V1)], partitioner: Partitioner): RDD[(K2, V2)] = {
    val mapped = input.flatMap { case (k, v) => mapFn(k, v) }

    // In-map combine: bounded hash map, flushed on overflow. Emitting
    // partial sums early is correct because reduceFn re-merges per key.
    val combined = combineFn match {
      case None => mapped
      case Some(merge) => mapped.mapPartitions { it =>
        new Iterator[(K2, V2)] {
          private val buf = mutable.HashMap.empty[K2, V2]
          private var drain: Iterator[(K2, V2)] = Iterator.empty
          private def fill(): Unit = {
            while (drain.isEmpty && it.hasNext && buf.size < maxCombinerEntries) {
              val (k, v) = it.next()
              buf.update(k, buf.get(k).fold(v)(merge(_, v)))
            }
            if (drain.isEmpty && (buf.size >= maxCombinerEntries || !it.hasNext)) {
              drain = buf.toList.iterator
              buf.clear()
            }
          }
          def hasNext: Boolean = { fill(); drain.hasNext }
          def next(): (K2, V2) = { fill(); drain.next() }
        }
      }
    }
    MapReduceJob.shuffleReduce(combined, partitioner, reduceFn)
  }
}

object MapReduceJob {

  /** The in-map combiner's default bound, in keys. */
  private[graft] val MaxCombinerEntries = 1 << 20

  /** Reference phases 3-7 (partition, shuffle, sort) in one shuffle, then
    * a streaming group-reduce over runs of equal keys: the tail that
    * [[MapReduceJob.run]] and [[wordCount]] share. */
  private def shuffleReduce[K2: ClassTag: Ordering, V2: ClassTag](
      combined: RDD[(K2, V2)], partitioner: Partitioner,
      reduceFn: (K2, Iterator[V2]) => IterableOnce[(K2, V2)]): RDD[(K2, V2)] =
    combined
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions { it =>
        val in = it.buffered
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
    * at [[MaxCombinerEntries]] keys in key order.
    */
  def wordCount(lines: RDD[String], numReducers: Int): RDD[(String, Long)] =
    shuffleReduce[String, Long](
      lines.mapPartitions(WordCombiner.flushes(_, MaxCombinerEntries).flatMap(_.iterator)),
      new FirstCharPartitioner(numReducers),
      (word, counts) => Iterator((word, counts.sum)))
}
