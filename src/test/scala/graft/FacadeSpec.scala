package graft

import graft.facade.{FirstCharPartitioner, MapReduceJob, Runs, WordCombiner}
import org.scalatest.funsuite.AnyFunSuite

class FacadeSpec extends AnyFunSuite with SparkFixture {

  test("FirstCharPartitioner reproduces reference ascii%R with 0→R remap") {
    // reference: thread_pool.cc:121-134; reducer i (1-based) = partition i-1
    val p = new FirstCharPartitioner(4)
    // 'd' = 100, 100 % 4 = 0 → reference reducer 4 → partition 3
    assert(p.getPartition("dog") === 3)
    // 'h' = 104, 104 % 4 = 0 → partition 3
    assert(p.getPartition("hat") === 3)
    // 'a' = 97, 97 % 4 = 1 → reducer 1 → partition 0
    assert(p.getPartition("apple") === 0)
    // 'c' = 99, 99 % 4 = 3 → reducer 3 → partition 2
    assert(p.getPartition("cat") === 2)
    intercept[IllegalArgumentException](p.getPartition(""))
  }

  test("facade word count equals DataFrame word count on documents") {
    import spark.implicits._
    val viaFacade = MapReduceJob.wordCount(
      Tables.documents(spark, sf0001).select("text").as[String].rdd, 4)
      .collect().sortBy(_._1)
    val viaDf = operators.Relational.q1Wordcount(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaFacade.toSeq === viaDf.toSeq)
  }

  test("facade output is sorted within partitions (reference SortFunction)") {
    import spark.implicits._
    val rdd = MapReduceJob.wordCount(
      Tables.documents(spark, sf0001).select("text").as[String].rdd, 4)
    val sortedWithin = rdd.mapPartitions { it =>
      val keys = it.map(_._1).toVector
      Iterator(keys == keys.sorted)
    }.collect()
    assert(sortedWithin.forall(identity))
    assert(rdd.getNumPartitions === 4)
  }

  test("reference-layout sink writes <job>-<reducerID>.out as 'key value' lines") {
    import spark.implicits._
    val out = TmpDirs.scratch("graft_facade_out")
    val rdd = MapReduceJob.wordCount(
      Tables.documents(spark, sf0001).select("text").as[String].rdd, 3)
    MapReduceJob.writeReferenceLayout(rdd, out.toString, "wc")
    val files = out.toFile.listFiles().map(_.getName).sorted
    assert(files.toSeq === Seq("wc-1.out", "wc-2.out", "wc-3.out"))
    val p = new FirstCharPartitioner(3)
    val total = files.map { f =>
      val lines = scala.io.Source.fromFile(new java.io.File(out.toFile, f))
        .getLines().toVector
      val reducerId = f.stripPrefix("wc-").stripSuffix(".out").toInt
      val keys = lines.map(_.split(" ")(0))
      // reference format: `key value\n`, routed by first char, key-sorted
      assert(lines.forall(_.split(" ").length === 2))
      assert(keys.forall(k => p.getPartition(k) === reducerId - 1))
      assert(keys === keys.sorted)
      lines.map(_.split(" ")(1).toLong).sum
    }.sum
    val expected = operators.Relational.q1Wordcount(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    assert(total === expected)
  }

  test("Hadoop-FS reference-layout sink is byte-identical to the local one") {
    import spark.implicits._
    val base = TmpDirs.scratch("graft_facade_hfs")
    val local = base.resolve("local")
    val hfs = base.resolve("hfs")
    // non-ASCII words, one of them a surrogate pair: both sinks write
    // UTF-8 whatever the JVM's default charset
    val nonAscii = Seq("café", "naïve", "日本", "\uD834\uDD1E")
    val rdd = MapReduceJob.wordCount(
      Tables.documents(spark, sf0001).select("text").as[String].rdd
        .union(spark.sparkContext.parallelize(Seq(nonAscii.mkString(" ")), 1)), 3)
    MapReduceJob.writeReferenceLayout(rdd, local.toString, "wc")
    // drive the Hadoop variant through an explicit file:// URI so the
    // path actually resolves via a Hadoop FileSystem, not java.io.File
    MapReduceJob.writeReferenceLayoutHadoop(rdd, hfs.toUri.toString, "wc")
    val names = local.toFile.listFiles().map(_.getName).sorted.toSeq
    assert(names === Seq("wc-1.out", "wc-2.out", "wc-3.out"))
    // LocalFileSystem (ChecksumFileSystem) adds hidden .crc sidecars;
    // `.`-prefixed names are invisible to Hadoop consumers by convention
    // (and don't exist on HDFS, where checksums live in the datanode)
    def visible(d: java.io.File) =
      d.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(visible(hfs.toFile) === names)
    val localKeys = names.flatMap { n =>
      new String(java.nio.file.Files.readAllBytes(local.resolve(n)),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").map(_.split(" ")(0))
    }.toSet
    nonAscii.foreach(w => assert(localKeys(w), s"$w missing from the local sink"))
    for (n <- names) {
      val a = java.nio.file.Files.readAllBytes(local.resolve(n))
      val b = java.nio.file.Files.readAllBytes(hfs.resolve(n))
      assert(java.util.Arrays.equals(a, b), s"$n differs between sinks")
    }
    // overwrite path: a second run must REPLACE, not append or fail
    MapReduceJob.writeReferenceLayoutHadoop(rdd, hfs.toUri.toString, "wc")
    assert(java.nio.file.Files.readAllBytes(hfs.resolve(names.head)).sameElements(
      java.nio.file.Files.readAllBytes(local.resolve(names.head))))
    // no temp litter left behind
    assert(!hfs.toFile.listFiles().exists(_.getName.endsWith(".tmp")))
  }

  test("word count into the reference layout runs one Spark job") {
    val out = TmpDirs.scratch("graft_facade_jobs")
    val lines = spark.sparkContext.parallelize(Seq("d d h", "h x d", "y d h"), 3)
    val jobs = jobsDuring {
      MapReduceJob.writeReferenceLayout(
        MapReduceJob.wordCount(lines, 3), out.toString, "wc")
    }
    assert(jobs.size === 1)
    val counts = out.toFile.listFiles().toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines()
        .map { l => val Array(w, c) = l.split(" "); w -> c.toLong }
    }.toMap
    assert(counts === Map("d" -> 4L, "h" -> 3L, "x" -> 1L, "y" -> 1L))
  }

  test("a combiner bound of 0 is rejected, not an empty result") {
    intercept[IllegalArgumentException](new MapReduceJob[Long, String, String, Long](
      mapFn = (_, l) => l.split(" ").map(w => (w, 1L)),
      reduceFn = (w, vs) => Iterator((w, vs.sum)),
      combineFn = Some(_ + _),
      maxCombinerEntries = 0))
    intercept[IllegalArgumentException](new WordCombiner(0))
  }

  test("locality config parse folds out-of-range nodes; RDD carries hints") {
    // reference thread_pool.cc:11-14: node > workers → node %= workers, 0→workers
    val parsed = MapReduceJob.parseLocalityConfig(
      Seq("1 1", "2 5", "3 3", "4 6"), workers = 3)
    assert(parsed === Seq((1, 1), (2, 2), (3, 3), (4, 3)))
    val rdd = MapReduceJob.inputWithLocality(
      spark.sparkContext, Seq("c1", "c2", "c3", "c4"), parsed,
      n => s"host$n")
    val hints = rdd.partitions.map(p => rdd.preferredLocations(p)).toSeq
    assert(hints === Seq(Seq("host1"), Seq("host2"), Seq("host3"), Seq("host3")))
  }

  test("ReferenceCli: reference argv surface end to end on a text file") {
    val dir = TmpDirs.scratch("graft_cli")
    val input = dir.resolve("in.txt")
    // trailing spaces per README.md:9 of the reference; counts unaffected
    java.nio.file.Files.writeString(input,
      "d d h \nh x d \ny \nd h \n")
    val loc = dir.resolve("loc.txt")
    java.nio.file.Files.writeString(loc, "1 1\n2 2\n")
    val out = dir.resolve("out")
    // chunk_size 2 → 2 chunks; delay 0 ignored
    graft.facade.ReferenceCli.main(Array(
      "wcjob", "3", "0", input.toString, "2", loc.toString, out.toString))
    val byFile = out.toFile.listFiles().map(_.getName).sorted
    assert(byFile.toSeq === Seq("wcjob-1.out", "wcjob-2.out", "wcjob-3.out"))
    val counts = byFile.flatMap { f =>
      scala.io.Source.fromFile(new java.io.File(out.toFile, f)).getLines()
        .map { l => val Array(w, c) = l.split(" "); w -> c.toLong }
    }.toMap
    assert(counts === Map("d" -> 4L, "h" -> 3L, "x" -> 1L, "y" -> 1L))
  }

  test("property: wordcount(a ++ b) == merge(wordcount(a), wordcount(b))") {
    val rng = new scala.util.Random(7)
    val vocab = Vector("spark", "map", "reduce", "key", "value", "d", "h")
    def randLines(): List[String] = List.fill(rng.nextInt(8))(
      List.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    def wc(lines: List[String]): Map[String, Long] =
      MapReduceJob.wordCount(spark.sparkContext.parallelize(lines, 2), 3)
        .collect().toMap
    (1 to 5).foreach { _ =>
      val (a, b) = (randLines(), randLines())
      val merged = (wc(a).toSeq ++ wc(b).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      assert(wc(a ++ b) === merged)
    }
  }

  test("combiner flush does not change results (tiny maxCombinerEntries)") {
    val lines = Seq("d d d h h x", "d h x x", "y d")
    val job = new MapReduceJob[Long, String, String, Long](
      mapFn = (_, l) => l.split(" ").filter(_.nonEmpty).map(w => (w, 1L)),
      reduceFn = (w, vs) => Iterator((w, vs.sum)),
      combineFn = Some(_ + _),
      maxCombinerEntries = 2) // force mid-stream flushes
    val got = job.run(
      spark.sparkContext.parallelize(lines, 2).zipWithIndex().map(_.swap),
      new FirstCharPartitioner(3)).collect().toMap
    assert(got === Map("d" -> 5L, "h" -> 3L, "x" -> 3L, "y" -> 1L))
  }

  test("reduceFn that does not drain values still advances groups") {
    val job = new MapReduceJob[Long, String, String, Long](
      mapFn = (_, l) => l.split(" ").filter(_.nonEmpty).map(w => (w, 1L)),
      reduceFn = (w, _) => Iterator((w, -1L))) // ignores the value iterator
    val got = job.run(
      spark.sparkContext.parallelize(Seq("a a b b c"), 1)
        .zipWithIndex().map(_.swap),
      new FirstCharPartitioner(2)).collect().toMap
    assert(got === Map("a" -> -1L, "b" -> -1L, "c" -> -1L))
  }

  test("word count over many flushes: each reducer's output in key order, exact counts") {
    val rng = new scala.util.Random(17)
    // U+E000–U+FFFF sort above every surrogate in Ordering[String]
    val pieces = Vector("a", "z", "é", "\uE000", "\uF8FF", "\uFFFD", "\uFFFF",
      "\uD834\uDD1E", "\uD83D\uDE00", "\uDBFF\uDFFF")
    val lines = Vector.fill(400)(Vector.fill(1 + rng.nextInt(8))(
      Vector.fill(1 + rng.nextInt(3))(pieces(rng.nextInt(pieces.size))).mkString)
      .mkString(" "))
    val bound = 50
    assert(WordCombiner.runs(lines.iterator, bound, 1).size > 10)
    val parts = MapReduceJob.wordCount(
      spark.sparkContext.parallelize(lines, 3), 5, bound).glom().collect()
    val p = new FirstCharPartitioner(5)
    parts.zipWithIndex.foreach { case (part, r) =>
      val keys = part.map(_._1)
      keys.iterator.zip(keys.iterator.drop(1)).foreach { case (a, b) =>
        assert(Ordering[String].lt(a, b), s"reducer $r: $a then $b")
      }
      keys.foreach(k => assert(p.getPartition(k) === r))
    }
    assert(parts.flatten.toMap === lines.flatMap(_.split(" ").filter(_.nonEmpty))
      .groupMapReduce(identity)(_ => 1L)(_ + _))
  }

  test("a merge past its budget spills, equals the in-memory merge, leaves no temp file") {
    val rng = new scala.util.Random(5)
    val lines = Vector.fill(300)(Vector.fill(1 + rng.nextInt(6))(
      rng.alphanumeric.take(1 + rng.nextInt(3)).mkString + "\u00e9\uD834\uDD1E".take(rng.nextInt(4)))
      .mkString(" "))
    val runs = WordCombiner.runs(lines.iterator, 40, 1).map(_._2).toArray
    assert(runs.length > 5)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spillFiles() = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_merge_")).toSet
    val before = spillFiles()
    val inMemory = Runs.merge(runs.iterator, WordCombiner.readRun).toVector
    assert(spillFiles() === before)
    val spilled = Runs.merge(runs.iterator, WordCombiner.readRun, budget = 0)
    assert((spillFiles() -- before).size === 1)
    assert(spilled.toVector === inMemory)
    assert(spillFiles() === before)
    // a task that stops early: its completion listener deletes the file
    val head = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      Runs.merge(runs.iterator, WordCombiner.readRun, budget = 0).take(1)
    }.collect()
    assert(head.toSeq === inMemory.take(1))
    assert(spillFiles() === before)
  }

  test("run with no combineFn merges several sorted buffer flushes per map task") {
    val lines = Seq("d d d h h x", "d h x x", "y d", "b a a d", "e x d b", "h h")
    val job = new MapReduceJob[Long, String, String, Long](
      mapFn = (_, l) => l.split(" ").filter(_.nonEmpty).map(w => (w, 1L)),
      reduceFn = (w, vs) => Iterator((w, vs.sum)),
      maxCombinerEntries = 3) // a flush holds 3 pairs: several per map task
    val parts = job.run(
      spark.sparkContext.parallelize(lines, 2).zipWithIndex().map(_.swap),
      new FirstCharPartitioner(3)).glom().collect()
    parts.foreach { part =>
      val keys = part.map(_._1).toSeq
      assert(keys === keys.sorted.distinct)
    }
    assert(parts.flatten.toMap === lines.flatMap(_.split(" "))
      .groupMapReduce(identity)(_ => 1L)(_ + _))
  }
}
