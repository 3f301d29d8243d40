package graft

import graft.facade.{FirstCharPartitioner, MapReduceJob, RunBuffer, Runs, WordCombiner}
import graft.operators.Dedup
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based suite (SURVEY.md §5 item 3): randomized inputs checked
  * against independent driver-side oracles. Seeded, so failures are
  * reproducible. */
class PropertySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(Seed(42L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  /** Path-compressed union-find — the independent oracle for the
    * DataFrame connected-components operator. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.groupBy(find).flatMap { case (_, ns) =>
      val m = ns.min
      ns.map(_ -> m)
    }
  }

  test("property: connectedComponents equals driver-side union-find") {
    val genEdges = Gen.listOf(
      Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))).map(_.take(20))
    check(Prop.forAll(genEdges) { edges =>
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(edges)
    }, n = 8)
  }

  test("property: facade wordcount distributes over corpus concatenation") {
    val vocab = Gen.oneOf("spark", "map", "reduce", "d", "h", "x", "key")
    val genLines = Gen.listOf(
      Gen.listOf(vocab).map(_.take(10).mkString(" "))).map(_.take(8))
    def wc(lines: List[String]): Map[String, Long] =
      MapReduceJob.wordCount(
        spark.sparkContext.parallelize(lines, 2), numReducers = 3)
        .collect().toMap
    check(Prop.forAll(genLines, genLines) { (a, b) =>
      val merged = (wc(a).toSeq ++ wc(b).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      wc(a ++ b) == merged
    }, n = 6)
  }

  /** Words that stress the word-count kernel: prefix pairs, equal-hash
    * pairs (`"Aa".hashCode == "BB".hashCode`), non-ASCII and surrogate
    * pairs, the largest char, and words longer than the key arena's
    * initial 4096 chars that share a long prefix. */
  private val kernelWord: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "aa", "aaa", "Aa", "BB", "AaAa", "BBBB", "AaBB",
      "café", "naïve", "日本", "\uD834\uDD1E", "x\uD83D\uDE00"),
    3 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_,
      Gen.oneOf('a', 'b', 'é', '日', '\uFFFF'))).map(_.mkString),
    1 -> Gen.zip(Gen.choose(4097, 4100), Gen.oneOf("", "b", "c"))
      .map { case (n, tail) => "w" * n + tail })

  /** Lines with runs of spaces, leading and trailing spaces, and empty
    * lines. */
  private val kernelLine: Gen[String] = for {
    words <- Gen.listOf(kernelWord).map(_.take(6))
    gaps <- Gen.listOfN(words.size + 1, Gen.choose(0, 3))
  } yield {
    val inner = words.zip(gaps.tail).map { case (w, g) => w + " " * math.max(1, g) }
    " " * gaps.head + inner.mkString.dropRight(if (words.isEmpty) 0 else 1)
  }

  test("property: word-count kernel equals a driver-side split count") {
    check(Prop.forAll(Gen.listOf(kernelLine).map(_.take(8)), Gen.choose(1, 3)) {
      (lines, bound) =>
        val flushes = WordCombiner.flushes(lines.iterator, bound).toVector
        val got = flushes.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        val expected = lines.flatMap(_.split(" ").filter(_.nonEmpty))
          .groupMapReduce(identity)(_ => 1L)(_ + _)
        flushes.forall(f => f.nonEmpty && f.length <= bound) && got == expected
    }, n = 200)
  }

  test("word-count kernel emits each flush in strictly increasing key order") {
    val rng = new scala.util.Random(11)
    val alphabet = "abé日\uD834\uDD1E\uFFFF".toVector
    // shared prefixes past the packed sort's reach force full-key ties
    val prefixes = Vector("", "interna", "internat", "日本日本日本")
    val lines = Vector.fill(3000) {
      Vector.fill(rng.nextInt(6))(prefixes(rng.nextInt(prefixes.size)) +
        Vector.fill(1 + rng.nextInt(4))(alphabet(rng.nextInt(alphabet.size))).mkString)
        .mkString(" ")
    }
    val flushes = WordCombiner.flushes(lines.iterator, 1500).toVector
    assert(flushes.size > 2)
    flushes.foreach { f =>
      val keys = f.map(_._1)
      keys.iterator.zip(keys.iterator.drop(1)).foreach { case (a, b) =>
        assert(Ordering[String].lt(a, b), s"$a then $b")
      }
    }
    assert(flushes.flatten.groupMapReduce(_._1)(_._2)(_ + _) ===
      lines.flatMap(_.split(" ").filter(_.nonEmpty)).groupMapReduce(identity)(_ => 1L)(_ + _))
  }

  test("property: merging sorted word runs equals a driver-side groupMapReduce in key order") {
    val genRun = Gen.listOf(Gen.zip(kernelWord, Gen.choose(1L, Long.MaxValue / 64)))
      .map(_.take(12).sortBy(_._1))
    // budget 0 spills every run, 64 spills some, the default none
    check(Prop.forAll(Gen.listOf(genRun).map(_.take(6)),
        Gen.oneOf(0L, 64L, Runs.MergeBudget)) { (runs, budget) =>
      val bytes = runs.map { run =>
        val out = new RunBuffer
        run.foreach { case (w, c) => WordCombiner.writeEntry(out, w.toCharArray, 0, w.length, c) }
        out.toByteArray
      }
      val merged = Runs.merge(bytes.iterator, WordCombiner.readRun, budget).toVector
      // sum consecutive equal keys, as the reduce tail groups them
      val grouped = merged.foldLeft(Vector.empty[(String, Long)]) {
        case (acc :+ ((k, n)), (w, c)) if k == w => acc :+ ((k, n + c))
        case (acc, e) => acc :+ e
      }
      grouped == runs.flatten.groupMapReduce(_._1)(_._2)(_ + _).toVector.sortBy(_._1)
    }, n = 200)
  }

  test("property: packSequences equals a sequential driver-side fold") {
    val genDocs = Gen.listOf(Gen.choose(0, 12))
      .map(_.take(24).zipWithIndex.map { case (nWords, i) =>
        (i.toLong * 3 + 1, List.fill(nWords)("w").mkString(" "))
      })
    check(Prop.forAll(genDocs, Gen.choose(1, 9)) { (docs, binTokens) =>
      val expected = docs
        .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, text)) =>
          val n = text.split(" ").count(_.nonEmpty).toLong
          (id, n, cum, cum + n)
        }.drop(1)
        .map { case (id, n, pre, _) =>
          (id, n, pre / binTokens, pre % binTokens) }
      val got = operators.Packing
        .packSequences(docs.toDF("doc_id", "text"), binTokens, buckets = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      got == expected
    }, n = 8)
  }

  test("property: chunkDocuments covers all tokens, strides, adds new tokens") {
    val genDoc = Gen.choose(0, 40).map(n => List.fill(n)("w").mkString(" "))
    val genGeom = for {
      overlap <- Gen.choose(0, 4)
      chunk <- Gen.choose(overlap + 1, overlap + 8)
    } yield (chunk, overlap)
    check(Prop.forAll(genDoc, genGeom) { case (text, (chunk, overlap)) =>
      val n = text.split(" ").count(_.nonEmpty).toLong
      val got = operators.Packing
        .chunkDocuments(Seq((1L, text)).toDF("doc_id", "text"), chunk, overlap)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val stride = chunk - overlap
      if (n == 0) got.isEmpty
      else {
        val ids = got.map(_._1).toSeq
        ids == got.indices.map(_.toLong) &&                  // dense chunk ids
        got.forall { case (i, s, e) =>
          s == i * stride && e == math.min(s + chunk, n) } &&
        got.head._2 == 0 && got.last._3 == n &&              // full coverage
        got.forall { case (i, _, e) =>                       // each adds tokens
          i == 0 || e > got(i.toInt - 1)._3 } &&
        got.zip(got.drop(1)).forall { case ((_, _, e1), (_, s2, _)) =>
          s2 <= e1 }                                         // no gaps
      }
    }, n = 30)
  }

  test("property: first-char partitioner matches the reference formula") {
    val genKey = Gen.alphaNumStr.suchThat(_.nonEmpty)
    val genR = Gen.choose(1, 9)
    check(Prop.forAll(genKey, genR) { (key, r) =>
      // reference thread_pool.cc:121-134: ascii % R, 0 → R, 1-indexed
      val m = key.charAt(0).toInt % r
      val reference1Based = if (m == 0) r else m
      new FirstCharPartitioner(r).getPartition(key) == reference1Based - 1
    }, n = 50)
  }

  test("property: coOccurrence equals a driver-side pair count") {
    val genBaskets = Gen.listOf(
      Gen.zip(Gen.choose(0L, 8L), Gen.oneOf("p", "q", "r", "s"))).map(_.take(30))
    check(Prop.forAll(genBaskets) { items =>
      val got = graft.operators.Relational
        .coOccurrence(items.toDF("g", "i"), "g", "i", k = 100)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val want = items.distinct.groupBy(_._1).values
        .flatMap { basket =>
          val its = basket.map(_._2).distinct.sorted
          for (a <- its; b <- its if a < b) yield (a, b)
        }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      got == want
    }, n = 15)
  }

  test("property: dedupSegments equals a driver-side segment fold") {
    // Small vocab + short docs force cross-doc duplicate segments often.
    val genDoc = Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(9).mkString(" "))
    val genDocs = Gen.listOf(Gen.zip(Gen.choose(0L, 6L), genDoc))
      .map(_.take(6).distinctBy(_._1))
    check(Prop.forAll(genDocs) { docs =>
      val segWords = 2
      def segsOf(text: String): Seq[String] =
        text.split(" ").filter(_.nonEmpty).grouped(segWords)
          .map(_.mkString(" ")).toSeq
      val dup = docs.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
        .groupBy(_._1).collect { case (s, xs) if xs.map(_._2).distinct.size > 1 => s }
        .toSet
      val want = docs.map { case (id, t) =>
        val ss = segsOf(t)
        (id, ss.size.toLong, ss.count(dup).toLong,
          ss.filterNot(dup).mkString(" "))
      }.filter(_._2 > 0).sortBy(_._1)
      val got = graft.operators.Segments
        .dedupSegments(docs.toDF("doc_id", "text"), segWords)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      got == want
    }, n = 15)
  }

  test("property: redaction is idempotent and leaves rule-free text alone") {
    val genText = Gen.listOf(Gen.oneOf(
      "word", "42", "a@b.co", "10.0.0.1", "+41 79 123 45 67", "{}", "x9y"))
      .map(_.take(8).mkString(" "))
    check(Prop.forAll(genText) { text =>
      def redact1(s: String): String = {
        val df = Seq((1L, s)).toDF("id", "t")
        graft.operators.Redaction.redact(df, "t")
          .select("t_redacted").collect().head.getString(0)
      }
      val once = redact1(text)
      // The default replacements (<EMAIL> etc.) contain no digits or
      // rule-matchable spans, so a second pass must be a no-op — the
      // property that makes re-running a scrub over a partially-scrubbed
      // corpus safe.
      redact1(once) == once &&
        (text.exists(_.isDigit) || once == text)
    }, n = 15)
  }

  test("property: lengthBatches equals the driver-side rank on random corpora") {
    // random docs: id + a token count rendered as that many words
    val genDocs = Gen.listOf(
      Gen.zip(Gen.choose(0L, 60L), Gen.choose(0, 12))).map(_.take(30))
      .map(_.groupBy(_._1).map { case (id, xs) => (id, xs.head._2) }.toSeq)
    check(Prop.forAll(genDocs) { docs =>
      docs.isEmpty || {
        val df = docs.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val batchSize = 4
        // independent oracle: plain driver-side sort + grouping
        val ranked = docs.sortBy { case (id, n) => (-n, id) }
        val expect = ranked.zipWithIndex
          .groupBy(_._2 / batchSize)
          .map { case (b, xs) =>
            val ns = xs.map(_._1._2.toLong)
            (b.toLong, ns.length.toLong, ns.max, ns.sum,
              ns.max * ns.length, ns.max * ns.length - ns.sum)
          }.toSet
        val got = graft.operators.Packing.lengthBatches(df, batchSize)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        got == expect
      }
    }, n = 10)
  }

  test("property: saltedEquiJoin equals the plain equi-join on random frames") {
    val genL = Gen.listOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(0, 99)))
      .map(_.take(40))
    val genR = Gen.listOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(100, 199)))
      .map(_.take(10))
    check(Prop.forAll(Gen.zip(genL, genR)) { case (l, r) =>
      val lf = l.toDF("k", "lv")
      val rf = r.toDF("k", "rv")
      val plain = lf.join(rf, "k").collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getInt(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val salted = graft.operators.Skew.saltedEquiJoin(lf, rf, "k", salts = 3)
        .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      plain == salted  // multiset equality — replication must not dupe
    }, n = 10)
  }

  test("property: keySkewAudit counts and ordering match a driver-side tally") {
    val genKeys = Gen.listOf(Gen.choose(0L, 8L)).map(_.take(60))
    check(Prop.forAll(genKeys) { keys =>
      keys.isEmpty || {
        val got = graft.operators.Skew
          .keySkewAudit(keys.toDF("k"), "k", topK = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val tally = keys.groupBy(identity).map { case (k, xs) =>
          (k, xs.size.toLong) }
        val expect = tally.toSeq.sortBy { case (k, n) => (-n, k) }.take(5)
        got.toSeq == expect
      }
    }, n = 10)
  }

  test("property: samplePerGroup is an <=n-per-group subset, stable under repartition") {
    val genRows = Gen.listOf(
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L))).map(_.take(40).distinct)
    check(Prop.forAll(genRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("g", "k")
        val take = graft.operators.Sampling.samplePerGroup(df, "g", "k", 3)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val again = graft.operators.Sampling
          .samplePerGroup(df.repartition(5), "g", "k", 3)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        take.subsetOf(rows.toSet) &&
          take.groupBy(_._1).forall(_._2.size <= 3) &&
          take == again
      }
    }, n = 10)
  }
  private def refBpeMerges(words: Seq[String], steps: Int)
      : (Seq[(Long, String, String, Long)], Map[String, Int]) =
    BpeReference.refBpeMerges(words, steps)

  test("property: BPE trainer + encoder equal the in-memory canonical reference") {
    val genWord = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'x', 'y')).map(_.mkString))
    val genDoc = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, genWord).map(_.mkString(" ")))
    val genCorpus = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genDoc))
    check(Prop.forAll(genCorpus) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val allWords = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      val (expMerges, encoded) = refBpeMerges(allWords, steps = 3)
      val gotMerges = graft.operators.Bpe.bpeMerges(docs, steps = 3)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val gotEnc = graft.operators.Bpe.bpeEncode(docs, steps = 3)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expEnc = texts.zipWithIndex.collect {
        case (t, i) if t.split(" ").exists(_.nonEmpty) =>
          val ws = t.split(" ").filter(_.nonEmpty)
          i.toLong -> (ws.map(_.length.toLong).sum,
            ws.map(w => encoded(w).toLong).sum)
      }.toMap
      gotMerges == expMerges && gotEnc == expEnc
    }, n = 12)
  }
}
