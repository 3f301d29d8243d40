package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Tiny corpus with planted near-dups:
    * 1≈2 (one word changed out of 12 → high jaccard),
    * 3≈4 (identical), 5 unrelated, 6 too short to shingle. */
  private def corpus: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy cat near the river"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta"),
    (5L, "completely different text with nothing shared at all here"),
    (6L, "too short")).toDF("doc_id", "text")

  test("shingles: distinct word 3-grams; short docs empty") {
    val sh = Dedup.shingleDocs(corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(3L).contains("alpha beta gamma"))
    assert(sh(3L).size === 6) // 8 words → 6 shingles
    assert(sh(6L).isEmpty)
  }

  test("hashed shingles: native expression matches string shingle sets; null/short docs empty") {
    val withNull = corpus.unionAll(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val str = Dedup.shingleDocs(withNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val hashed = Dedup.hashedShingleDocs(withNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // same per-doc set cardinality (64-bit hashing is injective here) and
    // equal docs hash to equal sets
    str.foreach { case (id, s) => assert(hashed(id).size === s.size, s"doc $id") }
    assert(hashed(3L) === hashed(4L))
    assert(hashed(6L).isEmpty && hashed(9L).isEmpty)
    // consecutive spaces tokenize like split(" ")+nonEmpty filter
    val spaced = Seq((1L, "a  b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val sp = Dedup.hashedShingleDocs(spaced).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sp(1L) === sp(2L))
  }

  test("exact ngram jaccard finds planted pairs and nothing else") {
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
    val j34 = Dedup.ngramJaccardPairs(corpus, threshold = 0.4)
      .filter(col("doc_a") === 3).head.getAs[Double]("jaccard")
    assert(j34 === 1.0)
  }

  test("minhash-LSH finds the same pairs as exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(corpus, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === exact)
  }

  test("df-cap drops hot shingles from the posting list") {
    val hot = Seq.tabulate(5)(i => (i.toLong, "same same same same"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.shinglePosting(hot).count()
    val capped = Dedup.shinglePosting(hot, dfCap = Some(3)).count()
    assert(uncapped > 0 && capped === 0)
  }

  test("hot-shingle fallback path: pairs found via non-hot shingles, exact jaccard") {
    // shared filler makes its shingles hot (df=5 > cap=4); docs 1 and 2
    // also share unique content, so their pair survives candidate
    // generation through non-hot shingles and must be verified on the
    // FULL shingle sets (filler included) for an exact jaccard value.
    val filler = "lorem ipsum dolor sit amet consectetur"
    val corpus = Seq(
      (1L, s"$filler unique alpha beta gamma delta shared"),
      (2L, s"$filler unique alpha beta gamma delta shared"),
      (3L, s"$filler three distinct words here one"),
      (4L, s"$filler four different tokens again two"),
      (5L, s"$filler five other terms entirely three"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.9,
      dfCap = Some(4)).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    // identical docs → exact jaccard 1.0 even though filler shingles were
    // dropped from candidate generation
    assert(pairs.head.getAs[Double]("jaccard") === 1.0)
  }

  test("groups larger than the df-cap survive as star edges and full clusters") {
    // 12 identical docs, cap 8: every shingle and every LSH bucket is
    // hot, so a drop-only cap would silently lose the whole group (the
    // round-4 advice case). Star candidates around the bucket-min doc
    // must span the group on BOTH candidate paths, with exact jaccard.
    val text = "one two three four five six seven eight nine ten"
    val dup = Seq.tabulate(12)(i => (i.toLong, text)).toDF("doc_id", "text")
    for (pairsDf <- Seq(
        Dedup.ngramJaccardPairs(dup, dfCap = Some(8)),
        Dedup.minhashLshPairs(dup, dfCap = Some(8)))) {
      val rows = pairsDf.collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        (1L to 11L).map(i => (0L, i)).toSet)
      assert(rows.forall(_.getAs[Double]("jaccard") === 1.0))
      val cc = Dedup.connectedComponents(pairsDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc === (0L to 11L).map(_ -> 0L).toMap)
    }
  }

  test("distributed hot-key split: clusters match the uncapped exact path on a mixed corpus") {
    // A corpus that exercises BOTH guard branches at once: a 10-doc
    // identical group (cap 4 → every shingle and every LSH bucket is
    // hot → star path) alongside two ordinary near-dup pairs and a
    // loner (cold path). The capped run must produce (a) exactly the
    // same CLUSTERS as the exact uncapped run — the star edges span the
    // hot group — and (b) exactly the same verified pairs among the
    // non-hot docs, since the guard may only thin pairs INSIDE hot
    // groups, never touch cold candidates.
    val hotText = "zero one two three four five six seven eight nine"
    val docs = (Seq.tabulate(10)(i => (i.toLong, hotText)) ++ Seq(
      (20L, "the quick brown fox jumps over the lazy dog near the river"),
      (21L, "the quick brown fox jumps over the lazy cat near the river"),
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (31L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (40L, "completely different text with nothing shared at all here")))
      .toDF("doc_id", "text")
    def asSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    def clusters(pairs: DataFrame) = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactPairs = Dedup.ngramJaccardPairs(docs, threshold = 0.4, dfCap = None)
    val exactClusters = clusters(exactPairs)
    val exactCold = asSet(exactPairs.filter(col("doc_a") >= 20L))
    assert(exactClusters === ((0L to 9L).map(_ -> 0L)
      ++ Seq(20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L)).toMap)
    for (capped <- Seq(
        Dedup.ngramJaccardPairs(docs, threshold = 0.4, dfCap = Some(4)),
        Dedup.minhashLshPairs(docs, threshold = 0.4, dfCap = Some(4)))) {
      assert(clusters(capped) === exactClusters)
      assert(asSet(capped.filter(col("doc_a") >= 20L)) === exactCold)
    }
  }

  test("simhash: identical docs distance 0; near docs close; unrelated far") {
    val fp = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(3L) === fp(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(5L)))
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.contains((1L, 5L)))
  }

  test("simhash hot bucket degrades to a star; CC still recovers the full group") {
    // 30 identical docs: the fingerprints agree on EVERY band, so each
    // (band, key) bucket holds all 30 ids — the unguarded self-join
    // would emit 435 pairs per band. With cap 8 the guard reduces each
    // bucket to 29 spanning edges around the bucket-min doc; Hamming
    // verification keeps them (distance 0) and connected components
    // recovers the whole group.
    val text = "one two three four five six seven eight nine ten"
    val dup = (Seq.tabulate(30)(i => (i.toLong, text)) ++ Seq(
      (100L, "completely different text with nothing shared at all here")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(dup, dfCap = Some(8))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === (1L until 30L).map(i => (0L, i)).toSet)
    val cc = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === (0L until 30L).map(_ -> 0L).toMap)
    // cold path untouched: with the cap off the same pair set emerges
    // as the full clique; the loner doc never pairs in either mode
    val uncapped = Dedup.simhashPairs(dup, dfCap = None).collect()
    assert(uncapped.length === 30 * 29 / 2)
    assert(!got.exists(p => p._1 == 100L || p._2 == 100L))
  }

  test("embedding near-dup finds planted high-cosine pair exactly") {
    val rng = new scala.util.Random(1)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(v => v + 0.01f) // cosine ≈ 1
    val rows = (0 until 20).map(i => (i.toLong, vec())) :+
      (100L, base) :+ (101L, nearDup)
    val emb = rows.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((100L, 101L)))
  }

  test("materialized LSH artifact serves identical pairs to the per-call path") {
    // qEmbeddingNearDup reads the write-once banded/sketch tables
    // (MaterializedCache); the band signatures and verify sketches are
    // pure per-row functions of the embedding under a fixed seed, so the
    // output must be ROW-IDENTICAL to the per-call formulation — and a
    // second call (cache hit) identical again.
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val rows = (0 until 25).map(i => (i.toLong, vec())) :+
      (100L, base) :+ (101L, base.map(_ + 0.01f))
    val emb = rows.toDF("vec_id", "embedding")
    val dir = TmpDirs.scratch("graft_lshmat").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (bands, rpb) = Dedup.bandGeometry(emb.count(), 0.95)
    val expect = Dedup.embeddingNearDupPairs(
        Dedup.qEmbeddingNearDup(spark, dir).sparkSession.read
          .parquet(s"$dir/embeddings.parquet"),
        threshold = 0.95, bands = bands, rowsPerBand = rpb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def got() = Dedup.qEmbeddingNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got() === expect)
    assert(got() === expect, "cache-hit second call must serve the same rows")
    assert(expect.map(t => (t._1, t._2)).contains((100L, 101L)))
  }

  test("embedding cross join finds planted cross pairs, never within-side pairs") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(v => v + 0.01f) // cosine ≈ 1 with base
    // LEFT holds base twice (ids 1, 2 — a within-side dup that must NOT
    // be emitted); RIGHT holds the near-dup plus noise.
    val left = (Seq((1L, base), (2L, base.clone())) ++
      (10 until 15).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val right = (Seq((100L, nearDup)) ++
      (200 until 210).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCrossPairs(left, right, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((1L, 100L), (2L, 100L)))
    assert(got.forall(_._3 >= 0.95))
    // sketches are seed-shared: the same frame on both sides finds
    // every identical vector (sanity that the planes really do agree)
    val self = Dedup.embeddingCrossPairs(left, left, threshold = 0.99)
      .filter($"vid_left" =!= $"vid_right").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self === Set((1L, 2L), (2L, 1L)))
  }

  test("embedding hot bucket degrades to a star; CC still recovers the full group") {
    val rng = new scala.util.Random(3)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    // 30 exact copies: every (band, key) bucket holds all 30 ids — a
    // mass-duplicated region. With cap 8 the self-join would be 435
    // pairs per band; the star emits 29 spanning edges instead.
    val emb = (0 until 30).map(i => (i.toLong, base.clone()))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, threshold = 0.99,
      dfCap = Some(8))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 29)
    assert(got.forall(_._1 == 0L)) // bucket-min representative
    val cc = Dedup.connectedComponents(
      pairs.select(col("vid_a").as("doc_a"), col("vid_b").as("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 30 && cc.forall(_._2 == 0L))
  }

  test("bipartite hot bucket: spanning stars still cover every member of both sides") {
    val rng = new scala.util.Random(5)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val left = (0 until 5).map(i => (i.toLong, base.clone()))
      .toDF("vec_id", "embedding")
    val right = (100 until 110).map(i => (i.toLong, base.clone()))
      .toDF("vec_id", "embedding")
    // |L|x|R| = 50 > cap 8 in every bucket → spanning cross set
    val got = Dedup.embeddingCrossPairs(left, right, threshold = 0.99,
      dfCap = Some(8)).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).distinct.sorted.toSeq === (0L until 5L),
      "every left member must appear")
    assert(got.map(_._2).distinct.sorted.toSeq === (100L until 110L),
      "every right member must appear")
    assert(got.length < 50, "the full cross product must not materialize")
  }

  test("connected components: chain 1-2, 2-7 merges into one cluster") {
    val pairs = Seq((1L, 2L), (2L, 7L), (3L, 4L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("dedupCorpus: keeps cluster minima and unclustered docs only") {
    // at j≥0.8 only 3≈4 clusters (1≈2 is j=7/13) → drop 4, keep the rest
    val kept = Dedup.dedupCorpus(corpus).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 2L, 3L, 5L, 6L))
  }

  test("jaccardHistogram: planted pairs land in their deciles") {
    // 1≈2: j = 7/13 ≈ 0.538 → band 5; 3≈4 identical: j = 1.0 → band 10
    val h = Dedup.jaccardHistogram(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(5L -> 1L, 10L -> 1L))
  }

  test("prefix filter is lossless: matches the unfiltered exhaustive core at every threshold") {
    // richer corpus: near-dup pairs at several similarity levels plus a
    // 6-doc identical group, so prefixes, length filter and the hot-key
    // star all get exercised against the Σdf² exhaustive path
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy cat near the river"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (5L, "one two three four five six seven eight nine ten eleven"),
      (6L, "one two three four five six seven DIFF nine ten twelve"),
      (7L, "completely unrelated words in this particular document body")) ++
      Seq.tabulate(6)(i => (100L + i, "same exact duplicate text repeated verbatim here")))
      .toDF("doc_id", "text")
    def asSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exhaustive = asSet(Dedup.ngramJaccardPairs(docs, threshold = t,
        dfCap = None))
      // sanity: the corpus actually produces pairs at this threshold
      assert(exhaustive.nonEmpty)
      val prefix = asSet(Dedup.ngramJaccardPairs(docs, threshold = t))
      assert(prefix === exhaustive, s"threshold $t")
    }
  }

  test("exact histogram gates sub-floor thresholds behind an explicit opt-in") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i x"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.jaccardHistogram(docs, lo = 0.05))
    assert(e.getMessage.contains("jaccardHistogramSampled"))
    // explicit opt-in still runs the exact form at a low floor…
    assert(Dedup.jaccardHistogram(docs, lo = 0.05, allowFullScan = true)
      .count() === 1)
    // …and thresholds at/above the floor are unaffected
    assert(Dedup.jaccardHistogram(docs, lo = 0.3).count() === 1)
  }

  test("sampled histogram: md5-hash sample with 16× estimator") {
    // targetSample = 2 over 5 docs forces smod = 4 (2-hex-digit prefix
    // < "40" ≡ first digit in {0..3}): keeps ids 6 and 19 of the set
    // below (0, 1 and 8 hash to 'c') — only the 6≈19 identical pair
    // lies inside the sample, and the 0≈1 pair — which a residue-class
    // sample correlated with id strides might keep or drop as a block —
    // must not appear.
    val docs = Seq(
      (0L, "one two three four five six seven eight nine ten eleven"),
      (1L, "one two three four five six seven eight nine ten eleven"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (19L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (8L, "completely unrelated words in this particular document body"))
      .toDF("doc_id", "text")
    val h = Dedup.jaccardHistogramSampled(docs, targetSample = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(h.toSeq === Seq((10L, 1L, 16L)))
    // budget adaptivity: with the default target the whole 5-doc corpus
    // is the sample (smod = 1) and the estimator factor collapses to 1 —
    // both pairs appear, exactly
    val full = Dedup.jaccardHistogramSampled(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq === Seq((10L, 2L, 2L)))
  }

  test("every dedup operator returns empty on an empty corpus, no crash") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(noDocs).count() === 0)
    assert(Dedup.minhashLshPairs(noDocs).count() === 0)
    assert(Dedup.simhashPairs(noDocs).count() === 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairs(noVecs).count() === 0)
  }

  test("connected components on an empty pair list returns empty, no crash") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.columns.toSeq === Seq("doc_id", "canonical_doc_id"))
    assert(cc.count() === 0)
  }

  test("cluster query path on a corpus with no near-dups returns empty") {
    val loners = Seq(
      (1L, "completely different text with nothing shared at all here"),
      (2L, "an entirely unrelated sentence about distant mountain weather"),
      (3L, "too short")).toDF("doc_id", "text")
    val cc = Dedup.connectedComponents(Dedup.ngramJaccardPairs(loners))
    assert(cc.count() === 0)
  }

  test("dupShingleFraction: cross-doc duplicated share per doc; short docs emit no row") {
    val got = Dedup.dupShingleFraction(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // docs 3 and 4 are identical: every one of their 6 shingles is
    // duplicated. doc 5 shares nothing. doc 6 never shingles.
    assert(got(3L) === ((6L, 6L, 1.0)))
    assert(got(4L) === ((6L, 6L, 1.0)))
    assert(got(5L)._2 === 0L)
    assert(got(5L)._3 === 0.0)
    assert(!got.contains(6L))
    // docs 1/2 differ in word 9 of 12: 10 shingles each, of which the 3
    // containing the changed word are unique → 7/10 duplicated.
    assert(got(1L) === ((10L, 7L, 0.7)))
    assert(got(2L) === ((10L, 7L, 0.7)))
  }

  test("simhash band mask: full-width band keeps all 64 bits (JVM shift-wrap regression)") {
    // (1L << 64) wraps to 1 on the JVM (shift distance masked to 6
    // bits), which collapsed the maxHamming=0 band key to 0 for every
    // doc — all-pairs candidates at corpus scale while the oracle
    // stayed green (verification filters). Pin the mask arithmetic.
    assert(Dedup.bandMask(64) === -1L)
    assert(Dedup.bandMask(32) === 0xFFFFFFFFL)
    assert(Dedup.bandMask(16) === 0xFFFFL)
    assert(Dedup.bandMask(1) === 1L)
    // and end-to-end: two docs with DIFFERENT fingerprints must produce
    // zero candidates at maxHamming=0 — with the wrapped mask they
    // collide in the (collapsed) band and only verification saves the
    // output, which this cannot distinguish; so also check the planted
    // identical pair IS found (the gate query's contract).
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, maxHamming = 0, dfCap = None)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3L)))
  }

  test("bandGeometry: (48,14) floor at oracle scale; key length grows with n; miss bound holds") {
    // Oracle-scale corpora keep the exact geometry every fixture was
    // validated under — bit-exact candidate sets below ~26k rows.
    assert(Dedup.bandGeometry(500L, 0.95) === ((48, 14)))
    assert(Dedup.bandGeometry(5000L, 0.95) === ((48, 14)))
    // The 512-d stress corpus (50k rows): longer keys, same bands.
    val (b50k, bits50k) = Dedup.bandGeometry(50000L, 0.95)
    assert(bits50k > 14, "key length must grow with the corpus")
    // Web-scale: bands grow too, buying back the longer keys' miss rate.
    val (bBig, bitsBig) = Dedup.bandGeometry(50000000L, 0.95)
    assert(bitsBig > bits50k && bBig > 48)
    Seq((500L, 48, 14), (50000L, b50k, bits50k),
        (50000000L, bBig, bitsBig)).foreach { case (n, bands, bits) =>
      val p = 1.0 - math.acos(0.95) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, bits), bands)
      assert(miss <= 1e-4 + 1e-12, s"n=$n miss=$miss")
      // noise candidates stay ~linear in n (the whole point)
      val noisePerRow = n.toDouble * bands / math.pow(2.0, bits)
      assert(noisePerRow <= 50.0 + 1e-9, s"n=$n noise/row=$noisePerRow")
    }
  }

  test("quantized verify prefilter is sound: upper bound never drops a true pair") {
    // Property over random vectors: the compact-sketch upper bound must
    // dominate the exact cosine for EVERY pair (soundness is what makes
    // the prefilter exact-preserving). Checked across widths including
    // the 512-d stress shape and adversarial near-threshold pairs.
    val rng = new scala.util.Random(7)
    def vec(d: Int): Array[Float] = Array.fill(d)(rng.nextGaussian().toFloat)
    for (d <- Seq(8, 64, 512); trial <- 0 until 40) {
      val u = vec(d)
      // high-cosine pairs only: at low cosine the BANDING may
      // legitimately miss (the documented LSH trade), which would read
      // as a prefilter failure here. Perturbation sizes keep cos ≥ ~0.98
      // where the 48×14 miss probability is ~e⁻²⁷ — deterministic pass
      // under the fixed seed.
      val v = trial % 3 match {
        case 0 => u.map(x => x + 0.03f * rng.nextGaussian().toFloat)
        case 1 => u.map(x => x + 0.08f * rng.nextGaussian().toFloat)
        case _ => u.map(x => x * 3.7f)
      }
      val rows = Seq((1L, u), (2L, v))
      val emb = rows.toDF("vec_id", "embedding")
      import org.apache.spark.sql.functions.col
      val exact = graft.functions.VectorFunctions.cosine(col("emb_a"), col("emb_b"))
      val pair = emb.as("a").filter(col("vec_id") === 1L)
        .select(col("embedding").as("emb_a"))
        .crossJoin(emb.filter(col("vec_id") === 2L)
          .select(col("embedding").as("emb_b")))
      val cos = pair.select(exact.as("c")).head().getDouble(0)
      // drive through the REAL operator: a pair at exactly-threshold
      // cosine must survive end to end (prefilter + exact verify agree)
      val got = Dedup.embeddingNearDupPairs(emb, threshold = cos - 1e-6,
        dim = d)
        .collect()
      assert(got.length === 1,
        s"d=$d trial=$trial cos=$cos: pair dropped by the prefilter")
      assert(math.abs(got.head.getDouble(2) - cos) < 5e-4)
    }
  }

  test("native sketch_cos_upper is bit-identical to the UDF bound, incl. degenerates") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(13)
    val rows = Seq.tabulate(120)(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))) :+
      (900L, Array.fill(64)(0f)) :+ // zero-norm → -Inf on both forms
      (901L, null.asInstanceOf[Array[Float]]) // null sketch struct
    val e = rows.toDF("vec_id", "embedding")
    val sk = e.select(col("vec_id"),
      Dedup.verifySketchUdf(col("embedding")).as("sk")).localCheckpoint()
    val both = sk.select(col("vec_id").as("a"), col("sk").as("_ska"))
      .crossJoin(sk.select(col("vec_id").as("b"), col("sk").as("_skb")))
      .filter(col("a") < col("b"))
      .select(
        graft.functions.VectorFunctions
          .sketchCosUpper(col("_ska"), col("_skb")).as("native"),
        Dedup.qCosUpperUdf(
          col("_ska._1"), col("_ska._2"), col("_ska._3"),
          col("_skb._1"), col("_skb._2"), col("_skb._3")).as("viaUdf"))
      .collect()
    assert(both.length === (122 * 121) / 2)
    both.foreach { r =>
      val n = r.getDouble(0)
      // the Scala UDF yields NULL when a primitive arg is null (the
      // null-struct pairs); both forms must agree wherever the UDF is
      // defined, and the native form must be −∞ (filter-fail, identical
      // filter outcome) wherever it is not
      if (r.isNullAt(1)) assert(n === Double.NegativeInfinity)
      else assert(java.lang.Double.compare(n, r.getDouble(1)) === 0,
        s"native $n != udf ${r.getDouble(1)}")
    }
    assert(both.exists(r => r.getDouble(0) === Double.NegativeInfinity))
    assert(both.exists(r => !r.isNullAt(1) &&
      r.getDouble(0) != Double.NegativeInfinity))
  }

  test("sketch_cos_upper on mismatched code lengths is +Inf (keeps the pair)") {
    import org.apache.spark.sql.functions.col
    // a stale 32-byte sketch joined against a fresh 64-byte one: a
    // prefix dot with full-vector norms is NOT a sound upper bound —
    // it can fall below the true cosine and silently drop a true pair
    // (r19 review finding). +Inf keeps the pair for the exact verify.
    val rng = new scala.util.Random(29)
    val short = Seq((1L, Array.fill(32)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Dedup.verifySketchUdf(col("embedding")).as("sk"))
    val long = Seq((2L, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Dedup.verifySketchUdf(col("embedding")).as("sk"))
    val ub = short.select(col("sk").as("_ska"))
      .crossJoin(long.select(col("sk").as("_skb")))
      .select(graft.functions.VectorFunctions
        .sketchCosUpper(col("_ska"), col("_skb")).as("u"))
      .head().getDouble(0)
    assert(ub === Double.PositiveInfinity)
  }

  // --- duplicated-span removal (substring-level dedup) ------------------

  test("span removal: planted cross-doc run removed from BOTH docs, merged to one span") {
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 s1 s2 s3 s4 s5 s6 s7 a7 a8"),
      (2L, "b1 b2 s1 s2 s3 s4 s5 s6 s7 b3 b4 b5"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, n = 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // the shared 7-token run has 3 duplicated starts in each doc; they
    // merge (≤ n apart) into ONE span covering exactly the run
    assert(out(1L) === ((15L, 7L, 1L, "a1 a2 a3 a4 a5 a6 a7 a8")))
    assert(out(2L) === ((12L, 7L, 1L, "b1 b2 b3 b4 b5")))
    assert(out(3L) === ((9L, 0L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("span removal: WITHIN-doc repeats count; > n gap keeps two spans; short docs pass through") {
    val docs = Seq(
      (1L, "d1 d2 r1 r2 r3 r4 r5 d3 d4 r1 r2 r3 r4 r5 d5"),
      (2L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, n = 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // the 5-gram r1..r5 occurs at starts 3 and 10 in the SAME doc →
    // both occurrences removed; gap 7 > 5 → two separate spans
    assert(out(1L) === ((15L, 10L, 2L, "d1 d2 d3 d4 d5")))
    assert(out(2L) === ((3L, 0L, 0L, "x y z")))
  }

  test("span removal matches a brute-force reference on a dense seeded corpus") {
    // 4-word vocabulary → duplicated 5-grams everywhere: stresses island
    // merging, multi-span docs, and full-doc removal
    val rnd = new scala.util.Random(4242)
    val vocab = Array("a", "b", "c", "d")
    val n = 5
    val corpus = (1L to 30L).map { id =>
      id -> Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(4))).mkString(" ")
    }
    def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq }
      val grams = toks.flatMap { case (id, w) =>
        (0 to w.length - n).map(i => (id, i + 1, w.slice(i, i + n).mkString(" "))) }
      val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val dupByDoc = grams.filter(g => occ(g._3) >= 2)
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      toks.map { case (id, w) =>
        val starts = dupByDoc.getOrElse(id, Seq.empty[Int])
        val covered = starts.flatMap(s => s until s + n).toSet
        val kept = w.zipWithIndex.collect { case (t, i) if !covered(i + 1) => t }
        val spans =
          if (starts.isEmpty) 0
          else 1 + starts.sliding(2).count {
            case Seq(p, q) => q - p > n
            case _ => false
          }
        id -> ((w.length.toLong, (w.length - kept.length).toLong,
          spans.toLong, kept.mkString(" ")))
      }.toMap
    }
    val expect = brute(corpus)
    val got = Dedup.removeDuplicatedSpans(
        corpus.toDF("doc_id", "text"), n).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, v) => assert(v === expect(id), s"doc $id") }
    // the dense corpus must actually exercise multi-span and full-removal
    assert(expect.values.exists(_._3 >= 2L))
    assert(expect.values.exists(v => v._2 == v._1 && v._4.isEmpty))
  }

  test("positional shingles: one hash per start in order, repeats preserved") {
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    def hashes(distinct: Boolean): Seq[Long] = df.select(
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.HashedShingles(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")),
          2, distinct))).collect().head.getSeq[Long](0)
    val pos = hashes(distinct = false)
    val dis = hashes(distinct = true)
    assert(pos.length === 5)            // 6 tokens → 5 bigram starts
    assert(pos.distinct.length === 2)   // "a b" and "b a" alternate
    assert(pos(0) === pos(2) && pos(1) === pos(3))
    assert(dis === pos.distinct)        // first-occurrence order
  }

  test("dedup_survivors: each near-dup cluster keeps its LONGEST member, not min id") {
    // a 3-member near-dup cluster where the longest doc has the LARGEST
    // id — min-id survivorship and keep-longest must disagree here
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (Seq(
      (10L, base),                       // 30 tokens
      (11L, base + " tail"),             // 31 tokens
      (12L, base + " tail longer"),      // 32 tokens ← must survive
      (50L, (100 to 140).map(i => s"z$i").mkString(" "))) // unclustered
    ).toDF("doc_id", "text")
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = TmpDirs.scratch("graft_surv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Dedup.qDedupSurvivors(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 50L),
      s"keep-longest must keep doc 12 (the longest variant), got $kept")
  }

  test("split_neardup_safe: near-dup cluster members never straddle splits") {
    val out = Dedup.qNearDupSafeSplit(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4)))
    val docs = Tables.documents(spark, sf0001)
    // partition property: splits cover the corpus exactly once
    assert(out.map(_._3).sum === docs.count())
    // the fixtures' natural near-dup clusters make the audit
    // non-vacuous: multi-member groups exist and the naive per-doc
    // policy would scatter at least one member
    assert(out.map(_._3).sum > out.map(_._2).sum,
      "expected multi-member near-dup groups in the fixture")
    assert(out.map(_._4).sum > 0,
      "expected the naive per-doc split to leak at least one near-dup")
    // straddle-freedom: every cluster member carries its cluster's
    // split — recompute directly against the cluster table
    import org.apache.spark.sql.functions.countDistinct
    val clusters = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs).select(
        col("doc_a"), col("doc_b")))
    val straddling = clusters
      .select(col("doc_id"), col("canonical_doc_id"),
        graft.operators.CorpusOps.splitColumnOf(col("canonical_doc_id"))
          .as("split"))
      .groupBy("canonical_doc_id")
      .agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling === 0L)
  }

  test("SortedIntersectCount kernel equals size(array_intersect) on " +
      "sorted distinct arrays (r21 verify kernel)") {
    import org.apache.spark.sql.GraftColumnBridge
    def sic(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      GraftColumnBridge.column(graft.functions.SortedIntersectCount(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
    val rng = new scala.util.Random(11)
    // random sorted distinct arrays with forced overlap, plus edges:
    // identical, disjoint, empty-vs-nonempty, both empty, null array
    val rows: Seq[(Option[Seq[Long]], Option[Seq[Long]])] =
      (0 until 60).map { _ =>
        val pool = (0 until 40).map(_ => rng.nextLong() % 1000).distinct
        val a = pool.filter(_ => rng.nextBoolean()).sorted
        val b = pool.filter(_ => rng.nextBoolean()).sorted
        (Some(a), Some(b))
      } ++ Seq(
        (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L))),
        (Some(Seq(-5L, 0L, 9L)), Some(Seq(-4L, 1L, 10L))),
        (Some(Seq.empty[Long]), Some(Seq(1L, 2L))),
        (Some(Seq.empty[Long]), Some(Seq.empty[Long])),
        (None, Some(Seq(1L))))
    val df = rows.toDF("a", "b")
      .select(
        sic(col("a"), col("b")).as("kernel"),
        size(array_intersect(col("a"), col("b"))).as("builtin"),
        col("a").isNull.as("anull"))
      .collect()
    df.foreach { r =>
      if (r.getBoolean(2)) assert(r.isNullAt(0), "null array must be null")
      else assert(r.getInt(0) === r.getInt(1))
    }
  }

  test("verifyJaccard output unchanged by the sorted-merge kernel: " +
      "ngram pairs on the planted corpus match exhaustive jaccard") {
    // End-to-end guard on the r21 verify rewrite: the prefix-filtered
    // pipeline (which now verifies via SortedIntersectCount over
    // sort_array'ed shingles) must still equal a from-first-principles
    // exhaustive computation on a corpus with known pairs.
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (3L, 4L)))
    val j12 = pairs.find(p => p._1 == 1L).get._3
    assert(j12 > 0.5 && j12 < 1.0)
    assert(pairs.find(p => p._1 == 3L).get._3 === 1.0)
  }

  test("connectedComponents: driver union-find fast path ≡ distributed " +
      "pointer jumping on chains, stars, dups, self-loops, singleton pairs") {
    // Pin on the r22 small-graph fast path: both paths must emit the
    // identical (node, component-min) set. The graph exercises what the
    // iteration finds hard (a long chain — pointer-jumping's O(log d)
    // case), what union-find finds hard (adversarial merge order: the
    // chain arrives high-to-low so every union re-roots), plus a star,
    // duplicate and reversed edges, and a self-loop singleton.
    val chain = (100L until 140L).map(i => (i + 1, i)) // reversed order
    val star = (1L to 5L).map(i => (0L, i))
    val extras = Seq((200L, 201L), (201L, 200L), (200L, 201L), // dups
      (300L, 300L)) // self-loop
    val pairs = (chain ++ star ++ extras).toDF("doc_a", "doc_b")
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.connectedComponents(pairs))
    val dist = asMap(Dedup.connectedComponents(pairs, localMaxPairs = 0))
    assert(local === dist)
    assert(local((0L to 5L).head) === 0L)
    (100L to 140L).foreach(n => assert(local(n) === 100L, s"chain node $n"))
    assert(local(201L) === 200L)
    assert(local(300L) === 300L)
  }
}
