package graft

import graft.operators.{CorpusOps, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("splitColumn matches an independent md5 recomputation and partitions the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val got = docs.select(col("doc_id"), CorpusOps.splitColumn("doc_id").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (id, split) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expected = hex.charAt(0) match {
        case c if c <= '9' || c == 'a' || c == 'b' => "train"
        case 'c' | 'd' => "val"
        case _ => "test"
      }
      assert(split === expected, s"doc $id hex ${hex.take(1)}")
    }
    // all three splits are populated at 50 docs with overwhelming
    // probability (p(missing val or test) < 0.2%); a miss here means the
    // digit buckets regressed, not bad luck
    assert(got.values.toSet === Set("train", "val", "test"))
  }

  test("splitAssign counts reconcile with the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val agg = CorpusOps.splitAssign(docs)
    assert(agg.agg(sum("n_docs")).head.getLong(0) === docs.count())
  }

  test("corpusDrift: identical distributions give js_term 0 for every lang") {
    // each lang appears the same number of times in slice A (doc_id < 4)
    // and slice B
    val docs = Seq(
      (0L, "x", "en"), (1L, "x", "en"), (2L, "x", "de"), (3L, "x", "de"),
      (4L, "x", "en"), (5L, "x", "en"), (6L, "x", "de"), (7L, "x", "de"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.corpusDrift(docs, col("doc_id") < 4).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Double]("p_a") === r.getAs[Double]("p_b"))
      assert(r.getAs[Double]("js_term") === 0.0)
    }
  }

  test("corpusDrift: an empty slice is the zero distribution, never NaN") {
    // drift against a not-yet-landed snapshot: slice A matches nothing.
    // Unguarded this was p_a = 0/0 = NaN in every row (r19 review
    // finding); the zero distribution is the defined answer.
    val docs = Seq((0L, "x", "en"), (1L, "x", "de"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.corpusDrift(docs, lit(false)).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Double]("p_a") === 0.0)
      assert(!r.getAs[Double]("p_b").isNaN)
      assert(!r.getAs[Double]("js_term").isNaN)
    }
  }

  test("mixtureWeights: a zero-token lang upsamples by 0, never NaN") {
    val docs = Seq((0L, "a b c", "en"), (1L, "", "xx"), (2L, null, "xx"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.mixtureWeights(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("upsample_factor")).toMap
    assert(out("xx") === 0.0)
    assert(!out("en").isNaN && out("en") > 0.0)
  }

  test("keepThreshold: exact past the former Long-overflow ceiling (~1.4e14 tokens)") {
    // 65536·total as a Long wraps negative at total >= 2^47, silently
    // dropping every document (r19 review finding); the DECIMAL(38,0)
    // product stays exact. Capped and uncapped points both pinned.
    val df = Seq(
      (1L << 48, 1L << 46),  // share 1/4 = at the cap -> 65536
      (1L << 48, 1L << 47),  // share 1/2 -> 65536*2^48/(4*2^47) = 32768
      (1L << 48, 0L))        // zero-token source -> full keep
      .toDF("total_tokens", "n_tokens")
    val got = df.select(CorpusOps
        .keepThreshold("n_tokens", "total_tokens", maxShareDen = 4)
        .as("t"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(65536L, 32768L, 65536L))
  }

  test("corpusDrift: disjoint languages give the maximal ln(2)/2 term each side") {
    val docs = Seq((0L, "x", "en"), (1L, "x", "de"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.corpusDrift(docs, col("doc_id") === 0)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("js_term")).toMap
    // p=1 on one side, 0 on the other: term = 0.5·1·ln(1/0.5) = ln(2)/2
    val half = BigDecimal(math.log(2.0) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("en") === half)
    assert(out("de") === half)
    // full JSD over both langs = ln(2): the maximum for disjoint supports
  }

  test("quantileFilter drops exactly the docs below the k-th smallest token count") {
    // token counts 1..10; p10 order statistic k = ceil(10/10) = 1 → the
    // smallest value (1) is the threshold and everything survives
    val docs = (1 to 10)
      .map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    assert(CorpusOps.quantileFilter(docs, tenths = 1).count() === 10)
    // p30: k = ceil(30·10/100) = 3 → threshold 3, docs 1..2 dropped
    val p30 = CorpusOps.quantileFilter(docs, tenths = 3)
    assert(p30.count() === 8)
    assert(p30.agg(min("n_tokens")).head.getLong(0) === 3L)
    assert(p30.select("p_threshold").distinct().head.getLong(0) === 3L)
  }

  test("quantileFilter: ties at the threshold are kept (>= semantics)") {
    val docs = Seq.tabulate(10)(i => (i.toLong, if (i < 5) "a" else "a b"))
      .toDF("doc_id", "text")
    // counts: 5×1, 5×2; p50 → k=5 → threshold = 1 → all kept
    assert(CorpusOps.quantileFilter(docs, tenths = 5).count() === 10)
  }

  test("langTokenStats: exact per-language medians and totals") {
    val docs = Seq(
      (0L, "a", "en"), (1L, "a b", "en"), (2L, "a b c", "en"),
      (3L, "a b c d", "de"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusOps.langTokenStats(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Long]("n_docs") === 3L)
    assert(out("en").getAs[Long]("total_tokens") === 6L)
    assert(out("en").getAs[Double]("p50_tokens") === 2.0)
    assert(out("de").getAs[Double]("avg_tokens") === 4.0)
  }

  test("corpusShuffle is a contiguous 1..N permutation matching the md5 order") {
    val docs = Tables.documents(spark, sf0001)
    val out = CorpusOps.corpusShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = docs.count()
    assert(out.map(_._2).toSeq === (1L to n).toSeq, "positions not contiguous")
    // independent recompute: sort ids by (md5 hex, id) on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = out.map(_._1).sortBy(id => (hex(id), id))
    assert(out.sortBy(_._2).map(_._1).toSeq === expected.toSeq)
  }

  test("corpusShuffle: the only unpartitioned window input is the bucket table") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = CorpusOps.corpusShuffle(Tables.documents(spark, sf0001))
      .queryExecution.optimizedPlan
    val globals = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globals.size === 1, "expected exactly one global window (offsets)")
    // it must consume the ≤256-row bucket aggregate, not the corpus
    assert(globals.head.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "global window must sit on the bucket-count aggregate")
  }

  test("tokenBudgetSample: maximal prefix under the budget, deterministic") {
    val docs = Tables.documents(spark, sf0001)
    val budget = 3000L
    val out = CorpusOps.tokenBudgetSample(docs, budget).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    assert(total <= budget)
    assert(out.last.getAs[Long]("cum_tokens") === total)
    // maximality: recompute the full shuffle-ordered stream and check the
    // cut is exactly where the budget first overflows
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val all = CorpusOps.tokenBudgetSample(docs, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens")))
      .sortBy { case (id, _) => (hex(id), id) }
    val expectedKeep = all.scanLeft(0L)(_ + _._2).tail
      .count(_ <= budget)
    assert(out.length === expectedKeep)
  }

  test("incrementalNearDups equals the exhaustive cross-pair subset") {
    val docs = Tables.documents(spark, sf0001)
    val isBatch = col("doc_id") % 10 === 0
    val inc = Dedup.incrementalNearDups(docs, isBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.collect {
      case (a, b, j) if (a % 10 == 0) != (b % 10 == 0) =>
        if (a % 10 == 0) (b, a, j) else (a, b, j)
    }.toSet
    assert(inc === expected)
  }

  test("incrementalNearDups never pairs within a side") {
    val docs = Tables.documents(spark, sf0001)
    val inc = Dedup.incrementalNearDups(docs, col("doc_id") % 10 === 0)
    assert(inc.filter(col("corpus_doc_id") % 10 === 0).count() === 0)
    assert(inc.filter(col("batch_doc_id") % 10 =!= 0).count() === 0)
  }

  test("mixtureWeights: weights sum to 1, budget respected, τ<1 flattens the mix") {
    val docs = Tables.documents(spark, sf0001)
    val budget = 100000L
    val half = CorpusOps.mixtureWeights(docs, tau = 0.5, budgetTokens = budget)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Double]("weight"), r.getAs[Long]("target_tokens"),
          r.getAs[Long]("total_tokens"))).toMap
    assert(half.nonEmpty)
    val wsum = half.values.map(_._1).sum
    assert(math.abs(wsum - 1.0) < 1e-2 * half.size,
      s"weights should sum to ~1, got $wsum")
    assert(half.values.map(_._2).sum <= budget,
      "floor'd allocations must not exceed the budget")
    // Temperature flattening: at τ=0.5 the smallest group's SHARE must
    // exceed its τ=1 (proportional-to-tokens) share, and the largest
    // group's share must shrink — the whole point of the knob.
    val flat = CorpusOps.mixtureWeights(docs, tau = 1.0, budgetTokens = budget)
      .collect().map(r => r.getAs[String]("lang") ->
        r.getAs[Double]("weight")).toMap
    if (half.size > 1) {
      val minLang = half.minBy(_._2._3)._1
      val maxLang = half.maxBy(_._2._3)._1
      assert(half(minLang)._1 > flat(minLang),
        "τ=0.5 must upweight the smallest group vs proportional")
      assert(half(maxLang)._1 < flat(maxLang),
        "τ=0.5 must downweight the largest group vs proportional")
    }
  }

  test("incrementalNearDups hot buckets degrade to star edges, batch docs still matched") {
    // 300 near-identical docs (every (band,sig) bucket is hot at cap 16):
    // each batch doc must still surface with at least one verified
    // corpus edge through the star path
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val isBatch = col("doc_id") % 10 === 0
    val inc = Dedup.incrementalNearDups(docs, isBatch, dfCap = Some(16))
    val matchedBatch = inc.select("batch_doc_id").distinct().count()
    assert(matchedBatch === 30L,
      "every batch doc should have a verified corpus match")
    assert(inc.filter(col("jaccard") < 1.0).count() === 0)
  }

  test("incrementalNearDups: a bucket with no side over the cap joins in full") {
    // 14 corpus + 10 batch identical docs at cap 16: the bucket holds 24
    // ids, but neither side alone holds more than 16, so every
    // corpus x batch pair is a candidate and verifies at jaccard 1
    val docs = Seq.tabulate(24)(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val inc = Dedup.incrementalNearDups(docs, col("doc_id") >= 14,
      dfCap = Some(16))
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = for (c <- 0L until 14L; b <- 14L until 24L) yield (c, b)
    assert(got === all.toSet)
    assert(inc.filter(col("jaccard") < 1.0).count() === 0)
  }

  test("sourceOverlap: hand-computed Jaccard on a 3-source fixture") {
    // srcA: shingles {a b c, b c d} ; srcB: {a b c, b c e} ; srcC: {x y z}
    val docs = Seq(
      (1L, "a b c d", "srcA"),
      (2L, "a b c e", "srcB"),
      (3L, "x y z", "srcC"),
      (4L, "a b c", "srcB") // duplicate shingle within source: counted once
    ).toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // A∩B = {a b c}: |A|=2, |B|=2 → 1/(2+2-1) = 0.3333; C overlaps nothing
    assert(out.toSeq === Seq(("srcA", "srcB", 1L, 0.3333)))
  }

  test("negativeSamples: k ring successors, no self-pairs, reproducible") {
    val docs = Tables.documents(spark, sf0001)
    val n = docs.count()
    val out = CorpusOps.negativeSamples(docs, k = 3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc gets exactly k negatives (N ≫ k), none of them itself
    assert(rows.length === n * 3)
    assert(rows.groupBy(_._1).values.forall(_.length == 3))
    assert(rows.forall { case (a, _, b) => a != b })
    // per anchor the 3 negatives are distinct (ring positions differ)
    assert(rows.groupBy(_._1).values.forall(_.map(_._3).distinct.length == 3))
    // deterministic: a second run is identical
    val again = CorpusOps.negativeSamples(docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === rows.toSeq)
    // ring semantics: j=1 negative of X is the shuffle successor of X
    val pos = CorpusOps.corpusShuffle(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val posOf = pos.map(_.swap)
    rows.filter(_._2 == 1L).take(50).foreach { case (a, _, b) =>
      val expect = pos(posOf(a) % n + 1)
      assert(b === expect, s"j=1 successor of $a should be $expect")
    }
  }

  test("domainCaps: over-cap source throttled, balanced sources full-keep, dups counted") {
    import spark.implicits._
    // srcA: 12 unique docs of 10 tokens (80% of tokens — way over 1/4);
    // srcB: 2 unique docs (20%, under cap) + one verbatim dup
    val rows =
      (1 to 12).map(i => (i.toLong, "srcA", s"a$i " + Seq.fill(9)("w").mkString(" "))) ++
      (21 to 22).map(i => (i.toLong, "srcB", s"b$i " + Seq.fill(9)("w").mkString(" "))) :+
      (25L, "srcB", "b21 " + Seq.fill(9)("w").mkString(" ")) // dup of 21
    val docs = rows.toDF("doc_id", "source", "text")
    val out = graft.operators.CorpusOps.domainCaps(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(6))).toMap
    val (aDocs, aDups, aTokens, aThr) = out("srcA")
    val (bDocs, bDups, bTokens, bThr) = out("srcB")
    assert((aDocs, aDups, aTokens) === (12L, 0L, 120L))
    assert((bDocs, bDups, bTokens) === (3L, 1L, 30L))
    // srcA: share 120/150 > 1/4 → threshold = 65536*150 div (4*120) = 20480
    assert(aThr === 65536L * 150 / (4 * 120))
    assert(bThr === 65536L, "under-cap source keeps everything")
    // the keep predicate respects the threshold semantics exactly
    val kept = docs.filter(col("source") === "srcA")
      .join(broadcast(Seq(("srcA", aThr)).toDF("source", "keep_threshold")),
        "source")
      .filter(graft.operators.CorpusOps
        .capKeepPredicate("doc_id", "keep_threshold"))
      .count()
    assert(kept < 12L, "an over-cap source must actually lose docs")
  }

  test("funnel_domain_capped: stages monotone, every stage does real work on the planted corpus") {
    val out = graft.operators.CorpusOps.qFunnelDomainCapped(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).toSeq === Seq("raw", "dedup_exact", "domain_cap"))
    val docs = out.map(_._3)
    assert(docs(0) > docs(1), "dedup must remove the planted verbatim clones")
    assert(docs(1) > docs(2), "the cap must downsample the planted hot domain")
    val toks = out.map(_._4)
    assert(toks(0) > toks(1) && toks(1) > toks(2))
  }

  test("split_groupsafe: no group straddles splits; naive per-doc policy provably leaks") {
    val out = CorpusOps.qGroupSafeSplit(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // planted verbatim clones make real multi-member groups: docs > groups
    assert(out.map(_._3).sum > out.map(_._2).sum)
    // the audit column is non-vacuous — the per-doc policy would have
    // scattered at least one clone away from its group's split
    assert(out.map(_._5).sum > 0,
      "expected the naive per-doc split to leak at least one planted clone")
    // group-keyed assignment itself never straddles: every doc of a group
    // carries the group's split, so summing docs per split equals the
    // corpus (planting included) with no double count
    val d = Tables.documents(spark, sf0001)
    val planted = d.count() + d.filter(col("doc_id") % 25 === 0).count()
    assert(out.map(_._3).sum === planted)
  }

  test("sourceOverlap: self-join fanout is bounded by the source catalog") {
    val docs = Tables.documents(spark, sf0001)
    val out = CorpusOps.sourceOverlap(docs)
    val nSources = docs.select("source").distinct().count()
    assert(out.count() <= nSources * (nSources - 1) / 2)
    // symmetric-pair hygiene: strictly ordered, no self-pairs
    assert(out.filter(col("source_a") >= col("source_b")).count() === 0)
  }
}
