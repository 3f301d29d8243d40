package graft

import graft.operators.SemanticDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SemanticDedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val rng = new scala.util.Random(5)
  private def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)

  test("planted semantic duplicates collapse to one representative per group") {
    // two "restatement" groups (tiny perturbations of a base vector —
    // cosine ≈ 1) amid noise; each group must come out as one component
    // with the min id canonical, and no noise vector may be pruned
    val baseA = vec()
    val baseB = vec()
    val rows =
      Seq((10L, baseA), (11L, baseA.map(_ + 0.005f)), (12L, baseA.map(_ * 1.01f)),
        (20L, baseB), (21L, baseB.map(_ + 0.005f))) ++
        (100 until 140).map(i => (i.toLong, vec()))
    val e = rows.toDF("vec_id", "embedding")
    val out = SemanticDedup.semanticPrune(e, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.view.filterKeys(Set(10L, 11L, 12L)).values.toSet === Set(10L))
    assert(out.view.filterKeys(Set(20L, 21L)).values.toSet === Set(20L))
    assert(out.keySet.forall(k => k < 100L), s"noise pruned: $out")
  }

  test("degenerate cluster beyond the cap degrades to a star; CC recovers the group") {
    // 60 exact copies all land on one centroid — with cap 16 the
    // within-cluster self-join would be C(60,2)=1770 candidate pairs;
    // the star guard must hold it to 59 spanning edges, and the
    // component still covers all 60 members
    val base = vec()
    val e = ((0 until 60).map(i => (i.toLong, base.clone())) ++
      (100 until 130).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val out = SemanticDedup.semanticPrune(e, threshold = 0.99,
      clusterTarget = 4, cap = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 60).foreach(i => assert(out(i.toLong) === 0L,
      s"copy $i fell out of the degraded hot cluster"))
    assert(out.keySet.forall(_ < 60L))
  }

  test("fitK: population-targeted below the ceiling, capped above it") {
    // below the bind point k grows with n (population stays ~target)…
    assert(SemanticDedup.fitK(500L) === 16)
    assert(SemanticDedup.fitK(25600L) === 100)
    // …and at n > kCeiling·clusterTarget the ceiling binds, making the
    // fit O(maxFitRows·kCeiling) CONSTANT in the corpus; the trade is
    // cluster population growing as n/kCeiling, which is the hot-cluster
    // star guard's job (pinned below)
    assert(SemanticDedup.fitK(100L * 500L) === SemanticDedup.DefaultKCeiling)
    assert(SemanticDedup.fitK(Long.MaxValue / 2) === SemanticDedup.DefaultKCeiling)
  }

  test("recommendedCap: pair-budget-derived, clamped to [2·target, DefaultClusterCap]") {
    // sqrt branch: k·cap²/2 ≤ pairBudget exactly — the bind-window
    // wall-spike fix (r18's fixed cap=2048 let 183M cold pairs through)
    assert(SemanticDedup.recommendedCap(128) === 512)
    assert(SemanticDedup.recommendedCap(64) === 724)
    assert(SemanticDedup.recommendedCap(16) === 1448)
    // upper clamp: tiny k would blow past the LSH-family cap
    assert(SemanticDedup.recommendedCap(1) === SemanticDedup.DefaultClusterCap)
    // floor: 2·clusterTarget keeps typical (≈target-population) clusters
    // cold whatever k a caller fits — a raised kCeiling accepts a budget
    // linear in k, never quadratic in n
    assert(SemanticDedup.recommendedCap(100000) ===
      2 * SemanticDedup.DefaultClusterTarget)
    // the budget invariant on the sqrt branch, across the k ladder the
    // production fit can actually produce (16..kCeiling)
    (16 to SemanticDedup.DefaultKCeiling).foreach { k =>
      val cap = SemanticDedup.recommendedCap(k).toLong
      assert(k * cap * cap / 2 <= SemanticDedup.DefaultPairBudget * 2,
        s"k=$k cap=$cap busts the pair budget")
    }
  }

  test("semanticPrune default cap is the derived rule (AutoCap == explicit recommendedCap)") {
    // a hot cluster (all-identical vectors) sized between the derived
    // cap at the fitted k and the old 2048 constant: the default call
    // must degrade it to a star exactly like the explicit derived cap —
    // and both still recover the full group through CC
    val base = vec()
    val e = ((0 until 40).map(i => (i.toLong, base.clone())) ++
      (100 until 130).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val auto = SemanticDedup.semanticPrune(e, threshold = 0.99,
      clusterTarget = 4, kCeiling = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val explicit = SemanticDedup.semanticPrune(e, threshold = 0.99,
      clusterTarget = 4, kCeiling = 8,
      cap = SemanticDedup.recommendedCap(SemanticDedup.fitK(70L, 4, 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(auto === explicit)
    assert((0 until 40).forall(i => auto.contains((i.toLong, 0L))))
  }

  test("bounded fit (tiny maxFitRows) still collapses planted groups; probe semantics survive the sample bound") {
    // the refine sample is a DETERMINISTIC hash subset — a fit from 1/4
    // of the rows must still put identical vectors in one cluster
    // (argmax determinism is fit-independent) and verify them at cos 1
    val base = vec()
    val rows = Seq((10L, base), (11L, base.clone())) ++
      (100 until 160).map(i => (i.toLong, vec()))
    val e = rows.toDF("vec_id", "embedding")
    val out = SemanticDedup.semanticPrune(e, threshold = 0.95,
      maxFitRows = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(10L) === 10L && out(11L) === 10L)
    assert(out.keySet.forall(_ < 100L), s"noise pruned: $out")
  }

  test("empty corpus returns empty, no crash") {
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SemanticDedup.semanticPrune(e).count() === 0L)
  }

  test("gate query passes end to end on a parquet corpus") {
    val e = ((0 until 50).map(i => (i.toLong, vec())))
      .toDF("vec_id", "embedding")
    val dir = TmpDirs.scratch("graft_semdedup").toString
    e.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val row = SemanticDedup.qSemanticGate(spark, dir).head()
    assert(row.getDouble(0) === 0.95)
    assert(row.getLong(1) === 5L) // vec_ids 0,10,20,30,40
    assert(row.getBoolean(2), "every planted clone must be caught")
    assert(row.getBoolean(3))
  }

  test("planted clone ids derive from max(vec_id) — no collision at any id scale") {
    // ids already past the old fixed 1M offset (the scaled-dir shape,
    // r15 ADVICE #3): the gate must still count every planted clone,
    // which requires the derived offset to clear the real id range
    val e = ((0 until 50).map(i => (i.toLong * 1000000L, vec())))
      .toDF("vec_id", "embedding")
    val dir = TmpDirs.scratch("graft_semdedup_off").toString
    e.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val row = SemanticDedup.qSemanticGate(spark, dir).head()
    assert(row.getLong(1) === 50L) // every id is % 10 == 0 here
    assert(row.getBoolean(2) && row.getBoolean(3))
  }

  test("recall gate: exhaustive truth finds exactly the planted restatements; cluster-bounded recall clears the floor") {
    val e = ((0 until 60).map(i => (i.toLong, vec())))
      .toDF("vec_id", "embedding")
    val dir = TmpDirs.scratch("graft_semrecall").toString
    e.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val row = SemanticDedup.qSemanticRecall(spark, dir).head()
    assert(row.getDouble(0) === 0.95)
    // 12 planted near-restatements (vec_ids 0,5,…,55) and NOTHING else:
    // a spurious natural pair here means the perturbation drifted out of
    // its [0.95, 1) envelope
    assert(row.getLong(1) === 12L)
    assert(row.getDouble(2) === SemanticDedup.RecallFloor)
    assert(row.getBoolean(3), "recall under the floor")
    assert(row.getBoolean(4))
  }

  test("recall gate refuses a corpus past the exhaustive-truth bound") {
    import org.apache.spark.sql.functions._
    val dir = TmpDirs.scratch("graft_semrecall_big").toString
    spark.range(SemanticDedup.MaxRecallCorpus + 1)
      .select(col("id").as("vec_id"),
        array(Seq.fill(4)(rand(7).cast("float")): _*).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      SemanticDedup.qSemanticRecall(spark, dir).head()
    }
    assert(ex.getMessage.contains("verification-scale only"))
  }
}
