package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic pruning (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv:2303.09540): cluster the embedding space with
  * k-means, then compare vectors ONLY within their cluster and collapse
  * any group whose pairwise cosine clears a threshold down to one
  * representative. The lexical dedup family (MinHash/SimHash/spans)
  * removes copies of the same TEXT; this removes restatements of the
  * same CONTENT — the next pruning stage of a web-scale training
  * pipeline after exact and near-dup passes.
  *
  * Composition — nothing here is new machinery, which is the point:
  *   1. CLUSTERING — [[Similarity.fitCentroids]] (bounded driver-side
  *      sample, deterministic) + [[Similarity.refineCentroids]]
  *      (distributed spherical Lloyd pass over a bounded hash-sample —
  *      see [[DefaultMaxFitRows]]) + the codegen'd
  *      [[Similarity.assignCentroids]] argmax scan. k scales with the
  *      corpus (`n / clusterTarget`) up to [[DefaultKCeiling]], so
  *      cluster populations — and therefore per-cluster comparison
  *      cost — stay bounded while k grows, and the FIT cost is bounded
  *      by the ceiling once k stops growing: the SemDeDup contract
  *      that makes this cluster-bounded, never corpus², with a fit
  *      that is O(maxFitRows·kCeiling·d), never n².
  *   2. CANDIDATES — an ids-only self-join on `cid`. A degenerate
  *      cluster larger than `cap` (k-means collapsing a mass-duplicated
  *      region onto one centroid) degrades to star candidates around
  *      the cluster-min id ([[Dedup.splitHotKeysStar]] — the same guard
  *      every LSH candidate path uses), so no cluster can go quadratic.
  *   3. VERIFY + GROUP — [[Dedup.verifyCosinePairs]] (compact int8
  *      sketch prefilter, then exact cosine at surviving-candidate
  *      cardinality) and [[Dedup.connectedComponents]]; canonical id =
  *      component minimum, the survivorship rule shared with every
  *      other dedup path.
  *
  * Determinism: exact-duplicate vectors always land in the same cluster
  * (identical input → identical argmax even under ulp-level centroid
  * drift from distributed mean accumulation order) and verify at
  * cosine 1, so planted copies are caught unconditionally — the
  * property [[qSemanticGate]] pins against the oracle. Which NATURAL
  * near-restatements share a cluster depends on the fitted centroids
  * (the documented approximation of SemDeDup itself — pairs split
  * across cluster boundaries are missed), so the main query is
  * registered no-oracle/rows-only with the gate as its oracle-checked
  * companion, exactly the sim_ivf_topk / sim_recall discipline.
  */
object SemanticDedup {

  /** Cluster-population target: k = max(16, n/target) up to
    * [[DefaultKCeiling]]. 256 keeps the per-cluster candidate quadratic
    * ~3·10⁴ pairs — bounded work per cluster while k grows, with cluster
    * count (and so centroid-fit cost) growing linearly instead. */
  val DefaultClusterTarget = 256

  /** Ceiling on k (VERDICT r15 ask #1): without it, k ∝ n makes the
    * Lloyd refine pass n·k = n²/target multiplies — measured build_ratio
    * 5.61 at 100× (SCALE_STRESS_r15), quadratic at 100 TB. Fixed k is
    * what SemDeDup itself runs (Abbas et al. use a constant k, e.g. 50k
    * for LAION-440M, regardless of corpus size); with the ceiling plus
    * [[DefaultMaxFitRows]] the fit is O(maxFitRows · kCeiling · d) —
    * CONSTANT in the corpus. The trade is cluster population growing as
    * n/kCeiling past the bind point (n > kCeiling·clusterTarget); the
    * probe stays safe because an over-populated cluster is exactly what
    * the [[Dedup.splitHotKeysStar]] cap guard degrades (spec-pinned in
    * SemanticDedupSpec), and the cap is sized from the verify-pair
    * budget ([[recommendedCap]]) so the bind window itself has no wall
    * spike. Tune the ceiling to the deployment: this
    * default is sized to the registered corpus envelope so the bind is
    * measurable at the 100× stress; a web-scale ingest raises it
    * (paper-scale k) without touching the plan. */
  val DefaultKCeiling = 128

  /** Refine-pass sample bound (the other half of the r15 ask): the
    * driver-side seed fit ([[Similarity.fitCentroids]]) is already
    * sample-bound; this bounds the distributed Lloyd REFINE sweep too,
    * via a deterministic xxhash64 row sample (never `.sample()` — the
    * fit must be reproducible for the write-once cache key discipline).
    * Standard k-means-at-scale practice: centroids fitted on a bounded
    * sample, the full corpus only ever pays the O(k·d)-per-row assign
    * scan at probe time. */
  val DefaultMaxFitRows = 16384

  /** Hard ceiling on any derived cluster cap — the LSH bucket caps'
    * default, kept as the upper clamp of [[recommendedCap]] (and the
    * value explicit-cap callers historically passed). */
  val DefaultClusterCap = 2048

  /** Verify-pair budget behind [[recommendedCap]]: the worst-case cold
    * candidate volume the capped probe is allowed to pay, ~16.8M pairs
    * (2²⁴) ≈ low tens of seconds at the measured 0.75–3 µs/pair verify
    * throughput — the same order as the star path it neighbours, so the
    * bind window has no wall cliff in either direction. */
  val DefaultPairBudget: Long = 1L << 24

  /** THE CAP KNOB RULE (VERDICT r18 ask #3) — the [[DefaultClusterCap]]
    * fixed constant left a measured wall spike in the kCeiling bind
    * window: past the bind (n > kCeiling·clusterTarget = 32,768)
    * populations grow as n/k while a FIXED cap=2048 doesn't engage until
    * pops cross it (n ≈ 262k), so the within-cluster quadratic ran free
    * across the window — SCALE_STRESS_r18 measured 194 s at n=128k
    * (64.0M cold pairs) and 141 s at n=256k (183.4M, pops ≈ 2000 just
    * under the cap) vs 6.5 s at the bind and 18 s past full star
    * engagement, a 30× spike.
    *
    * The rule: size the cap from the PAIR BUDGET, not a constant —
    * `cap = sqrt(2·pairBudget/k)`, clamped to
    * [2·clusterTarget, DefaultClusterCap]. Sub-cap clusters contribute
    * at most cap²/2 pairs each, so k·cap²/2 ≤ pairBudget by
    * construction: the cold candidate volume is bounded at ~2²⁴ pairs
    * AT ANY CORPUS SIZE, and anything hotter degrades to the linear
    * star path. At the production kCeiling this lands on exactly
    * cap = 512 (√(2²⁵/2⁷) = 2⁹), which keeps every PRE-bind cluster
    * cold (pops ≈ clusterTarget = 256, measured p95 282 — half the
    * cap) and engages the star guard from pops > 512 (n ≳ 65k)
    * instead of pops > 2048 (n ≳ 262k).
    *
    *   k (fitted)   cap     worst cold pairs (k·cap²/2)
    *   16           1448    16.8M   (sqrt branch: budget exact)
    *   64           724     16.8M   (sqrt branch)
    *   128 (prod)   512     16.8M   (sqrt = floor boundary)
    *   ≥ 128        512     k·131k  (floor branch — linear in k)
    *
    * The floor (2·clusterTarget) keeps typical clusters cold whatever
    * k a caller fits; a deployment that raises kCeiling past 128
    * (paper-scale k) therefore accepts a budget linear in k — linear
    * in k is the POINT (never quadratic in n). The trade vs the old
    * constant is earlier star degradation (recall thins from pops >
    * 512, the documented SemDeDup guard trade, spec-pinned); the
    * registered fixtures sit far under both (pops ≤ ~150). */
  def recommendedCap(k: Int, pairBudget: Long = DefaultPairBudget): Int = {
    require(k > 0, s"recommendedCap: k must be positive, got $k")
    math.min(DefaultClusterCap.toLong,
      math.max(2L * DefaultClusterTarget,
        math.sqrt(2.0 * pairBudget / k).toLong)).toInt
  }

  /** Sentinel for "derive the cap from [[recommendedCap]] at the fitted
    * k" — the default of [[semanticPrune]]. */
  val AutoCap: Int = -1

  /** k for a corpus of n vectors: population-targeted, ceiling-capped. */
  private[graft] def fitK(n: Long, clusterTarget: Int = DefaultClusterTarget,
      kCeiling: Int = DefaultKCeiling): Int =
    math.min(kCeiling.toLong, math.max(16L, n / clusterTarget)).toInt

  /** The bounded centroid fit: seed on a driver-side sample, refine with
    * ONE distributed Lloyd pass over a deterministic hash-sample of at
    * most `maxFitRows` rows (the full frame when n is under the bound —
    * the sub-bound fit is bit-identical to the unbounded one, so
    * existing sf-scale results are unchanged). */
  private def boundedFit(e: DataFrame, n: Long, k: Int,
      maxFitRows: Int): Array[Array[Double]] = {
    val fitRows =
      if (n <= maxFitRows) e
      else {
        // ceil(n / maxFitRows): keep ~every m-th row by id hash —
        // deterministic, scan-local, no shuffle
        val m = (n + maxFitRows - 1) / maxFitRows
        e.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
      }
    Similarity.refineCentroids(fitRows,
      Similarity.fitCentroids(fitRows, k), iters = 1)
  }

  /** The production bounded fit at the default envelope — exposed for
    * the [[graft.Scale]] `semantic` capture, which times fit and probe
    * separately past the kCeiling bind point (VERDICT r16 ask #2). */
  private[graft] def fitCentroidsBounded(e: DataFrame, n: Long)
      : Array[Array[Double]] =
    boundedFit(e, n, fitK(n), DefaultMaxFitRows)

  /** (vec_id, canonical_vec_id) for every vector in a multi-member
    * semantic-duplicate group — canonical = group minimum. Keep policy
    * for a pipeline: drop rows where vec_id != canonical_vec_id. */
  def semanticPrune(e: DataFrame, threshold: Double = 0.95,
      clusterTarget: Int = DefaultClusterTarget,
      cap: Int = AutoCap,
      kCeiling: Int = DefaultKCeiling,
      maxFitRows: Int = DefaultMaxFitRows,
      sketches: Option[DataFrame] = None): DataFrame = {
    val n = e.count()
    if (n == 0) return emptyResult(e)
    val k = fitK(n, clusterTarget, kCeiling)
    val effCap = if (cap == AutoCap) recommendedCap(k) else cap
    pruneWithCentroids(e, boundedFit(e, n, k, maxFitRows), threshold, effCap,
      sketches)
  }

  private def emptyResult(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("vec_id").as("canonical_vec_id")).limit(0)

  /** The probe half: assign → within-cluster candidates → verify →
    * group, against ALREADY-FITTED centroids (per-call, or the
    * write-once materialized fit a real ingest produces). */
  private[graft] def pruneWithCentroids(e: DataFrame,
      centroids: Array[Array[Double]], threshold: Double,
      cap: Int, sketches: Option[DataFrame] = None): DataFrame = {
    val assigned = Similarity.assignCentroids(
      e.select(col("vec_id"), col("embedding")), centroids)
      .select(col("vec_id"), col("cid"))
    val (capped, hotSplit) = Dedup.splitHotKeysStar(
      assigned, Seq("cid"), "vec_id", cap, "semanticPrune")
    val l = capped.select(col("vec_id").as("vid_a"), col("cid"))
    val r = capped.select(col("vec_id").as("vid_b"), col("cid"))
    // cluster-bounded by construction; corpus-sized sides — never
    // broadcast (the ngramJaccardCore reasoning). No distinct() needed,
    // unlike the LSH band joins: each vector belongs to exactly ONE
    // cluster, so a pair can collide on at most one cid (and the star
    // branch covers only hot cids, which the cold side anti-joined away).
    val selfCands = l.join(r.hint("shuffle_hash"), Seq("cid"))
      .filter(col("vid_a") < col("vid_b"))
      .select("vid_a", "vid_b")
    val cands = hotSplit.fold(selfCands)(h => selfCands.unionAll(
      h.star.select(col("doc_a").as("vid_a"), col("doc_b").as("vid_b"))))
    // `sketches` = a caller's already-pinned (vec_id, sk) frame (r22:
    // qSemanticRecall pins the corpus sketches for its truth pass, then
    // the prune's verify re-ran the sketch UDF twice more — one corpus
    // pass + pin per join side — for identical values)
    val pairs = Dedup.verifyCosinePairs(cands, e, e, "vid_a", "vid_b",
      threshold, sketches)
    Dedup.connectedComponents(
        pairs.select(col("vid_a").as("doc_a"), col("vid_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"),
        col("canonical_doc_id").as("canonical_vec_id"))
      .orderBy("vec_id")
  }

  /** Bumped whenever the centroid-fit semantics change — rides in the
    * cache key (the int8-codes discipline). v2: kCeiling + bounded
    * refine sample (VERDICT r15 ask #1). */
  private val CentroidsVersion = 2

  /** Write-once materialized k-means fit for `dir`'s embeddings table:
    * SemDeDup clusters at INGEST (one fit per corpus), then every prune
    * probe reuses the centroids — the same write-once/probe-many split
    * as the IVF index. Stored as a (cid, centroid) parquet keyed on
    * (version, k, data fingerprint). */
  private def materializedCentroids(s: SparkSession, dir: String,
      n: Long, k: Int): Array[Array[Double]] = {
    val idx = MaterializedCache.artifact(MaterializedCache.Kind.SemCentroids,
        dir, "embeddings.parquet", CentroidsVersion, s"k$k") { tmp =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = boundedFit(e, n, k, DefaultMaxFitRows)
      import s.implicits._
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cid", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
    s.read.parquet(idx.toString).orderBy("cid")
      .collect().map(_.getSeq[Double](1).toArray)
  }

  /** Bumped whenever the materialized prune-table semantics change —
    * rides in the cache key (the int8-codes discipline). */
  private val PruneVersion = 1

  /** Write-once materialized semantic dup-groups table for `dir`'s
    * planted corpus (VERDICT r16 ask #6): SemDeDup prunes at INGEST —
    * the (vec_id, canonical_vec_id) groups table is built once per
    * corpus and SERVED many times, the same write-once/probe-many split
    * as the IVF index and int8 codes. Both `dedup_semantic` and
    * `dedup_semantic_gate` read this one artifact instead of each
    * re-running the full assign→candidates→verify→CC pass per sweep
    * (the r16 family priced the prune three times, ~8.6 s clean).
    *
    * Built UNCAPPED (cap=Int.MaxValue — the pure cluster-bounded plan):
    * the gate's completeness contract requires it (the hot-cluster star
    * guard deliberately thins pair sets), and sharing the gate's plan
    * with the main query is sound because the registered corpora sit
    * far under the cap (cluster populations ≤ n/16 ≪ DefaultClusterCap
    * at every sf fixture), where capped and uncapped emit identical
    * groups. The LIVE capped production plan stays exercised and
    * measured elsewhere: dedup_semantic_recall runs [[semanticPrune]]
    * with production defaults per call, SemanticDedupSpec pins the
    * star-guard degradation, and the [[graft.Scale]] `semantic` capture
    * measures the capped probe past the kCeiling bind point. */
  private def materializedPrune(s: SparkSession, dir: String): DataFrame = {
    val idx = MaterializedCache.artifact(MaterializedCache.Kind.SemPrune,
        dir, "embeddings.parquet", PruneVersion) { tmp =>
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val n = base.count()
      val out =
        if (n == 0) emptyResult(base)
        else pruneWithCentroids(plantedCorpus(s, dir)._1,
          materializedCentroids(s, dir, n, fitK(n)), threshold = 0.95,
          cap = Int.MaxValue)
      out.write.mode("overwrite").parquet(tmp.toString)
    }
    s.read.parquet(idx.toString)
  }

  /** Registered query (`dedup_semantic`): the embeddings corpus with
    * planted exact copies — every 10th vector re-keyed under a derived
    * offset — pruned against the write-once materialized centroid fit,
    * served from the write-once materialized groups table
    * ([[materializedPrune]]; clones assign identically to their
    * sources whatever the fit, so planting does not perturb it).
    * No-oracle (cluster membership for natural near-restatements
    * depends on the fitted centroids); [[qSemanticGate]] is the
    * oracle-checked companion. */
  def qSemanticPrune(s: SparkSession, dir: String): DataFrame =
    materializedPrune(s, dir).orderBy("vec_id")

  /** Planted corpus + the clone-id offset it used. The offset is DERIVED
    * (next 1M multiple above max(vec_id), via [[Dedup.plantOffset]]) —
    * a fixed constant would collide with real ids once a source table
    * grows past it (r15 ADVICE #3), silently corrupting the gate's
    * caught/planted accounting. */
  private def plantedCorpus(s: SparkSession, dir: String): (DataFrame, Long) = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val off = Dedup.plantOffset(e, "vec_id")
    (e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"))), off)
  }

  /** Registered gate (`dedup_semantic_gate`): the oracle-checkable
    * CONTRACT of the semantic prune — every planted exact copy MUST be
    * caught in the same group as its source (identical vectors share a
    * cluster and verify at cosine 1 regardless of where the centroids
    * landed). Emits (threshold, n_planted, all planted caught, pass);
    * the oracle recomputes n_planted from the table and supplies the
    * constant flags, so a clustering/verify/grouping regression flips a
    * flag and hash-mismatches. */
  def qSemanticGate(s: SparkSession, dir: String): DataFrame = {
    // UNCAPPED plan (the mm_neardup_gate discipline, r15 ADVICE #2): the
    // hot-cluster star guard deliberately thins pair sets (star edges
    // rep–clone can fail the 0.95 verify when a hot cluster holds
    // several distinct duplicate groups), so the completeness contract
    // is checked on the pure cluster-bounded plan — which is exactly
    // what [[materializedPrune]] stores, so the gate SERVES the shared
    // artifact instead of re-running the prune (r16 ask #6); the
    // guard's own degradation contract is spec-pinned separately
    // (SemanticDedupSpec).
    val out = Lineage.pin(materializedPrune(s, dir))
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val off = Dedup.plantOffset(e, "vec_id")
    val planted = e
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("src"), (col("vec_id") + off).as("clone"))
    // a clone is caught iff it resolves to the same component as its
    // source (source absent from the output = source is its own
    // canonical — the two-member {src, clone} group case)
    val canon = out.select(col("vec_id"), col("canonical_vec_id"))
    val joined = planted
      .join(canon.withColumnRenamed("vec_id", "clone")
        .withColumnRenamed("canonical_vec_id", "canon_clone"), Seq("clone"),
        "left")
      .join(canon.withColumnRenamed("vec_id", "src")
        .withColumnRenamed("canonical_vec_id", "canon_src"), Seq("src"),
        "left")
      .select(col("src"), col("canon_clone"),
        coalesce(col("canon_src"), col("src")).as("canon_src"))
    val nPlanted = planted.count()
    val caught = joined
      .filter(col("canon_clone").isNotNull &&
        col("canon_clone") === col("canon_src")).count()
    import s.implicits._
    Seq((0.95, nPlanted, caught == nPlanted, caught == nPlanted && nPlanted > 0))
      .toDF("threshold", "n_planted", "all_planted_caught", "pass")
  }

  /** Exhaustive-truth corpus size guard for [[qSemanticRecall]]: the
    * recall oracle is all-pairs BY DESIGN (that is what "exhaustive"
    * means) and therefore verification-scale only — it is excluded from
    * the scale-smoke family and this require makes a misuse loud instead
    * of quadratic. */
  val MaxRecallCorpus = 10000L

  /** Recall floor for [[qSemanticRecall]]. Measured 1.00 at
    * sf0.001/0.01/0.1 (every planted near-restatement lands in its
    * source's cluster under the bounded fit); 0.8 leaves headroom for
    * centroid drift from a legitimate fit change while still flagging a
    * real clustering regression (a fit that splits restatement pairs
    * across clusters at any rate ≥ 20% flips the gate). */
  val RecallFloor = 0.8

  /** Registered gate (`dedup_semantic_recall`, VERDICT r15 ask #3):
    * bounds the semantic prune's MISS RATE — the failure mode
    * [[qSemanticGate]] cannot see. The gate only proves planted EXACT
    * copies are caught (identical vectors share a cluster by argmax
    * determinism); a centroid regression that splits NATURAL
    * near-restatements (cosine ≥ threshold, but not identical) across
    * clusters is invisible to it, because cross-cluster pairs are the
    * documented SemDeDup approximation. This query makes that
    * approximation measurable, the sim_recall discipline applied to
    * dedup:
    *
    *   1. PLANT near-restatements: every 5th vector gets a clone under a
    *      derived offset, perturbed by 0.25·rot₁(v) (each element picks
    *      up a quarter of its right neighbour, wrapping) — cosine to the
    *      source ≈ 0.97 for near-uniform vectors (∈ [0.95, 1) across all
    *      fixtures, far from both the threshold and exactness), so the
    *      clone is a genuine restatement, not a copy: nothing guarantees
    *      it shares the source's cluster.
    *   2. EXHAUSTIVE truth set, computed IN-ENGINE: every unordered pair
    *      with exact cosine ≥ threshold, via an ids-only broadcast
    *      nested-loop pair generator into the shared sketch-prefiltered
    *      exact verify ([[Dedup.verifyCosinePairs]]). All-pairs by
    *      design → verification-scale only ([[MaxRecallCorpus]];
    *      excluded from the `graft.Scale family` set). The fixtures' natural
    *      max off-diagonal cosine is ≤ 0.61, so the truth set is exactly
    *      the planted pairs — which is what lets the DuckDB oracle
    *      recompute `n_true_pairs` from the table (a spurious or missing
    *      truth pair hash-mismatches the row before recall is even
    *      considered).
    *   3. RECALL of the cluster-bounded pass: the fraction of truth
    *      pairs whose endpoints share a connected component in
    *      [[semanticPrune]]'s output (run with the production defaults —
    *      bounded fit, ceiling, cap), gated at [[RecallFloor]].
    */
  def qSemanticRecall(s: SparkSession, dir: String,
      threshold: Double = 0.95): DataFrame = {
    import s.implicits._
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val n = base.count()
    // Empty corpus: recall over zero truth pairs is vacuously 1.0, so
    // recall_ok=true and pass=false only via n_true_pairs=0 — the same
    // flags the n>0 branch would emit for an empty truth set, and the
    // shape the conditional oracle expects (r16 ADVICE: the old
    // false/false row would hash-mismatch an empty fixture as a fake
    // regression).
    if (n == 0)
      return Seq((threshold, 0L, RecallFloor, true, false))
        .toDF("threshold", "n_true_pairs", "floor", "recall_ok", "pass")
    require(n <= MaxRecallCorpus,
      s"dedup_semantic_recall: exhaustive truth is verification-scale " +
        s"only (n=$n > $MaxRecallCorpus)")
    val off = Dedup.plantOffset(base, "vec_id")
    val restated = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.25f) * element_at(col("embedding"),
            pmod(i + 1, size(col("embedding"))) + 1)).as("embedding"))
    val corpus = Lineage.pin(base.unionByName(restated))
    // Exhaustive truth via an all-pairs broadcast nested loop — with the
    // SOUND sketch upper bound ([[Dedup.verifySketchUdf]] /
    // sketchCosUpper, the bound every near-dup verify path uses)
    // evaluated INSIDE the join condition (r21): the old formulation
    // emitted all n²/2 id pairs and then joined the sketches back onto
    // that 46M-row table twice before filtering — three corpus²-sized
    // stages for a filter that sheds ~everything. Evaluating the bound
    // in the BNLJ emits only the survivors (≈ true pairs +
    // near-threshold noise), so nothing quadratic is ever materialized.
    // The bound can never drop a true pair (upper ≥ cos — the
    // exact-preserving contract its scaladoc pins), so the verified
    // truth set is IDENTICAL.
    val sk = Lineage.pin(corpus.select(col("vec_id"),
      Dedup.verifySketchUdf(col("embedding")).as("sk")))
    val skA = sk.select(col("vec_id").as("vid_a"), col("sk").as("_ska"))
    val skB = sk.select(col("vec_id").as("vid_b"), col("sk").as("_skb"))
    val allPairs = skA.join(broadcast(skB),
        col("vid_a") < col("vid_b") &&
          graft.functions.VectorFunctions.sketchCosUpper(
            col("_ska"), col("_skb")) >= threshold)
      .select("vid_a", "vid_b")
    val truth = Lineage.pin(Dedup.verifyCosinePairs(allPairs, corpus, corpus,
      "vid_a", "vid_b", threshold, sketches = Some(sk)))
    val nTrue = truth.count()
    // the live cluster-bounded pass, production defaults (capped — recall
    // measures the plan a pipeline actually runs, unlike qSemanticGate's
    // uncapped completeness check); the pinned sketch frame rides in so
    // the verify stage reads it instead of re-sketching the corpus twice
    val canon = Lineage.pin(semanticPrune(corpus, threshold, sketches = Some(sk)))
    val caught = truth
      .join(canon.select(col("vec_id").as("vid_a"),
        col("canonical_vec_id").as("canon_a")), Seq("vid_a"), "left")
      .join(canon.select(col("vec_id").as("vid_b"),
        col("canonical_vec_id").as("canon_b")), Seq("vid_b"), "left")
      // a vector absent from the prune output is its own canonical
      .filter(coalesce(col("canon_a"), col("vid_a")) ===
        coalesce(col("canon_b"), col("vid_b")))
      .count()
    val recall = if (nTrue == 0) 1.0 else caught.toDouble / nTrue
    Seq((threshold, nTrue, RecallFloor, recall >= RecallFloor,
      recall >= RecallFloor && nTrue > 0))
      .toDF("threshold", "n_true_pairs", "floor", "recall_ok", "pass")
  }
}
