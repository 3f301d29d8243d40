package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide physical-plan invariants: whatever individual operator
  * specs pin, EVERY registered query must also be free of the two
  * plan shapes that cannot survive a 100 TB input. Runs on sf0.001 —
  * planning shapes, not timings. */
class PlanInvariantSpec extends AnyFunSuite with SparkFixture {

  /** Queries whose wrapper eagerly runs a stream rather than returning a
    * lazy frame; their operators are covered by StreamingSpec. */
  private val skip = Set("stream_tumbling", "stream_topk", "stream_sliding")

  /** BroadcastNestedLoopJoin is legitimate exactly where one side is
    * guaranteed tiny: the literal band table (a theta join by design), a
    * broadcast query batch, and the broadcast 1-row corpus-total scalars
    * of the corpus-stats queries. */
  private val bnljAllowed = Set("q18b_theta_band",
    "text_top_terms", "sim_batch_topk", "corpus_drift", "quantile_filter",
    "text_bm25",
    // broadcast 1-row corpus-count scalar crossed onto the anchors
    "neg_samples",
    // broadcast 1-row corpus-count scalar (sample modulus) crossed onto
    // the corpus scan and the band counts — constant-budget estimator
    // (the headline threshold-histogram name runs the sampled form)
    "dedup_threshold_hist",
    // broadcast 1-row grand-total scalar crossed onto the top-k slice
    "key_skew_audit",
    // lexical leg embeds text_bm25's broadcast 1-row corpus-stats scalar
    "hybrid_retrieval",
    // broadcast 1-row vocabulary-size scalar crossed onto the bigram
    // stream (the add-one-smoothing denominator)
    "lm_logprob",
    // broadcast 8-query-row frame crossed onto the codes scan — the
    // sim_batch_topk batch-serving shape on the quantized table
    "sim_quantized_batch",
    // broadcast 8-query-bits frame crossed onto the packed-bits scan
    // (the Hamming prefilter), same batch-serving shape
    "sim_binary_topk",
    // sim_binary_topk's shape PLUS the broadcast 16-row replication
    // range crossed onto the corpus scan (the SQL-reproducible 16×
    // blow-up that pushes N past recommendedPool's n/16 knee)
    "sim_binary_topk_scaled",
    // 8-row × 8-row broadcast pair join — bounded by nQueries², never
    // corpus-sized (Embeddings.projectionDistortion)
    "emb_project_distortion")

  /** Queries that intentionally plan an unpartitioned (global) Window —
    * the canonical 100 TB plan killer when it sits over corpus-sized data.
    * Every entry here windows a relation whose cardinality is bounded by
    * CONSTRUCTION, not by the input size, so the single-partition sort is
    * O(buckets), never O(corpus):
    *  - pack_sequences / shard_assembly: running offset over per-BUCKET
    *    totals (Packing.scala:90) — one row per packing bucket.
    *  - corpus_shuffle / token_budget_sample / neg_samples: same
    *    per-bucket offset (CorpusOps.scala:187,213; neg_samples rides on
    *    corpusShuffle's permutation).
    *  - quantile_filter: cumulative histogram over token-count buckets
    *    (CorpusOps.scala:107) — one row per distinct bucketed length.
    *  - mixture_weights: grand-total broadcast over one row per language
    *    (CorpusOps.scala:152).
    *  - source_overlap: dense int codes ranked over the DISTINCT source
    *    catalog (CorpusOps.sourceOverlap) — one row per source.
    *  - length_batches: batch-offset cumsum over one row per DISTINCT
    *    token count (Packing.lengthBatches) — bounded by the max doc
    *    length, never corpus rows.
    *  - hybrid_retrieval: per-leg rank row_number over each leg's
    *    TakeOrderedAndProject output (Similarity.hybridRetrievalFrames)
    *    — ≤ legK rows by the limit, never corpus rows.
    * Any OTHER query planning a global Window fails this suite: either
    * partition it, or document boundedness here and in the operator. */
  private val globalWindowAllowed = Set("pack_sequences", "shard_assembly",
    "corpus_shuffle", "token_budget_sample", "quantile_filter",
    "mixture_weights", "neg_samples", "source_overlap", "length_batches",
    "hybrid_retrieval",
    // corpus-total windows over the POST-AGGREGATION per-source table
    // (≤ #sources rows — the documented mixtureWeights shape)
    "corpus_domain_caps", "funnel_domain_capped")

  // ONE registry sweep serves every invariant: several query wrappers do
  // eager storage work on CONSTRUCTION (cow_time_travel builds a
  // three-version table, zorder_scan writes a clustered copy), so each
  // additional sweep would redo all of it just to look at plans.
  /** The driver's DuckDB gate canonicalizes each result frame in pandas
    * (sort_values over every column) — a nested-typed column
    * (array/map/struct) crashes that sort (`TypeError: unhashable type:
    * 'numpy.ndarray'` — round 17's one red row, emb_project), so an
    * oracle-registered query with a nested output ships UNVERIFIABLE no
    * matter how right its values are. Ban the shape registry-wide;
    * nested results explode/stringify before registration (the
    * emb_project long-form precedent). */
  private def assertAtomicOutput(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nested = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.sql}"
    }
    assert(nested.isEmpty,
      s"$name registers an oracle but emits nested-typed column(s) " +
        s"${nested.mkString(", ")} — the driver's pandas canonicalization " +
        "cannot sort/hash these (r17 emb_project); explode or stringify " +
        "before registering")
  }

  test("registry sweep: no cartesian/unintended-BNLJ; global Window only over bounded relations; oracle outputs atomic") {
    import org.apache.spark.sql.execution.window.WindowExec
    val oracleNames = SparkEntry.oracleSql.keySet
    val globalWindowOffenders = scala.collection.mutable.Set.empty[String]
    val bnljPlanners = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .foreach { case (name, fn) =>
        // sparkPlan (pre-AQE): join strategies and WindowExec placement
        // are both decided here, and AQE re-plans exchanges, never
        // those. Plain collect (not collectWithSubqueries):
        // pre-execution subquery expressions still hold LOGICAL plans,
        // and our subqueries are scalar aggregates.
        val df = fn(spark, sf0001)
        if (oracleNames(name)) assertAtomicOutput(name, df.schema)
        val plan = df.queryExecution.sparkPlan
        val planStr = plan.toString
        assert(!planStr.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n$planStr")
        if (planStr.contains("BroadcastNestedLoopJoin")) {
          assert(bnljAllowed(name),
            s"$name plans an unintended nested-loop join:\n$planStr")
          bnljPlanners += name
        }
        if (plan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty)
          globalWindowOffenders += name
      }
    val unexpected = globalWindowOffenders.toSet -- globalWindowAllowed
    val stale = globalWindowAllowed -- globalWindowOffenders
    assert(unexpected.isEmpty,
      s"global Window over a possibly-unbounded relation in: $unexpected")
    assert(stale.isEmpty,
      s"allowlist rot — these no longer plan a global Window: $stale")
    val staleBnlj = bnljAllowed -- bnljPlanners
    assert(staleBnlj.isEmpty,
      s"allowlist rot — these no longer plan a nested-loop join: $staleBnlj")
  }

  // The eager streaming wrappers are excluded from the plan sweep (their
  // operators are covered by StreamingSpec), but their OUTPUT SHAPE still
  // crosses the driver's oracle gate — run each once on sf0.001 just for
  // the atomic-schema assertion.
  test("eager streaming wrappers emit atomic oracle outputs too") {
    val oracleNames = SparkEntry.oracleSql.keySet
    skip.toSeq.sorted.foreach { name =>
      if (oracleNames(name))
        assertAtomicOutput(name, SparkEntry.queries(name)(spark, sf0001).schema)
    }
  }
}
