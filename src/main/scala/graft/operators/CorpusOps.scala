package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-management operators — the dataset-curation steps a training
  * pipeline runs AROUND the per-document ones: deterministic split
  * assignment, distribution-drift measurement between corpus snapshots,
  * and exact quantile-threshold filtering.
  *
  * Scale shape: everything here is a single codegen'd scan plus a
  * SMALL-side aggregate (per-language counts, a token-length histogram)
  * — the corpus-sized stream is never shuffled except to group by a
  * low-cardinality key, and the derived threshold/total tables travel
  * back as broadcast one-row (or vocab-sized) frames. No driver-side
  * collect anywhere.
  */
object CorpusOps {

  /** Token count per doc — [[Packing.nTokensUdf]]'s single primitive
    * pass (identical semantics to counting the non-empty single-space
    * split tokens the oracles pin; the declarative filter/split form
    * runs the lambda through the interpreted HOF evaluator AND
    * materializes the token array just to count it — the repo's
    * measured ~30× rule). */
  private def nTokens(c: Column): Column = Packing.nTokensUdf(c)

  /** Deterministic train/val/test assignment from the first hex digit of
    * `md5(decimal key)` — the same engine-portable trick as
    * [[Sampling.hashSample]], so the SAME rows land in the same split in
    * Spark, DuckDB, and every rerun, forever: the property that makes a
    * held-out set trustworthy (a seed-based randomSplit reshuffles docs
    * across splits whenever partitioning changes — silent train/test
    * contamination). Digits 0-b → train (12/16), c-d → val (2/16),
    * e-f → test (2/16). Pure per-row expression: no shuffle, no state. */
  def splitColumn(keyCol: String): Column = splitColumnOf(col(keyCol))

  /** Registered query (`split_assign`): per (split, lang) doc and token
    * counts over `documents` — the audit table a pipeline publishes so
    * consumers can see the split is balanced per language. One scan, one
    * low-cardinality groupBy. */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(splitColumn("doc_id").as("split"), col("lang"),
        nTokens(col("text")).as("n_tokens"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("split", "lang")

  /** [[splitColumn]] over an arbitrary key expression (the group-safe
    * split keys on the GROUP id, not a named column). */
  def splitColumnOf(key: Column): Column = {
    val d = substring(md5(key.cast("string")), 1, 1)
    when(d.isin("0123456789ab".map(_.toString): _*), "train")
      .when(d.isin("c", "d"), "val")
      .otherwise("test")
  }

  /** GROUP-AWARE (leakage-safe) train/val/test split — the fix for the
    * classic eval-contamination bug [[splitColumn]] alone ships: a
    * per-DOC hash split scatters the members of a duplicate group
    * across splits, so val/test contain byte-copies of training docs
    * and the held-out loss is fiction. Assignment here keys on the
    * GROUP (md5-of-text exact-dup group, canonical = min doc_id): every
    * member inherits its group's split, so no group straddles by
    * construction — the near-dup extension keys the same expression on
    * [[Dedup.connectedComponents]]' canonical id instead.
    *
    * Registered query (`split_groupsafe`): per-split audit rows
    * (n_groups, n_docs, n_tokens) plus `naive_strays` — how many of
    * this split's docs the per-doc policy would have assigned to a
    * DIFFERENT split than their group (each one a leaked duplicate):
    * the measured justification for group keying, and a hash-checked
    * zero-regression guard on the policy. Runs on a PLANTED corpus
    * (every 25th doc cloned verbatim at a derived offset — the
    * governance-query discipline; the sf fixtures' texts are unique, so
    * without planting every group is a singleton and the audit is
    * vacuous). Scale shape: one scan; the group join shuffles 16-byte
    * digests; the rollup is 3 rows. */
  def qGroupSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val off = Dedup.plantOffset(d, "doc_id")
    val cloneCols = (col("doc_id") + off).as("doc_id") +:
      d.columns.filter(_ != "doc_id").map(col).toIndexedSeq
    val docs = d.unionByName(
      d.filter(col("doc_id") % 25 === 0).select(cloneCols: _*))
    val base = docs.select(col("doc_id"), nTokens(col("text")).as("n_tokens"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val canon = base.groupBy("h").agg(min("doc_id").as("gid"))
    base.join(canon, "h")
      .select(col("doc_id"), col("n_tokens"), col("gid"),
        splitColumnOf(col("gid")).as("split"),
        splitColumnOf(col("doc_id")).as("naive_split"))
      .groupBy("split")
      .agg(countDistinct("gid").as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("naive_split") =!= col("split"), 1L).otherwise(0L))
          .as("naive_strays"))
      .orderBy("split")
  }

  /** Language-distribution drift between two corpus slices (here: even /
    * odd doc_id, standing in for "last snapshot" vs "new crawl") — the
    * shift detector a pipeline runs before mixing a new batch into
    * training data. Per language: counts, relative frequencies, and the
    * per-language Jensen-Shannon divergence term
    * 0.5·p·ln(p/m) + 0.5·q·ln(q/m) with m = (p+q)/2 (natural log; the
    * full JSD is the sum of the output column). Zero-frequency sides
    * contribute 0 by the usual 0·ln(0) = 0 convention.
    *
    * ONE corpus scan: both slices' counts come from a single conditional
    * aggregate per language (never two scans + a join); the two totals
    * ride a broadcast one-row frame. The per-language table is
    * lang-cardinality-sized — trivially broadcastable at any corpus
    * scale. */
  def corpusDrift(docs: DataFrame, inA: Column): DataFrame = {
    val counts = docs.groupBy("lang").agg(
      sum(when(inA, 1L).otherwise(0L)).as("n_a"),
      sum(when(inA, 0L).otherwise(1L)).as("n_b"))
    val tot = counts.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    // an EMPTY slice is the zero distribution, not NaN: without the
    // guard, ta = 0 (e.g. drift against a not-yet-landed snapshot)
    // makes every p_a and js_term row 0/0 = NaN, and NaN semantics
    // are the one place the two engines are not pinned (r19 review
    // finding; oracle mirrors with CASE WHEN ta > 0)
    val pa = when(col("ta") > 0,
      col("n_a").cast("double") / col("ta")).otherwise(0.0)
    val pb = when(col("tb") > 0,
      col("n_b").cast("double") / col("tb")).otherwise(0.0)
    val m = (pa + pb) / 2
    val term = (c: Column) =>
      when(c > 0, c * log(c / m) * 0.5).otherwise(0.0)
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_a"), col("n_b"),
        round(pa, 4).as("p_a"), round(pb, 4).as("p_b"),
        round(term(pa) + term(pb), 4).as("js_term"))
      .orderBy("lang")
  }

  /** Exact corpus-quantile threshold WITHOUT a corpus-sized percentile
    * buffer: the bottom-decile filter ("drop the shortest 10% of
    * documents") computed as an ORDER STATISTIC over the token-count
    * HISTOGRAM. groupBy(n_tokens) bounds the aggregate by the number of
    * DISTINCT lengths (≤ max doc length — thousands, not trillions), the
    * cumulative window runs over that tiny table, and the threshold — the
    * k-th smallest value with k = ⌈N/10⌉ — joins back as a broadcast
    * one-row frame. Contrast: percentile(col, 0.1) over the corpus
    * buffers every value in one aggregation buffer (the q5b shape is fine
    * per-GROUP, fatal corpus-wide), and interpolated percentiles are
    * doubles — engine-comparable only after rounding, while this
    * threshold is an exact integer. Keeps docs with n_tokens ≥ the p10
    * order statistic. */
  def quantileFilter(docs: DataFrame, tenths: Int = 1): DataFrame = {
    require(tenths >= 1 && tenths <= 9, s"tenths must be 1..9: $tenths")
    val t = docs.select(col("doc_id"), nTokens(col("text")).as("n_tokens"))
    val hist = t.groupBy("n_tokens").agg(count(lit(1)).as("c"))
    // Histogram-sized single-partition window — same bounded-input
    // justification as Packing's bin window (≤ distinct-lengths rows).
    val cum = hist.withColumn("cum",
      sum("c").over(Window.orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hist.agg(sum("c").as("n"))
    val thr = cum.crossJoin(broadcast(tot))
      // ceil(N·q) in INTEGER arithmetic: Spark's `/` on longs is a
      // DOUBLE division, which would turn k=⌈19/10⌉ into cum >= 1.9
      .filter(col("cum") >= expr(s"(n * $tenths + 9) div 10"))
      .agg(min("n_tokens").as("p_threshold"))
    t.crossJoin(broadcast(thr))
      .filter(col("n_tokens") >= col("p_threshold"))
      .select(col("doc_id"), col("n_tokens"), col("p_threshold"))
      .orderBy("doc_id")
  }

  /** Per-language token-budget stats: doc count, total/mean/median token
    * counts — the table a data-mixing step reads to weight languages.
    * Median is the exact `percentile` aggregate per GROUP (bounded by the
    * largest language's doc count — the q5b trade; a corpus-wide exact
    * percentile would not scale, see [[quantileFilter]]). */
  def langTokenStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), nTokens(col("text")).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        expr("percentile(n_tokens, 0.5)").as("p50_tokens"))
      .orderBy("lang")

  /** Temperature-scaled data-mixing weight table — the artifact a
    * multilingual / multi-domain training run is configured from.
    * Uniform-by-tokens sampling (τ=1) drowns low-resource groups;
    * τ<1 flattens the distribution (the standard multilingual recipe:
    * w_g ∝ tokens_g^τ, renormalized). Emits, per group: observed
    * tokens, mixture weight, the token allocation under `budgetTokens`,
    * and the implied up/down-sampling factor vs the observed corpus.
    *
    * ONE aggregation scan (the per-group token totals); Σ tokens^τ is a
    * window over the post-agg table, which is vocabulary-of-languages
    * sized — the deliberately unpartitioned window input is ≤ #groups
    * rows, never the corpus (same documented shape as
    * [[corpusShuffle]]'s bucket table), and the corpus is scanned
    * exactly once (a broadcast-total crossJoin would re-run the
    * aggregation subtree for the second branch). */
  def mixtureWeights(docs: DataFrame, tau: Double = 0.5,
      budgetTokens: Long = 100000L): DataFrame = {
    val wAll = Window.partitionBy()
    docs
      .select(col("lang"), nTokens(col("text")).as("n_tokens"))
      .groupBy("lang").agg(sum("n_tokens").cast("double").as("tokens"))
      .withColumn("pt", pow(col("tokens"), lit(tau)))
      .withColumn("tot_pt", sum("pt").over(wAll))
      .select(col("lang"),
        col("tokens").cast("long").as("total_tokens"),
        // zero-token guards (r19 review finding): a lang whose docs are
        // all empty text has pt = 0 and upsample 0 — not 0/0 = NaN —
        // and an all-empty corpus has weight 0 everywhere (tot_pt = 0);
        // the oracle mirrors both CASEs
        round(when(col("tot_pt") > 0, col("pt") / col("tot_pt"))
          .otherwise(0.0), 4).as("weight"),
        floor(when(col("tot_pt") > 0,
          lit(budgetTokens.toDouble) * col("pt") / col("tot_pt"))
          .otherwise(0.0)).cast("long").as("target_tokens"),
        round(when(col("tokens") > 0 && col("tot_pt") > 0,
          lit(budgetTokens.toDouble) * (col("pt") / col("tot_pt"))
            / col("tokens")).otherwise(0.0), 4).as("upsample_factor"))
      .orderBy("lang")
  }

  /** Deterministic corpus shuffle: a contiguous 1..N permutation in
    * `md5(decimal doc_id)` order — the reproducible global training
    * order (same permutation in Spark, DuckDB, and every rerun;
    * `orderBy(rand())` is none of those, and
    * `monotonically_increasing_id` is not contiguous).
    *
    * The interesting part at scale is the GLOBAL rank: a bare
    * `row_number().over(Window.orderBy(...))` drags the corpus into one
    * partition. Two-level instead (the [[Packing.packSequences]] shape):
    * the first two hex digits of the key give 256 ORDER-PRESERVING
    * buckets (fixed-width hex: prefix order = full-string order), ranks
    * are windowed WITHIN each bucket (256-way parallel, one shuffle),
    * and the ≤256-row bucket-count table — the only unpartitioned window
    * input in the plan — broadcasts back as cumulative offsets. */
  def corpusShuffle(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("bucket", substring(col("skey"), 1, 2))
    val wIn = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("bucket").agg(count(lit(1)).as("bc"))
      .withColumn("boff", coalesce(sum("bc").over(wB), lit(0L)))
      .select("bucket", "boff")
    keyed.withColumn("rn", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), "bucket")
      .select(col("doc_id"), (col("boff") + col("rn")).as("shuffle_pos"))
      .orderBy("shuffle_pos")
  }

  /** Token-budget subset: the docs a trainer takes, in deterministic
    * shuffle order ([[corpusShuffle]]'s md5 order), until the running
    * token total reaches `budgetTokens` — "give me a reproducible
    * 1T-token slice of this corpus". Keeps every doc whose INCLUSIVE
    * running total fits the budget. Same two-level cumsum as the rank:
    * within-bucket windowed token cumsum + broadcast bucket offsets;
    * nothing corpus-sized ever sits in one partition. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0)
    val keyed = docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"),
        Packing.nTokensUdf(col("text")).as("n_tokens"))
      .withColumn("bucket", substring(col("skey"), 1, 2))
    val wIn = Window.partitionBy("bucket").orderBy("skey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("bucket").agg(sum("n_tokens").as("bt"))
      .withColumn("boff", coalesce(sum("bt").over(wB), lit(0L)))
      .select("bucket", "boff")
    keyed.withColumn("cum_in", sum("n_tokens").over(wIn))
      .join(broadcast(offsets), "bucket")
      .withColumn("cum_tokens", col("boff") + col("cum_in"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("cum_tokens", "doc_id")
  }

  /** Pairwise shingle-set Jaccard BETWEEN SOURCES — the "how much does
    * source A duplicate source B" audit run before mixing corpora (a
    * crawl snapshot vs a curated set, two crawl vintages, …). One row
    * per overlapping unordered source pair: (source_a, source_b,
    * n_common, jaccard).
    *
    * Scale shape: the only corpus-sized shuffle is the distinct on
    * (source, shingle) — map-side partially deduplicated, keyed wider
    * than the corpus only by shingle fanout. Everything after is
    * OUTPUT-bounded: a shingle appears in at most S sources (S = the
    * source catalog, a dimension-table cardinality), so the self-join
    * emits ≤ S²/2 rows per shingle and the final matrix is ≤ S²/2 rows
    * total. Set sizes are an S-row aggregate joined back broadcast. The
    * same shape at 100 TB: no per-document pair ever exists, only
    * per-source-pair counts. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // 64-bit hashed shingles, not strings: identical set semantics
    // (collision odds are the dedup family's measured ~1e-9 non-issue —
    // the string-based oracle still hash-matches), and the one
    // corpus-sized shuffle moves 8-byte keys through the codegen'd
    // HashedShingles kernel instead of ~30-byte trigram strings.
    //
    // Shape note (measured on the 10x distinct smoke): the tempting
    // one-aggregation formulation — groupBy(s).collect_set(source) then
    // vocab-sized pair explosion — is SLOWER here (4.8x ratio), because
    // collect_set plans ObjectHashAggregate, which falls back to
    // sort-based aggregation past 128 distinct keys per task: a
    // corpus-wide sort in disguise. The distinct + self-join below keeps
    // every corpus-sized stage in codegen'd HashAggregate land, and its
    // second exchange collapses to a ReusedExchange. Measured 10x
    // distinct-smoke progression: 4.7x (string UDF self-join) -> 3.3x
    // (hashed shingles) -> 2.3x (hashed + dictionary-coded sources).
    // Dictionary-code the source catalog to a dense int BEFORE the
    // corpus-sized stages: the distinct's group key and the self-join's
    // filter then work on (int, long) primitives instead of carrying a
    // string through every corpus-sized hash/compare/shuffle. The code
    // table is catalog-sized — broadcast onto the scan, decoded back
    // onto the 190-row result. Codes are assigned in source order, so
    // code_a < code_b IS source_a < source_b.
    val codes = docs.select(col("source")).distinct()
      // no pre-orderBy: the window's own sort fixes code assignment
      .withColumn("sc",
        row_number().over(Window.orderBy("source")).cast("int"))
    val sh = Dedup
      .hashedShingleDocs(
        docs.join(broadcast(codes), "source").select(col("sc"), col("text")),
        n, key = "sc")
      .select(col("sc"), explode(col("shingles")).as("s"))
      .distinct()
    val sizes = sh.groupBy("sc").agg(count(lit(1)).as("n"))
    // MERGE hint: the build side of the self-join is the corpus-derived
    // shingle set itself — the planner would happily broadcast it at
    // test sizes, scaling the broadcast with the corpus. SMJ keeps both
    // sides on the same shuffle (the second is a ReusedExchange).
    val common = sh.as("a")
      .join(sh.as("b").hint("merge"),
        col("a.s") === col("b.s") && col("a.sc") < col("b.sc"))
      .groupBy(col("a.sc").as("sc_a"), col("b.sc").as("sc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.as("za")), col("sc_a") === col("za.sc"))
      .join(broadcast(sizes.as("zb")), col("sc_b") === col("zb.sc"))
      .join(broadcast(codes.as("ca")), col("sc_a") === col("ca.sc"))
      .join(broadcast(codes.as("cb")), col("sc_b") === col("cb.sc"))
      .select(col("ca.source").as("source_a"),
        col("cb.source").as("source_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("za.n") + col("zb.n") - col("n_common")), 4).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Deterministic negative sampling for contrastive training: each doc
    * gets the `k` SUCCESSORS of its position in the md5 shuffle ring
    * ([[corpusShuffle]]'s permutation, wrapping at N). The md5 order is
    * uncorrelated with content, so ring successors are unbiased random
    * negatives — but REPRODUCIBLE (same corpus → same pairs, any engine),
    * which `rand()`-based samplers are not.
    *
    * Scale shape: never a per-pair random draw or a non-equi join — the
    * offset j ∈ 1..k is EXPLODED on the anchor side and the partner is
    * found by an EQUI-join on the target position, so the plan is one
    * O(N·k) generate + one hash join on a dense integer key. A
    * `b.pos BETWEEN a.pos+1 AND a.pos+k` formulation would plan a
    * broadcast-nested-loop at scale; this never does. */
  def negativeSamples(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"negativeSamples requires k >= 1, got $k")
    val pos = corpusShuffle(docs) // (doc_id, shuffle_pos), 1..N dense
    val n = pos.groupBy().agg(count(lit(1)).as("n_total"))
    val anchors = pos.crossJoin(broadcast(n))
      .select(col("doc_id"), col("shuffle_pos"), col("n_total"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("target_pos",
        ((col("shuffle_pos") - 1 + col("j")) % col("n_total")) + 1)
    anchors.join(pos.select(col("doc_id").as("neg_doc_id"),
        col("shuffle_pos").as("target_pos")), "target_pos")
      .filter(col("neg_doc_id") =!= col("doc_id")) // N < k+1 degenerate
      .select(col("doc_id"), col("j").cast("long").as("j"),
        col("neg_doc_id"))
      .orderBy("doc_id", "j")
  }

  // --- SparkEntry-facing query wrappers ---------------------------------

  def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.documents(s, dir))

  /** corpus_drift — even doc_ids as slice A, odd as slice B. */
  def qCorpusDrift(s: SparkSession, dir: String): DataFrame =
    corpusDrift(Tables.documents(s, dir), col("doc_id") % 2 === 0)

  def qQuantileFilter(s: SparkSession, dir: String): DataFrame =
    quantileFilter(Tables.documents(s, dir))

  def qLangTokenStats(s: SparkSession, dir: String): DataFrame =
    langTokenStats(Tables.documents(s, dir))

  def qMixtureWeights(s: SparkSession, dir: String): DataFrame =
    mixtureWeights(Tables.documents(s, dir))

  // ---------------------------------------------------------------------
  // Domain-level governance (the RefinedWeb / CCNet per-domain cap)
  // ---------------------------------------------------------------------

  /** Per-source governance rollup + cap policy: for each source
    * (standing in for a domain/URL-host), the document and exact-dup
    * counts, token total and corpus share — and the KEEP decision a
    * per-domain cap policy derives from them: no source may exceed
    * 1/`maxShareDen` of corpus tokens; over-cap sources get a
    * deterministic downsample threshold.
    *
    * The keep machinery is EXACT INTEGER end to end so every engine
    * derives the identical decision: `keep_threshold = min(65536,
    * (65536·total_tokens) div (maxShareDen·src_tokens))` and a doc
    * survives iff its md5 16-bit prefix (first 4 hex digits as an
    * integer) is below it — the [[Sampling.hashSample]] idea widened to
    * a fractional rate. `keep_fraction` is the same value reported as a
    * 4dp ratio for humans and [[mixtureWeights]]-style composition.
    *
    * Scale shape: one corpus scan → (digest, source, tokens) rows; the
    * exact-dup canonical join shuffles 16-byte digests, never text; the
    * per-source rollup is a low-cardinality aggregate; the corpus total
    * is a window over the ≤#sources post-agg table (the documented
    * bounded-window shape of [[mixtureWeights]]). */
  def domainCaps(docs: DataFrame, maxShareDen: Int = 4): DataFrame = {
    require(maxShareDen >= 1, s"maxShareDen must be >= 1: $maxShareDen")
    val hashed = docs.select(col("doc_id"), col("source"),
      nTokens(col("text")).as("n_tokens"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val canon = hashed.groupBy("h").agg(min(col("doc_id")).as("canonical_id"))
    val per = hashed.join(canon, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum("n_tokens").as("n_tokens"))
    val wAll = Window.partitionBy()
    per
      .withColumn("total_tokens", sum("n_tokens").over(wAll))
      // a zero-token source (all-null/empty texts) has no share to cap —
      // full keep, and the guard keeps ANSI mode from throwing on the
      // division (EmptyInputSpec's null-text sweep)
      .withColumn("keep_threshold",
        keepThreshold("n_tokens", "total_tokens", maxShareDen))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 4)
          .as("dup_rate"),
        col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 4)
          .as("token_share"),
        col("keep_threshold"),
        round(col("keep_threshold") / 65536.0, 4).as("keep_fraction"))
      .orderBy("source")
  }

  /** The per-row survival predicate for a [[domainCaps]] threshold
    * column: md5 16-bit prefix of the decimal doc id below the
    * source's threshold. Engine-portable exact integers (DuckDB:
    * `CAST('0x' || substring(md5(...), 1, 4) AS INTEGER)`). */
  def capKeepPredicate(idCol: String, thresholdCol: String): Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") < col(thresholdCol)

  /** Exact fixed-point keep threshold:
    * `min(65536, (65536·total) div (den·src))`, zero-token sources keep
    * everything. The 65536·total product runs in DECIMAL(38,0): as a
    * Long it overflowed at ~1.4e14 corpus tokens (~half a PB of text —
    * inside the family's own design envelope; r19 review finding), and
    * the oracle mirrors with a HUGEINT product. ONE definition shared
    * by [[domainCaps]] (the audit table) and the funnel's applied
    * policy, so the two can never silently disagree about which
    * documents survive. Column args are NAMES because the exact-div
    * runs through `expr`. */
  private[graft] def keepThreshold(srcTokensCol: String,
      totalTokensCol: String, maxShareDen: Int): Column =
    when(col(srcTokensCol) > 0, least(lit(65536L),
      expr(s"(CAST(65536 AS DECIMAL(38,0)) * $totalTokensCol) div " +
        s"(${maxShareDen}L * $srcTokensCol)")))
      .otherwise(lit(65536L))

  /** The planted corpus both governance queries run on: the balanced sf
    * documents table (every source ~5% of tokens — nothing to govern)
    * plus a crawler-gone-wrong domain: every 2nd doc cloned under
    * `srcHot` with a per-clone tail token (UNIQUE texts, so the hot
    * domain SURVIVES exact dedup and the cap stage is what has to stop
    * it — ~1/3 of corpus tokens against the 1/4 cap), and every 25th
    * doc cloned VERBATIM into its own source (exact dups, so dup_rate
    * is non-zero and the dedup stage has real work). The oracle
    * replicates the construction in SQL (the pipeline_funnel pattern). */
  private def plantedGovernance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "source", "text")
    // Clone ids at DERIVED offsets (hot +off, verbatim +2·off — see
    // Dedup.plantOffset; r15 ADVICE #3): a fixed constant collides with
    // real ids once the table grows past it, and here the id VALUE
    // feeds the md5 keep predicate, so a collision would silently warp
    // the cap accounting. The oracle derives the identical offset in
    // SQL (integer-exact in both engines).
    val off = Dedup.plantOffset(d, "doc_id")
    d.unionByName(d.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          lit("srcHot").as("source"),
          concat(col("text"), lit(" hotclone"),
            col("doc_id").cast("string")).as("text")))
      .unionByName(d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2L * off).as("doc_id"), col("source"),
          col("text")))
  }

  /** Registered query (`corpus_domain_caps`). */
  def qDomainCaps(s: SparkSession, dir: String): DataFrame =
    domainCaps(plantedGovernance(s, dir))

  /** Registered query (`funnel_domain_capped`) — the governance rollup
    * APPLIED, composed as a funnel: raw corpus → exact-dedup survivors
    * (canonical per md5 text group) → per-domain cap downsample using
    * [[domainCaps]]' integer thresholds computed ON THE SURVIVORS (the
    * RefinedWeb order: dedup first, then cap what remains). Emits the
    * (stage, name, n_docs, n_tokens) accounting rows of
    * `pipeline_funnel`; every step is engine-exact, so unlike the
    * clustering funnels this one is fully hash-checked. The cap-policy
    * join back to the corpus is a BROADCAST of the ≤#sources threshold
    * table. */
  def qFunnelDomainCapped(s: SparkSession, dir: String): DataFrame = {
    val docs = plantedGovernance(s, dir)
    // ONE corpus text scan (r21 optimization): every downstream stage —
    // dedup canonical-min, cap thresholds, keep predicate, and all three
    // stat rows — is a function of per-doc METADATA (id, source, token
    // count, text digest). The old formulation re-evaluated the corpus
    // union + md5 + token-count UDF once per stat branch and once for
    // the threshold table (~5 text passes); pinning the metadata frame
    // (40-ish bytes/row) leaves exactly one. Values are unchanged: the same
    // nTokens/md5 expressions, evaluated once instead of per-branch.
    val meta = Lineage.pin(docs.select(col("doc_id"), col("source"),
        nTokens(col("text")).as("n_tokens"),
        md5(coalesce(col("text"), lit(""))).as("h")), eager = false)
    val s1 = meta
      .join(meta.groupBy("h").agg(min(col("doc_id")).as("doc_id")),
        Seq("h", "doc_id"))
      .select("doc_id", "source", "n_tokens")
    val thr = s1
      .groupBy("source").agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("total_tokens",
        sum("src_tokens").over(Window.partitionBy()))
      .select(col("source"),
        keepThreshold("src_tokens", "total_tokens", maxShareDen = 4)
          .as("keep_threshold"))
    val s2 = s1.join(broadcast(thr), "source")
      .filter(capKeepPredicate("doc_id", "keep_threshold"))
    def stat(df: DataFrame, stage: Int, name: String): DataFrame = df
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(stage.toLong).as("stage"), lit(name).as("name"),
        col("n_docs"), col("n_tokens"))
    stat(meta, 0, "raw")
      .unionByName(stat(s1, 1, "dedup_exact"))
      .unionByName(stat(s2, 2, "domain_cap"))
      .orderBy("stage")
  }

  def qCorpusShuffle(s: SparkSession, dir: String): DataFrame =
    corpusShuffle(Tables.documents(s, dir))

  /** token_budget_sample — a 10k-token deterministic slice. */
  def qTokenBudgetSample(s: SparkSession, dir: String): DataFrame =
    tokenBudgetSample(Tables.documents(s, dir), 10000L)

  def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(s, dir))

  def qNegativeSamples(s: SparkSession, dir: String): DataFrame =
    negativeSamples(Tables.documents(s, dir), 3)
}
