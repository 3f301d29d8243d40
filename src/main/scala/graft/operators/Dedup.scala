package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents(doc_id, text, …)` — the
  * LLM-training-pipeline operators the charter adds on top of the
  * reference's surface (SURVEY.md §2B).
  *
  * Scale design (the part that matters at 100 TB):
  *   - NOTHING here is O(n²) in documents: exact n-gram Jaccard joins on
  *     shared shingles (pairs that share no shingle are never
  *     materialized); MinHash/SimHash/hyperplane-LSH prune candidates
  *     with banding before any pairwise work.
  *   - Candidate generation shuffles IDS ONLY. Every band/bucket
  *     self-join carries (band, signature, doc_id) — never the shingle
  *     arrays or embedding vectors — so the shuffle payload is a few
  *     bytes per replica instead of the whole document feature set
  *     amplified once per band. For LSH paths the heavy columns are
  *     joined back in exactly once per surviving candidate pair for
  *     exact verification; the n-gram path usually needs no heavy join
  *     at all — the shared-shingle join counts the intersection as a
  *     by-product, which IS the exact Jaccard whenever the df-cap
  *     dropped nothing (see [[ngramJaccardCore]]).
  *   - The posting-list join has a document-frequency cap ON by default
  *     ([[DefaultDfCap]]): a shingle or LSH bucket appearing in more
  *     than dfCap docs is a skew key that would generate quadratic pair
  *     blowup and stall a 1000-executor shuffle. Hot buckets are not
  *     dropped — they degrade to STAR candidates around the bucket-min
  *     representative ([[splitHotKeysStar]]): O(bucket) edges that still
  *     span the bucket, so clusters larger than the cap survive.
  *     Verification always uses the FULL feature sets, so reported
  *     Jaccard/cosine values are exact.
  *   - Connected components for cluster assignment is iterative min-label
  *     propagation with pointer jumping (label-of-label), pure DataFrame
  *     joins — no driver-side graph. Pointer jumping makes convergence
  *     O(log diameter); lineage is truncated with a checkpoint every few
  *     rounds so plans don't nest unboundedly.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default document-frequency cap for posting-list candidate
    * generation. At sf0.1 (5k docs) nothing legitimate comes close; at
    * web scale this is the knob that keeps the shared-shingle join skew
    * free. */
  val DefaultDfCap = 128

  // ---------------------------------------------------------------------
  // shared building blocks
  // ---------------------------------------------------------------------

  /** (doc_id, shingles: array<string>) — distinct word n-grams per doc.
    * Docs shorter than n words (or with null text) produce an empty
    * array (kept: they simply can never match a candidate pair).
    *
    * A Scala UDF, deliberately: the declarative formulation
    * (transform(sequence(...), i => concat_ws/slice over the words
    * array) + array_distinct) runs through Spark's INTERPRETED lambda
    * evaluator — higher-order functions are CodegenFallback — and
    * measured ~40µs per shingle (10s for 260k shingles at sf0.1),
    * consistently, warm or cold. This primitive-loop UDF produces the
    * identical output (first-occurrence-ordered distinct n-grams,
    * single-space tokenization, short docs → empty) 30× faster. Same
    * trade as the minhash/simhash/hyperplane UDFs: prefer built-ins
    * until the built-in path demonstrably loses codegen. */
  def shingleDocs(docs: DataFrame, n: Int = 3,
      key: String = "doc_id"): DataFrame = {
    val shingleUdf = udf { text: String =>
      val words =
        if (text == null) Array.empty[String]
        else text.split(" ").filter(_.nonEmpty)
      if (words.length < n) Seq.empty[String]
      else {
        val set = new java.util.LinkedHashSet[String]
        var i = 0
        while (i <= words.length - n) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          set.add(sb.toString)
          i += 1
        }
        val out = new Array[String](set.size)
        set.toArray(out)
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    }
    docs.select(col(key), shingleUdf(col("text")).as("shingles"))
  }

  /** (doc_id, shingles: array<bigint>) — distinct word n-grams per doc as
    * 64-bit hashes, one codegen'd pass. The dedup pipelines only ever
    * need SET semantics over shingles (membership, intersection size,
    * document frequency), so carrying the n-gram STRINGS through the
    * candidate joins pays 20–40 bytes of shuffle key per posting row
    * where 8 do: every downstream exchange (df aggregation, posting
    * self-join, verification rejoin) shrinks ~3–4× by hashing at the
    * source. A 64-bit hash over a ~10⁸-shingle vocabulary has collision
    * probability ~(10⁸)²/2⁶⁵ ≈ 3e-4 for ONE colliding pair somewhere in
    * the corpus — and a collision only perturbs one pair's intersection
    * count by 1, so the sf-scale oracle comparison is unaffected in
    * practice.
    *
    * The kernel is the native [[graft.functions.HashedShingles]]
    * expression (in-place XXH64 over the UTF8String's bytes, zero
    * per-word allocation, inside whole-stage codegen) — see its doc for
    * why it replaced the UDF formulation. */
  def hashedShingleDocs(docs: DataFrame, n: Int = 3,
      key: String = "doc_id"): DataFrame =
    docs.select(col(key),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.HashedShingles(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), n))
        .as("shingles"))

  /** Eagerly materialize the hot-key side of a skew guard WITHOUT ever
    * collecting it to the driver: the aggregate is computed
    * distributively, pinned with [[Lineage.pin]] (truncates lineage so
    * the two downstream joins read the materialized blocks instead of
    * re-running the corpus aggregation), and re-rooted in its own
    * session so its attribute ids are fresh — both consumers join it back
    * against the very frame it was derived from. Only a COUNT crosses to
    * the driver. On a web corpus, keys with df > cap are the entire
    * common-phrase vocabulary — easily 10⁷⁺ rows — which is why a
    * collect-and-broadcast formulation (what this replaces) is a
    * driver-memory scale-killer: here the hot set stays a DataFrame and
    * the splits below are plain shuffled joins, with AQE free to
    * broadcast the hot side only when its RUNTIME size allows. */
  private def materializeHot(hotAgg: DataFrame): (DataFrame, Long) = {
    val pinned = Lineage.pin(hotAgg)
    (Lineage.reroot(pinned, pinned.sparkSession),
      pinned.count())
  }

  /** Clone-id offset for a planted-corpus gate: the next `unit` multiple
    * STRICTLY above max(`idCol`), so clone ids `id + offset` (and
    * `id + 2·offset`, … — each planting class gets its own multiple) can
    * never collide with a real id at any input scale. Fixed offset
    * constants break once a source table's ids grow past them (r15
    * ADVICE #3: scaled dirs replicate with a 10⁷ id stride); deriving
    * from the data costs one max() scan per gate call — gate queries
    * already pay a planted-count scan of the same table. Empty frame →
    * `unit`. */
  private[graft] def plantOffset(df: DataFrame, idCol: String,
      unit: Long = 1000000L): Long = {
    val row = df.agg(max(col(idCol).cast("long"))).head()
    if (row.isNullAt(0)) unit else (row.getLong(0) / unit + 1L) * unit
  }

  /** Drop rows whose `keys` combination occurs in more than `cap` rows —
    * the plain drop-semantics guard, used by [[shinglePosting]]'s public
    * capped posting list. The hot key set stays a DataFrame (see
    * [[materializeHot]]) and is anti-joined away on the key.
    * Candidate-generation paths use [[splitHotKeysStar]] instead, which
    * degrades hot buckets rather than dropping them. Nothing is left
    * persisted in the shared session. */
  private def dropHotKeys(df: DataFrame, keys: Seq[String], cap: Int,
      what: String): DataFrame = {
    val (hot, nHot) = materializeHot(
      df.groupBy(keys.map(col): _*).count()
        .filter(col("count") > cap).drop("count"))
    if (nHot == 0) df
    else {
      log.warn(s"$what: dropping $nHot hot keys (df > $cap) from " +
        "the posting list")
      df.join(hot, keys, "left_anti")
    }
  }

  /** Split candidate-generation rows on hot keys (keys occurring in more
    * than `cap` rows). Cold rows are returned untouched for the normal
    * self-join. Hot buckets are NOT silently dropped: each is reduced to
    * a STAR of candidate pairs (bucket-minimum id ↔ every other id in
    * the bucket) — O(bucket) edges instead of the O(bucket²) a self-join
    * would generate, so the skew guard still holds, while a group of
    * more than `cap` mutual near-duplicates (the common web-dedup case)
    * still yields a spanning edge set: exact verification confirms the
    * star's edges and connected components recovers the full cluster,
    * instead of the whole group silently vanishing. The hot set stays a
    * DataFrame end to end (see [[materializeHot]]) — only its count is
    * logged — and both the cold anti-join and the star equi-join run as
    * ordinary shuffled joins on the key, so the guard holds even when
    * the hot vocabulary itself is huge. Returns (coldRows, starPairs)
    * where starPairs has columns (doc_a, doc_b), doc_a < doc_b (the
    * representative is the bucket minimum). */
  /** Hot side of a [[splitHotKeysStar]]: the star candidate pairs plus
    * the hot key set itself (callers that can cheapen verification need
    * to know WHICH keys were degraded — see [[ngramJaccardCore]]). */
  private[operators] case class HotSplit(star: DataFrame, hotKeys: DataFrame)

  private[operators] def splitHotKeysStar(df: DataFrame, keys: Seq[String],
      idCol: String, cap: Int, what: String)
      : (DataFrame, Option[HotSplit]) = {
    val (hot, nHot) = materializeHot(
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("rep"))
        .filter(col("cnt") > cap).drop("cnt"))
    if (nHot == 0) (df, None)
    else {
      log.warn(s"$what: $nHot hot keys (df > $cap) reduced to " +
        "star candidates around the bucket-min representative; " +
        "verification still sees full feature sets")
      val cold = df.join(hot.select(keys.map(col): _*), keys, "left_anti")
      val star = df.join(hot, keys)
        .filter(col(idCol) =!= col("rep"))
        .select(col("rep").as("doc_a"), col(idCol).as("doc_b"))
        .distinct()
      (cold, Some(HotSplit(star, hot.select(keys.map(col): _*))))
    }
  }

  /** Exploded (doc_id, shingle) with an optional document-frequency cap:
    * shingles occurring in more than `dfCap` docs are dropped before the
    * pair join (see [[dropHotKeys]]). */
  def shinglePosting(docs: DataFrame, n: Int = 3,
      dfCap: Option[Int] = None): DataFrame = {
    val posting = shingleDocs(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    dfCap.fold(posting)(cap =>
      dropHotKeys(posting, Seq("shingle"), cap, "shinglePosting"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs.
    * Narrow joins bring the per-doc shingle COUNTS in first and prune
    * pairs whose best-possible Jaccard (|min|/|max|, reached when the
    * smaller set is contained in the larger) is already below the
    * threshold; only survivors get the full shingle arrays joined in for
    * the exact intersection. Output (doc_a, doc_b, jaccard), doc_a<doc_b. */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame,
      threshold: Double, sizePruned: Boolean = false): DataFrame = {
    // Join strategy measured, not assumed (PERF_NOTES r14): forcing
    // shuffle_hash on these doc-keyed joins added 18 GB of shuffle
    // writes and 2–4× wall at 10×-neardup while the query's ~10 GB
    // deterministic spill did not move — that spill lives in the
    // prefix-filter's per-doc df-ranking window sort, not here. The
    // default sort-merge plan is the right one for these joins.
    //
    // `sizePruned = true` = the caller's candidate join already applied
    // the |min|/|max| length filter (prefixJaccardCore's cold path), so
    // the two narrow size joins here would re-derive a filter that
    // passes every row — skipped (r21: two joins over ~600k candidate
    // rows of dedup_hist_exact, pure overhead).
    val pruned = if (sizePruned) cands.select("doc_a", "doc_b") else {
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
      cands
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .filter(least(col("na"), col("nb")).cast("double") >=
          greatest(col("na"), col("nb")) * threshold)
        .select("doc_a", "doc_b")
    }
    // Exact intersection via the fused sorted-merge kernel
    // ([[graft.functions.SortedIntersectCount]], r21): arrays are sorted
    // ONCE per doc side (doc-cardinality work) so the per-PAIR count is
    // an allocation-free merge loop instead of size(array_intersect)'s
    // per-pair hash set + materialized intersection array — measured as
    // the hottest stage of the low-threshold histogram. Counts are
    // identical (distinct elements; kernel spec-pinned against the
    // built-in), so jaccard values are unchanged.
    val shSorted = sh.select(col("doc_id"),
      sort_array(col("shingles")).as("shingles"))
    def sic(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.GraftColumnBridge.expression(a),
          org.apache.spark.sql.GraftColumnBridge.expression(b)))
    // NARROW LAZY PIN between the kernel projection and the threshold
    // filter (r22): without it, filter-through-project collapse inlines
    // the `n_common` alias into the join condition, where the join's
    // condition codegen has no common-subexpression elimination — the
    // merge-loop kernel ran TWICE per pair (the before-plan's join
    // condition literally contains two sorted_intersect_count calls).
    // Projecting (ids, n_common, sizes) first drops the shingle arrays,
    // so the pin holds ~40 B/pair, and the filter above it reads the
    // counted column. LAZY (`eager = false`): an eager pin adds
    // one driver job per call, which the small-candidate callers (LSH
    // risky sets, t=0.8 pairs) measurably paid — 5-iter paired A/B:
    // lazy pin dedup_ngram_jaccard 1.81→1.49, dedup_threshold_hist
    // 1.36→1.16, hist_exact/minhash flat; probe verify stage on the
    // lo=0.3 histogram's 600k pairs 0.65→0.43 s warm. (The
    // nondeterministic-projection barrier — the §4.4 idiom — measured
    // no better than baseline and was rejected.)
    val counted = Lineage.pin(pruned
      .join(shSorted.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shSorted.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        sic(col("sh_a"), col("sh_b")).as("n_common"),
        size(col("sh_a")).as("sa"), size(col("sh_b")).as("sb")), eager = false)
    counted
      .withColumn("jaccard", col("n_common") /
        (col("sa") + col("sb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Unsorted core of [[ngramJaccardPairs]] — consumers that feed the
    * pairs into a join/aggregate (e.g. connected components) must not pay
    * for a global sort they immediately destroy.
    *
    * The shared-shingle join COUNTS each pair's common shingles as a
    * by-product of candidate generation. When the df-cap fired on
    * nothing (knowable on the driver — the hot-key COUNT is computed
    * either way), that count IS the exact intersection size, so Jaccard comes
    * straight from `|A∩B| / (|A|+|B|−|A∩B|)` with two narrow size joins
    * — no shingle-array rejoin, no array_intersect.
    *
    * When hot shingles DID exist, a pair's count is a lower bound only
    * if the pair could share a hot shingle — i.e. only if at least one
    * endpoint CONTAINS a hot shingle. So the count-trick still settles
    * every pair whose endpoints are both hot-free, and array
    * verification is restricted to the hot-adjacent pairs plus the hot
    * buckets' star candidates ([[splitHotKeysStar]]). That split is what
    * keeps the low-threshold histogram affordable on a near-dup-heavy
    * corpus: the 10× scale smoke measured verification-of-everything at
    * 83× wall on neardup replicas, where hot docs are 2% of the corpus —
    * the exact-by-count majority never needed the rejoin. The counted
    * pair table is pinned before fanning out to its three consumers
    * (safe/risky/verify) so the Σ df′² join runs once. */
  private[operators] def ngramJaccardCore(docs: DataFrame,
      threshold: Double = 0.8, n: Int = 3,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // sh feeds the posting AND (twice) fromCounts' size joins — and the
    // hot branch's verifyJaccard reads it four more times. Pinned under
    // the same condition as the posting (cap on = multiple consumers).
    val sh0 = hashedShingleDocs(docs, n)
    val sh = if (dfCap.isDefined) Lineage.pin(sh0, eager = false) else sh0
    val posting1 = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // Same pin-once reasoning as minhashLshCore: with the cap on, the
    // posting list feeds the hot-key aggregation job and then the main
    // candidate join — checkpointing it saves a second shingle-UDF +
    // explode pass over the corpus; with the cap off the self-join
    // shares one exchange and the checkpoint would be pure overhead.
    val posting0 =
      if (dfCap.isDefined) Lineage.pin(posting1) else posting1
    val (posting, hotSplit) = dfCap match {
      case None => (posting0, None)
      case Some(cap) =>
        splitHotKeysStar(posting0, Seq("shingle"), "doc_id", cap,
          "ngramJaccardCore")
    }
    val a = posting.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = posting.select(col("doc_id").as("doc_b"), col("shingle"))
    // shuffle_hash: the posting is corpus-sized on BOTH sides — Spark's
    // size estimate of the UDF-projected side can dip under the broadcast
    // threshold, and broadcasting a fact-sized posting list is wrong at
    // every scale (driver collect + single-threaded build locally, OOM on
    // a cluster)
    val counted0 = a.join(b.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    // exact Jaccard from the shared-shingle count + two narrow size joins
    def fromCounts(counted: DataFrame): DataFrame = {
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
      counted
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("jaccard", col("n_common") /
          (col("na") + col("nb") - col("n_common")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }
    hotSplit match {
      case None => fromCounts(counted0)
      case Some(HotSplit(star, hotKeys)) =>
        // Three consumers below — materialize the Σ df′² join output
        // once, DISK_ONLY + eager count: on a near-dup-heavy corpus the
        // pair table is the largest thing in the query (tens of millions
        // of rows at the smoke's 10× scale), and holding it in the
        // unified memory pool starves the very hash aggregations that
        // produce and consume it (measured: AGGREGATE_OUT_OF_MEMORY at
        // x10 neardup with a memory-resident pin). Disk blocks cost a
        // sequential write + three streamed reads and zero heap. The
        // ContextCleaner reclaims the blocks when the plan is GC'd (the
        // lazy result can't unpersist eagerly).
        val counted = counted0.persist(
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
        counted.count()
        // docs that CONTAIN a hot shingle: only pairs touching one can
        // have undercounted intersections (the pinned posting0 makes
        // this a cheap join over materialized blocks)
        val hotDocs = Lineage.pin(posting0
          .join(hotKeys, Seq("shingle"), "left_semi")
          .select("doc_id").distinct())
        val hotA = hotDocs.select(col("doc_id").as("doc_a"))
        val hotB = hotDocs.select(col("doc_id").as("doc_b"))
        val safe = counted
          .join(hotA, Seq("doc_a"), "left_anti")
          .join(hotB, Seq("doc_b"), "left_anti")
        val risky = counted.select("doc_a", "doc_b")
          .join(hotA, Seq("doc_a"), "left_semi")
          .unionAll(counted.select("doc_a", "doc_b")
            .join(hotB, Seq("doc_b"), "left_semi"))
          .unionAll(star)
          .distinct()
        fromCounts(safe).unionAll(verifyJaccard(risky, sh, threshold))
    }
  }

  /** AllPairs-style prefix-filtered candidate generation + exact
    * verification — the scale path for threshold-based n-gram Jaccard
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07 —
    * public literature, not reference code).
    *
    * WHY: the plain shared-shingle self-join ([[ngramJaccardCore]])
    * produces Σ_shingle df² candidate rows. Growing the corpus k× grows
    * every natural-language shingle's document frequency ~k×, so every
    * sub-cap shingle's pair contribution grows k²× — the 10× scale smoke
    * measured 34× wall on DISTINCT-document replicas (linear output!)
    * purely from that term. The df cap bounds the per-key worst case but
    * not the aggregate.
    *
    * THE FILTER: fix one global total order on shingles — ascending
    * document frequency, ties by hash value. For Jaccard(A,B) ≥ t the
    * overlap obeys |A∩B| ≥ ⌈t·|A|⌉ (because |B| ≥ t·|A| forces
    * o ≥ t(|A|+|B|)/(1+t) ≥ t·|A|), and the classic prefix lemma then
    * says A and B must share a token within their first
    * |X| − ⌈t·|X|⌉ + 1 ordered tokens. So only the PREFIX posting — each
    * doc's (1−t)·n+1 RAREST shingles — enters the self-join: at t=0.8
    * that is 5× fewer posting rows, and because the global order puts
    * minimum-df tokens first, the Σ df'² of the prefix posting collapses
    * (common phrases never appear in any prefix). The join also carries
    * each side's set size so the length filter |A| ≥ t·|B| prunes
    * incompatible pairs before the groupBy. Candidates are then verified
    * EXACTLY on the full hashed shingle sets — the filter is lossless,
    * so output ≡ the exhaustive oracle.
    *
    * Hot keys: a prefix token shared by > dfCap docs (a corpus of > cap
    * near-identical docs makes even its rarest tokens hot) degrades to
    * star candidates ([[splitHotKeysStar]]) exactly like the other
    * candidate paths, so giant duplicate groups survive as clusters. */
  private[operators] def prefixJaccardCore(docs: DataFrame,
      threshold: Double = 0.8, n: Int = 3,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one UDF pass feeds the posting, the window and the verification —
    // pin it
    val sh = Lineage.pin(hashedShingleDocs(docs, n))
    val posting = sh
      .select(col("doc_id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))
    val dfreq = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefix0 = posting
      .join(dfreq.hint("shuffle_hash"), Seq("shingle"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "shingle")))
      .filter(col("rn") <=
        col("n_sh") - ceil(col("n_sh") * lit(threshold)) + lit(1))
      .select("doc_id", "shingle", "n_sh")
    // the prefix posting feeds the hot-key aggregation and both join
    // sides — pin it so the df-join + window chain runs once
    val prefix = if (dfCap.isDefined) Lineage.pin(prefix0) else prefix0
    val (cold, hotSplit) = dfCap match {
      case None => (prefix, None)
      case Some(cap) =>
        splitHotKeysStar(prefix, Seq("shingle"), "doc_id", cap,
          "prefixJaccardCore")
    }
    val l = cold.select(col("doc_id").as("doc_a"), col("shingle"),
      col("n_sh").as("na"))
    val r = cold.select(col("doc_id").as("doc_b"), col("shingle"),
      col("n_sh").as("nb"))
    // corpus-sized both sides — never broadcast (see ngramJaccardCore)
    val selfCands = l.join(r.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")).cast("double") >=
          greatest(col("na"), col("nb")) * threshold)
      .select("doc_a", "doc_b")
    val cands = hotSplit.fold(selfCands)(h => selfCands.unionAll(h.star))
      .distinct()
    // cold-only candidates already carry the length filter from the
    // self-join; star pairs don't — prune only when stars exist
    verifyJaccard(cands, sh, threshold, sizePruned = hotSplit.isEmpty)
  }

  /** Exact pairwise Jaccard ≥ threshold. Candidates come from the
    * prefix-filtered posting self-join ([[prefixJaccardCore]] — lossless,
    * linear-ish in corpus size), then exact verification on full hashed
    * shingle sets. Output (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      n: Int = 3, dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame =
    prefixJaccardCore(docs, threshold, n, dfCap).orderBy("doc_a", "doc_b")

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** numPerm universal-hash permutations over a 31-bit hash space:
    * perm_i(h) = (a_i·h + b_i) mod p, p = 2³¹−1 (Mersenne prime). Seeds
    * are fixed so signatures are reproducible across runs/executors. */
  private val MinhashP = 2147483647L
  private def minhashCoeffs(numPerm: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(numPerm)((rng.nextInt(Int.MaxValue - 1).toLong + 1,
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash band signatures per doc: (doc_id, band: int, sig: bigint) —
    * and nothing else, so the LSH self-join below shuffles only ids.
    *
    * The signature is computed per-row from the doc's shingles by a
    * single Scala function — no explode-by-numPerm blowup, no shuffle.
    * Shingles arrive as 64-bit hashes ([[hashedShingleDocs]] — the
    * n-gram strings are never materialized anywhere in this pipeline);
    * the UDF folds each into the 31-bit permutation domain and runs the
    * numPerm permutations in a primitive loop. bandsPerSig × rowsPerBand =
    * numPerm; with (32 bands × 4 rows) the probability of MISSING a pair
    * at Jaccard 0.8 is (1−0.8⁴)³² ≈ 5e-8, so LSH candidates + exact
    * verification below is exact-in-practice (and never has false
    * positives, since verification recomputes true Jaccard).
    */
  def minhashBands(docs: DataFrame, n: Int = 3, numPerm: Int = 128,
      bands: Int = 32): DataFrame =
    minhashBandsFromShingles(hashedShingleDocs(docs, n), numPerm, bands)

  /** [[minhashBands]] over an ALREADY-SHINGLED (doc_id, shingles) frame —
    * the seam that lets a caller compute the hashed-shingle pass ONCE and
    * share it between banding and exact verification (r21: the LSH
    * pipelines re-ran the shingle kernel 3-4× per query, once for the
    * bands and once per verification join side). */
  private def minhashBandsFromShingles(sh: DataFrame, numPerm: Int,
      bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rowsPerBand = numPerm / bands
    val coeffs = minhashCoeffs(numPerm)
    // unbox once; the numPerm × |shingles| permutation loop must run over
    // primitive arrays (same reasoning as the hyperplane sketch below)
    val coeffA = coeffs.map(_._1)
    val coeffB = coeffs.map(_._2)
    val sign = udf { shingles: Seq[Long] =>
      if (shingles.isEmpty) Seq.empty[Long]
      else {
        val sig = Array.fill(numPerm)(Long.MaxValue)
        val it = shingles.iterator
        while (it.hasNext) {
          // shingles arrive pre-hashed ([[hashedShingleDocs]], XXH64
          // chain) — fold into the 31-bit permutation domain
          val h = (it.next() & Long.MaxValue) % MinhashP
          var i = 0
          while (i < numPerm) {
            val v = (coeffA(i) * h + coeffB(i)) % MinhashP
            if (v < sig(i)) sig(i) = v
            i += 1
          }
        }
        // fold each band of rowsPerBand values into one 64-bit signature
        (0 until bands).map { bi =>
          var acc = 1125899906842597L
          var j = bi * rowsPerBand
          while (j < (bi + 1) * rowsPerBand) { acc = acc * 31 + sig(j); j += 1 }
          acc
        }
      }
    }
    sh.select(col("doc_id"), posexplode(sign(col("shingles"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
  }

  /** MinHash-LSH near-dup pairs: ids-only band-bucket join for
    * candidates, then EXACT Jaccard verification on the candidates' full
    * shingle sets (so the output equals [[ngramJaccardPairs]] up to the
    * negligible LSH miss probability — which is why both share one
    * oracle). The 32 band replicas carry (band, sig, doc_id) = 20 bytes,
    * not the shingle arrays.
    *
    * `dfCap` is the same hot-key guard as the n-gram path, applied to
    * (band, sig) buckets: a bucket holding > dfCap docs is a quadratic
    * skew key in the self-join. Hot buckets degrade to star candidates
    * around the bucket minimum ([[splitHotKeysStar]]), so a group of
    * > dfCap mutual near-dups still yields a verified spanning edge set
    * (complete clusters via [[connectedComponents]]; the PAIR list for
    * such a group is the star subset, not all O(group²) pairs — which is
    * the point of the cap). Both candidate paths share one default so
    * their documented equivalence holds under the same caveat. */
  /** Unsorted core of [[minhashLshPairs]] — see [[ngramJaccardCore]] for
    * why consumers that join/aggregate the pairs skip the sort. */
  private[operators] def minhashLshCore(docs: DataFrame,
      threshold: Double = 0.8, n: Int = 3, numPerm: Int = 128,
      bands: Int = 32, dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // Pin the hashed-shingle pass ONCE and share it between the banding
    // and the exact verification (r21: verifyJaccard reads its shingle
    // frame four times — two narrow size joins, two array rejoins — and
    // the banding is a fifth pass; an unpinned frame re-ran the
    // HashedShingles corpus kernel for every one of them). Rows are
    // (doc_id, array<long>) — disk-friendly at corpus scale.
    val sh = Lineage.pin(hashedShingleDocs(docs, n), eager = false)
    // Pin the banded signatures too: the frame is read by the hot-key
    // aggregation job AND the main candidate query, and recomputing it
    // means a second sign-UDF pass (the CPU-dominant stage). The rows
    // are (doc_id, band, sig) = ~20 bytes × bands per doc.
    // (pure pass-through when the cap is off: with no hot-key job the
    // l/r self-join already shares one exchange, so a checkpoint would
    // only add a materialization pass)
    val banded0 = minhashBandsFromShingles(sh, numPerm, bands)
    val banded = if (dfCap.isDefined) Lineage.pin(banded0) else banded0
    val (capped, hotSplit) = dfCap match {
      case None => (banded, None)
      case Some(cap) =>
        splitHotKeysStar(banded, Seq("band", "sig"), "doc_id", cap,
          "minhashLshCore")
    }
    val l = capped.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val r = capped.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    // corpus-sized both sides — never broadcast (see ngramJaccardCore)
    val selfCands = l.join(r.hint("shuffle_hash"), Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val cands = hotSplit.fold(selfCands)(h => selfCands.unionAll(h.star))
      .distinct()
    verifyJaccard(cands, sh, threshold)
  }

  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.8,
      n: Int = 3, numPerm: Int = 128, bands: Int = 32,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame =
    minhashLshCore(docs, threshold, n, numPerm, bands, dfCap)
      .orderBy("doc_a", "doc_b")

  /** Incremental ingest dedup: near-dup pairs BETWEEN a new batch and
    * the existing corpus — the nightly-crawl question ("which of these
    * new docs already exist?") answered WITHOUT re-pairing the corpus
    * against itself. The batch predicate must be computable from
    * `doc_id` alone (it is re-applied to the banded signature frame).
    *
    * Same machinery as [[minhashLshCore]], asymmetric join: MinHash
    * band signatures over all docs (one pinned pass), split into corpus
    * and batch sides, candidates from the ids-only (band, sig)
    * corpus⋈batch join — so the join output is bounded by
    * batch-adjacent collisions, never corpus² — then exact Jaccard
    * verification on full shingle sets. Hot (band, sig) buckets (> cap
    * rows across both sides) degrade to a star: each batch doc in the
    * bucket pairs with the bucket's min CORPUS doc (one verified edge
    * suffices for the drop decision; an all-batch hot bucket yields no
    * cross edge by definition). Within-batch duplicates are a separate
    * concern — run [[minhashLshPairs]] on the batch for those.
    * Output (corpus_doc_id, batch_doc_id, jaccard). */
  def incrementalNearDups(docs: DataFrame, isBatch: Column,
      threshold: Double = 0.8, n: Int = 3, numPerm: Int = 128,
      bands: Int = 32, dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // Pin the shingle pass once and share it with verification, then pin
    // the banded signatures: both feed multiple consumers (see
    // minhashLshCore for the rationale).
    val sh = Lineage.pin(hashedShingleDocs(docs, n), eager = false)
    val banded0 = minhashBandsFromShingles(sh, numPerm, bands)
    val banded = if (dfCap.isDefined) Lineage.pin(banded0) else banded0
    val corpusB = banded.filter(!isBatch)
    val batchB = banded.filter(isBatch)
    def cross(c: DataFrame, b: DataFrame): DataFrame =
      c.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
        .join(b.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
          .hint("shuffle_hash"), Seq("band", "sig"))
        .select("doc_a", "doc_b")
    val cands = (dfCap match {
      case None => cross(corpusB, batchB)
      case Some(cap) =>
        val (hot, nHot) = materializeHot(
          banded.groupBy("band", "sig")
            .agg(count(lit(1)).as("cnt"),
              min(when(!isBatch, col("doc_id"))).as("rep"))
            .filter(col("cnt") > cap).drop("cnt"))
        if (nHot == 0) cross(corpusB, batchB)
        else {
          log.warn(s"incrementalNearDups: $nHot hot buckets (> $cap rows) " +
            "reduced to batch-doc -> bucket-min-corpus-doc star edges")
          val keys = hot.select("band", "sig")
          val cold = cross(corpusB.join(keys, Seq("band", "sig"), "left_anti"),
            batchB.join(keys, Seq("band", "sig"), "left_anti"))
          val star = batchB.join(hot, Seq("band", "sig"))
            .filter(col("rep").isNotNull)
            .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
          cold.unionAll(star)
        }
    }).distinct()
    verifyJaccard(cands, sh, threshold)
      .withColumnRenamed("doc_a", "corpus_doc_id")
      .withColumnRenamed("doc_b", "batch_doc_id")
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash per doc over word-unigram features (weight = term
    * frequency): bit k of the fingerprint is the sign of Σ tf(w)·±1 over
    * bit k of the widened word hash. Computed per-row, no shuffle.
    *
    * Tokenization happens INSIDE the UDF (split on single spaces, drop
    * empties — same as [[shingleDocs]]): the previous declarative
    * `filter(split(...))` feeding the UDF ran through the interpreted
    * higher-order-function evaluator per element, and the simhash frame
    * is evaluated three times per query (banding + two verification
    * rejoins), which made it the most expensive query in the bench. */
  def simhash(docs: DataFrame): DataFrame = {
    val fp = udf { text: String =>
      val acc = new Array[Long](64)
      if (text != null) {
        val tf = new java.util.HashMap[String, Long]()
        val words = text.split(" ")
        var i = 0
        while (i < words.length) {
          val w = words(i)
          if (w.nonEmpty) {
            tf.put(w, tf.getOrDefault(w, 0L) + 1L)
          }
          i += 1
        }
        val it = tf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val w = e.getKey
          val bytes = w.getBytes("UTF-8")
          val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashUnsafeBytes2(bytes,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              bytes.length, 42).toLong
          // widen the 32-bit murmur to 64 deterministic bits
          val h64 = h * 0x9E3779B97F4A7C15L + (w.length.toLong << 32)
          val t = e.getValue.longValue()
          var k = 0
          while (k < 64) {
            acc(k) += (if (((h64 >>> k) & 1L) == 1L) t else -t); k += 1
          }
        }
      }
      var out = 0L
      var k = 0
      while (k < 64) { if (acc(k) > 0) out |= (1L << k); k += 1 }
      out
    }
    docs.select(col("doc_id"), fp(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Pigeonhole blocking: split the 64-bit fingerprint into
    * (maxHamming+1) bands — any pair within distance maxHamming agrees
    * exactly on ≥1 band, so the ids-only band join finds all of them; the
    * cheap xor/bit_count verification on the rejoined fingerprints
    * removes false positives. No O(n²).
    *
    * `dfCap` is the same hot-bucket guard as the other LSH candidate
    * paths: a mass-duplicated corpus region (identical fingerprints →
    * identical keys in EVERY band) makes the (band, key) self-join
    * O(bucket²) per band in both candidates and emitted pairs. Hot
    * buckets degrade to star candidates around the bucket-min doc
    * ([[splitHotKeysStar]]); Hamming verification confirms the star's
    * edges and [[connectedComponents]] recovers the full duplicate
    * group, exactly as the minhash path at [[minhashLshCore]]. */
  /** Low `width` bits set — `(1L << width) - 1` is WRONG at width = 64:
    * the JVM masks shift distances to 6 bits, so `1L << 64` silently
    * wraps to 1 and the mask collapses to 0. With maxHamming = 0 (one
    * 64-bit band) that put EVERY doc in band key 0 — the output stayed
    * correct (Hamming verification filters the all-pairs candidates)
    * so the sf0.01 oracle stayed green, while the candidate join went
    * n² at corpus scale: the r13 10×-sf0.1 smoke hung >20 min in a
    * single 2.5-billion-pair task before this was found. Spec-pinned. */
  private[graft] def bandMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame =
    fingerprintPairs(simhash(docs), maxHamming, dfCap, "simhashPairs")

  /** Pigeonhole-banded Hamming pair join over ANY 64-bit fingerprint
    * frame (doc_id, simhash) — the shared core of [[simhashPairs]] and
    * the perceptual-hash near-dup path
    * ([[Multimodal.qMediaNearDup]]): split the fingerprint into
    * (maxHamming+1) bands, ids-only band join, xor/bit_count verify.
    * All the simhash scale properties (hot-bucket star guard, bandMask
    * width-64 wrap pin, never-broadcast corpus sides) apply to every
    * fingerprint kind riding it. */
  private[graft] def fingerprintPairs(fingerprints: DataFrame,
      maxHamming: Int, dfCap: Option[Int], what: String): DataFrame = {
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // The fingerprint frame feeds the banding (plus its hot-bucket
    // aggregation job when the cap is on) AND two verification rejoins —
    // pin it so the fingerprint UDF runs once per doc. Rows are
    // (doc_id, simhash) = 16 bytes — disk-friendly at corpus scale.
    // Pinned on BOTH cap settings (r21): the two verification rejoins
    // key on different columns (doc_a / doc_b), so their exchanges never
    // unify and an unpinned frame re-ran the fingerprint UDF once per
    // rejoin even in the cap-off plan.
    val sh = Lineage.pin(fingerprints)
    val banded = sh.select(col("doc_id"),
      explode(sequence(lit(0), lit(nBands - 1))).as("band"),
      col("simhash"))
      .select(col("doc_id"), col("band"),
        expr(s"shiftrightunsigned(simhash, band * $width)")
          .bitwiseAND(lit(bandMask(width))).as("key"))
    val (capped, hotSplit) = dfCap match {
      case None => (banded, None)
      case Some(cap) =>
        splitHotKeysStar(banded, Seq("band", "key"), "doc_id", cap, what)
    }
    val l = capped.select(col("doc_id").as("doc_a"), col("band"), col("key"))
    val r = capped.select(col("doc_id").as("doc_b"), col("band"), col("key"))
    // corpus-sized both sides — never broadcast (see ngramJaccardCore)
    val selfCands = l.join(r.hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val cands = hotSplit.fold(selfCands)(h => selfCands.unionAll(h.star))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("fp_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("fp_b")), "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // Embedding near-dup
  // ---------------------------------------------------------------------

  /** Near-duplicate vectors by cosine ≥ threshold, via random-hyperplane
    * LSH: bands of `rowsPerBand` sign-bits; pairs colliding in ≥1 band
    * are found with an ids-only bucket join, then verified with exact
    * cosine on the rejoined vectors; exact verification removes all false
    * positives, so the output matches the exhaustive oracle up to the
    * banding miss probability.
    *
    * Band geometry trades miss probability against NOISE candidates —
    * unrelated vectors (cos ≈ 0) collide in a b-bit band with prob 2⁻ᵇ,
    * and every noise collision pays an exact-cosine verification. At
    * 48 bands × 14 bits: miss prob at cos 0.95 (bit-flip ≈ 0.101) is
    * (1−0.899¹⁴)⁴⁸ ≈ 5e-6, while noise candidates are n²·48/2¹⁴ — 250×
    * fewer than the old 32×8 geometry, whose 8-bit buckets made the
    * candidate join quadratic-ish on any corpus (2M noise pairs per 4M
    * vector pairs). */
  /** Corpus-sized hyperplane band geometry — the LSH scaling law made
    * executable (r13; found by the 512-d 100× stress, where fixed 48×14
    * banding let noise candidates grow as n²·B/2¹⁴ and the verify join
    * went superlinear). Noise pairs (cos ≈ 0) collide in a b-bit band
    * with prob 2⁻ᵇ, so holding expected noise ≤ `targetCandsPerRow`·n
    * needs b ≈ log₂(n·B / target) — KEY LENGTH GROWS WITH THE CORPUS.
    * Longer keys miss more true pairs per band (p^b with
    * p = 1 − acos(threshold)/π), so the band COUNT grows to hold the
    * total miss ≤ `maxMiss`: B = ⌈ln(maxMiss)/ln(1 − p^b)⌉.
    *
    * Both parameters only ever grow from the (48, 14) floor — the
    * geometry every oracle fixture was validated under stays bit-exact
    * at oracle scale, and band keys stay inside the Long sign-bit
    * accumulator (b ≤ 62; past that the corpus needs sharding anyway). */
  def bandGeometry(n: Long, threshold: Double, targetCandsPerRow: Int = 50,
      maxMiss: Double = 1e-4): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    val p = 1.0 - math.acos(threshold) / math.Pi
    def bandsFor(b: Int): Int = {
      val missPerBand = 1.0 - math.pow(p, b)
      math.max(48, math.ceil(math.log(maxMiss) / math.log(missPerBand)).toInt)
    }
    var b = 14
    while (b < 62 &&
        n.toDouble * n.toDouble * bandsFor(b) / math.pow(2.0, b) >
          targetCandsPerRow.toDouble * n.toDouble)
      b += 1
    (bandsFor(b), b)
  }

  /** Per-vector COMPACT verify sketch: int8-quantized components + the
    * quantization scale + the exact L2 norm — `d + 16` bytes against the
    * full float vector's `~4.3·d`. Carried through the candidate joins
    * (the verify stage's dominant shuffle: candidates × vector bytes —
    * at 512-d/50k-rows the full-float formulation moved ~29 GB and was
    * the 212× curve in the wide-vector stress). */
  private[graft] val verifySketchUdf = udf { (v: Seq[Float]) =>
    if (v == null) null
    else {
      val d = v.length
      val x = new Array[Double](d)
      var mx = 0.0
      var norm2 = 0.0
      var i = 0
      while (i < d) {
        val xi = v(i).toDouble
        x(i) = xi
        val a = math.abs(xi)
        if (a > mx) mx = a
        norm2 += xi * xi
        i += 1
      }
      val s = if (mx == 0.0) 1.0 else mx / 127.0
      val q = new Array[Byte](d)
      i = 0
      while (i < d) { q(i) = math.round(x(i) / s).toByte; i += 1 }
      (q, s, math.sqrt(norm2))
    }
  }

  /** SOUND upper bound on cos(u, v) from the two compact sketches: with
    * u = s_a·q_a + e_a (|e_a,i| ≤ s_a/2 ⇒ ‖e_a‖ ≤ s_a·√d/2),
    * Cauchy–Schwarz gives u·v ≤ s_a·s_b·(q_a·q_b) + (‖u‖+ε_a)ε_b +
    * ε_a(‖v‖+ε_b) + ε_a·ε_b. Dividing by ‖u‖‖v‖ bounds the cosine, so
    * filtering on `upper ≥ threshold` can NEVER drop a true pair — the
    * prefilter is exact-preserving, it only sheds noise (for which
    * upper ≈ 0 + ~0.03 ≪ threshold). Zero-norm or null vectors return
    * −∞: their exact cosine is NaN and fails the threshold anyway. */
  private[graft] val qCosUpperUdf = udf {
    (qa: Array[Byte], sa: Double, na: Double,
     qb: Array[Byte], sb: Double, nb: Double) =>
      if (qa == null || qb == null || na == 0.0 || nb == 0.0)
        Double.NegativeInfinity
      else {
        val d = math.min(qa.length, qb.length)
        var dot = 0L
        var i = 0
        while (i < d) { dot += qa(i).toLong * qb(i).toLong; i += 1 }
        val sq = math.sqrt(d.toDouble)
        val ea = sa * sq / 2.0
        val eb = sb * sq / 2.0
        (sa * sb * dot.toDouble + (na + ea) * eb + ea * (nb + eb) + ea * eb) /
          (na * nb)
      }
  }

  /** Exact-cosine verification of candidate id pairs, prefiltered on the
    * compact sketches: the two heavy joins (one per side, candidate-
    * cardinality) carry `d + 16`-byte sketches, the sound upper bound
    * sheds the noise candidates, and only the survivors (≈ true pairs +
    * near-threshold noise) re-fetch full float vectors for the exact
    * cosine that defines the output. Result: (aId, bId, cos_sim 4dp),
    * unordered — identical to the old full-width verify row for row,
    * with verify shuffle bytes cut ~4× and survivor-stage bytes by the
    * noise fraction. Sketch frames are pinned (n·(d+16) bytes — small)
    * so the sketch UDF runs once per side, not once per consumer. */
  private[graft] def verifyCosinePairs(cands: DataFrame, aFrame: DataFrame,
      bFrame: DataFrame, aId: String, bId: String, threshold: Double,
      sketches: Option[DataFrame] = None): DataFrame = {
    // `sketches` = a pre-materialized (vec_id, sk) frame (the write-once
    // LSH artifact, [[materializedLshTables]]): both sides read it
    // directly — no per-call sketch UDF pass, no checkpoint (the backing
    // parquet is already re-readable).
    def sk(f: DataFrame, id: String, tag: String) = sketches match {
      case Some(s) => s.select(col("vec_id").as(id), col("sk").as(tag))
      case None =>
        Lineage.pin(f.select(col("vec_id").as(id),
          verifySketchUdf(col("embedding")).as(tag)))
    }
    val survivors = cands
      .join(sk(aFrame, aId, "_ska"), aId)
      .join(sk(bFrame, bId, "_skb"), bId)
      // native fused bound (bit-identical to qCosUpperUdf, which the
      // spec pins it against): the filter runs at candidate cardinality,
      // so the codegen'd byte-dot loop replaces a per-row Scala UDF call
      .filter(VectorFunctions.sketchCosUpper(
        col("_ska"), col("_skb")) >= threshold)
      .select(aId, bId)
    survivors
      .join(aFrame.select(col("vec_id").as(aId),
        col("embedding").as("emb_a")), aId)
      .join(bFrame.select(col("vec_id").as(bId),
        col("embedding").as("emb_b")), bId)
      .withColumn("cos", VectorFunctions.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col(aId), col(bId), round(col("cos"), 4).as("cos_sim"))
  }

  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
      bands: Int = 48, rowsPerBand: Int = 14, dim: Int = 64,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    val sketch = hyperplaneSketch(bands, rowsPerBand, dim)
    val banded0 = embeddings
      .select(col("vec_id"), posexplode(sketch(col("embedding"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    // Checkpoint only when the guard reads the per-call banded frame
    // twice (the materialized path skips this — parquet re-reads free).
    val banded = if (dfCap.isDefined) Lineage.pin(banded0) else banded0
    bandedNearDupCore(banded, embeddings, threshold, dfCap, sketches = None)
  }

  /** The post-banding half of [[embeddingNearDupPairs]], shared by the
    * per-call path and the materialized-artifact path
    * ([[qEmbeddingNearDup]]): hot-bucket guard → (band, key) candidate
    * self-join → sketch-prefiltered exact-cosine verification.
    *
    * Hot-bucket guard, same shape as minhashLshCore: a dense embedding
    * region (mass-duplicated vectors — the web-image/boilerplate case)
    * puts >cap ids in one (band, key) bucket in EVERY band; the
    * self-join there is O(bucket²) per band. Degrade hot buckets to
    * star candidates around the bucket minimum — O(bucket) edges whose
    * exact-cosine verification + connected components still recover
    * the full duplicate group. */
  private def bandedNearDupCore(banded: DataFrame, embeddings: DataFrame,
      threshold: Double, dfCap: Option[Int],
      sketches: Option[DataFrame]): DataFrame = {
    val (capped, hotSplit) = dfCap match {
      case None => (banded, None)
      case Some(cap) =>
        splitHotKeysStar(banded, Seq("band", "key"), "vec_id", cap,
          "embeddingNearDupPairs")
    }
    val l = capped.select(col("vec_id").as("vid_a"), col("band"), col("key"))
    val r = capped.select(col("vec_id").as("vid_b"), col("band"), col("key"))
    // corpus-sized both sides — never broadcast (see ngramJaccardCore)
    val selfCands = l.join(r.hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("vid_a") < col("vid_b"))
      .select("vid_a", "vid_b")
    val cands = hotSplit.fold(selfCands)(h => selfCands.unionAll(
      h.star.select(col("doc_a").as("vid_a"), col("doc_b").as("vid_b"))))
      .distinct()
    verifyCosinePairs(cands, embeddings, embeddings, "vid_a", "vid_b",
      threshold, sketches)
      .orderBy("vid_a", "vid_b")
  }

  /** Seeded hyperplane-LSH sketch UDF: `bands` keys of `rowsPerBand`
    * sign bits each over the first `dim` components. The SAME seed (42)
    * on every call site, so two frames sketched independently land in
    * the same buckets — what makes the bipartite cross join below and
    * the self-join above interoperable. Flat row-major plane matrix + a
    * single unboxing pass per input vector: the projections are the
    * dominant per-row cost (bands × rowsPerBand × dim multiply-adds),
    * and running them over a boxed Seq[Float] is ~100× slower than
    * over primitive arrays. */
  private[graft] def hyperplaneSketch(bands: Int, rowsPerBand: Int, dim: Int) = {
    val rng = new scala.util.Random(42)
    val planes = Array.fill(bands * rowsPerBand * dim)(rng.nextGaussian())
    udf { v: Seq[Float] =>
      val x = new Array[Double](v.length)
      var k = 0
      while (k < x.length) { x(k) = v(k); k += 1 }
      val m = math.min(dim, x.length)
      val out = new Array[Long](bands)
      var bi = 0
      while (bi < bands) {
        var acc = 0L
        var j = 0
        while (j < rowsPerBand) {
          val base = (bi * rowsPerBand + j) * dim
          var d = 0.0
          var k2 = 0
          while (k2 < m) { d += planes(base + k2) * x(k2); k2 += 1 }
          acc = (acc << 1) | (if (d >= 0) 1L else 0L)
          j += 1
        }
        out(bi) = acc
        bi += 1
      }
      out.toSeq
    }
  }

  /** Bipartite (cross-corpus) embedding similarity join: every
    * (left, right) pair with cosine ≥ `threshold` — SEMANTIC
    * decontamination (benchmark embeddings vs the training corpus,
    * where [[graft.operators.Decontamination]] is the lexical form) and
    * cross-snapshot duplication audits. Same hyperplane-LSH banding as
    * [[embeddingNearDupPairs]] but between two frames: both sides are
    * sketched with the SAME seeded planes, candidates come from the
    * (band, key) equi-join — never left × right — and survive an exact
    * cosine verification. Within-side pairs are never emitted.
    *
    * Scale shape mirrors the self-join path: the band join shuffles
    * (band, key, id)-only rows, shuffle-hash (corpus-sized sides are
    * never broadcast), heavy embedding columns join back once per
    * surviving candidate. At threshold 0.9 the 48×14 banding misses a
    * true pair with p ≈ 0.003 (the documented LSH trade; lower
    * thresholds need wider banding — this is a near-dup detector, not
    * a general ANN join: see [[graft.operators.Similarity]] for top-k). */
  def embeddingCrossPairs(left: DataFrame, right: DataFrame,
      threshold: Double = 0.9, bands: Int = 48, rowsPerBand: Int = 14,
      dim: Int = 64, dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    val sketch = hyperplaneSketch(bands, rowsPerBand, dim)
    def bandedOf(df: DataFrame, idAs: String) = df
      .select(col("vec_id").as(idAs), posexplode(sketch(col("embedding"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val lb0 = bandedOf(left, "vid_left")
    val rb0 = bandedOf(right, "vid_right")
    val (lb, rb) =
      if (dfCap.isDefined) (Lineage.pin(lb0), Lineage.pin(rb0))
      else (lb0, rb0)
    crossPairsCore(lb, rb, left, right, threshold, dfCap, sketches = None)
  }

  /** The post-banding half of [[embeddingCrossPairs]], shared by the
    * per-call path and the materialized-artifact path
    * ([[qEmbeddingCrossDecon]] — both sides of the decon split come
    * from the SAME corpus, so one write-once band/sketch table serves
    * left and right; the per-call path re-sketched both sides on every
    * call, which at the 512-d stress was the widest remaining curve). */
  private def crossPairsCore(lb: DataFrame, rb: DataFrame,
      left: DataFrame, right: DataFrame, threshold: Double,
      dfCap: Option[Int], sketches: Option[DataFrame]): DataFrame = {
    // Bipartite hot-bucket guard: the join fanout of bucket b is
    // |L_b|·|R_b|, so THAT product is what the cap bounds. A hot bucket
    // degrades to the SPANNING cross set — left-min × every right
    // member plus every left member × right-min: O(|L_b|+|R_b|) edges
    // that still verify every member of both sides against a
    // representative of the other (a mass-duplicated region stays
    // flagged on both sides; only which partner flagged it degrades).
    val cands = (dfCap match {
      case None =>
        lb.join(rb.hint("shuffle_hash"), Seq("band", "key"))
          .select("vid_left", "vid_right")
      case Some(cap) =>
        val lc = lb.groupBy("band", "key")
          .agg(count(lit(1)).as("nl"), min(col("vid_left")).as("rep_l"))
        val rc = rb.groupBy("band", "key")
          .agg(count(lit(1)).as("nr"), min(col("vid_right")).as("rep_r"))
        val (hot, nHot) = materializeHot(
          lc.join(rc, Seq("band", "key"))
            .filter(col("nl") * col("nr") > cap)
            .select("band", "key", "rep_l", "rep_r"))
        if (nHot == 0)
          lb.join(rb.hint("shuffle_hash"), Seq("band", "key"))
            .select("vid_left", "vid_right")
        else {
          log.warn(s"embeddingCrossPairs: $nHot hot buckets " +
            s"(|L|x|R| > $cap) reduced to spanning cross candidates")
          val hotKeys = hot.select("band", "key")
          val cold = lb.join(hotKeys, Seq("band", "key"), "left_anti")
            .join(rb.join(hotKeys, Seq("band", "key"), "left_anti")
              .hint("shuffle_hash"), Seq("band", "key"))
            .select("vid_left", "vid_right")
          val starR = rb.join(hot, Seq("band", "key"))
            .select(col("rep_l").as("vid_left"), col("vid_right"))
          val starL = lb.join(hot, Seq("band", "key"))
            .select(col("vid_left"), col("rep_r").as("vid_right"))
          cold.unionByName(starR).unionByName(starL)
        }
    }).distinct()
    verifyCosinePairs(cands, left, right, "vid_left", "vid_right", threshold,
        sketches)
      .orderBy("vid_left", "vid_right")
  }

  // ---------------------------------------------------------------------
  // Clustering (connected components) and the query entries
  // ---------------------------------------------------------------------

  /** Connected components over a near-dup pair list by iterative min-label
    * propagation with pointer jumping (pure DataFrame joins — no
    * driver-side graph, no GraphFrames dependency). Each round a node
    * adopts the min of: its label, its neighbors' labels, and its
    * label's label (the pointer jump — this halves chain lengths every
    * round, so convergence is O(log diameter), not O(diameter)).
    * Convergence is detected by the monotonically-decreasing label sum
    * (one cheap aggregate per round instead of a join); lineage is
    * truncated via [[Lineage.pin]] every [[CcCheckpointEvery]] rounds —
    * reliable `checkpoint()` when the caller configured a checkpoint dir
    * (the cluster path: state survives executor loss), localCheckpoint
    * otherwise.
    * Output: (doc_id, canonical_doc_id = component minimum). */
  private val CcCheckpointEvery = 4

  /** Pair-count bound for the driver-side union-find fast path of
    * [[connectedComponents]]: 2²⁰ edges ≈ 16 MB of id longs — the same
    * transfer class as an ordinary broadcast relation, far under
    * spark.driver.maxResultSize. Below it the distributed iteration
    * spends its whole wall on scheduling (r22 probe: ~1.4 s warm /
    * 15+ jobs for a ~600-pair planted graph vs sub-ms union-find);
    * above it the pointer-jumping path runs unchanged — the driver
    * never holds an unbounded graph. */
  private[operators] val CcLocalMaxPairs = 1L << 20

  /** Driver-side union-find with component-min labels — output
    * IDENTICAL to the distributed iteration (every node that appears in
    * `p`, labeled by its component's minimum id; the iteration's
    * min-label fixpoint IS the component minimum wherever it converges,
    * and the local path is exact even past maxIter). */
  private def localComponents(rows: Array[org.apache.spark.sql.Row])
      : Seq[(Long, Long)] = {
    val parentOf = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parentOf.get(x) != x) {
        val gp = parentOf.get(parentOf.get(x))
        parentOf.put(x, gp) // path halving
        x = gp
      }
      x
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (!parentOf.containsKey(a)) parentOf.put(a, a)
      if (!parentOf.containsKey(b)) parentOf.put(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by min: the smaller root wins, so every root IS its
      // component's minimum at all times
      if (ra < rb) parentOf.put(rb, ra)
      else if (rb < ra) parentOf.put(ra, rb)
    }
    val out = Vector.newBuilder[(Long, Long)]
    parentOf.keySet().forEach(n => out += ((n, find(n))))
    out.result()
  }

  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 25,
      // seam for the equivalence spec (forces the distributed path with
      // 0); production callers always use the default bound
      localMaxPairs: Long = CcLocalMaxPairs): DataFrame = {
    // Materialize the (possibly very expensive) upstream pair pipeline
    // EXACTLY ONCE before anything references it twice — the edge
    // symmetrization below reads it through both unionAll branches, and
    // without this persist+count the whole dedup pipeline would run twice.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).persist()
    val nPairs = p.count()
    val empty = p.select(col("a").as("doc_id"), col("b").as("canonical_doc_id"))
      .limit(0)
    if (nPairs == 0) { p.unpersist(); return empty }
    val parent = p.sparkSession
    // Small-graph fast path (r22): a verified near-dup pair list under
    // [[CcLocalMaxPairs]] collapses to one bounded collect + union-find
    // on the driver — the planted-duplicate shapes every CC consumer
    // emits at verification scale spent 15+ scheduled jobs converging a
    // graph union-find solves in microseconds. Long-keyed inputs only
    // (every registered caller); anything else keeps the generic path.
    if (nPairs <= localMaxPairs &&
        p.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType)) {
      val labeled = localComponents(p.collect())
      p.unpersist()
      import parent.implicits._
      return labeled.toDF("doc_id", "canonical_doc_id").orderBy("doc_id")
    }
    // The CC graph (verified near-dup pairs) is orders of magnitude
    // smaller than the corpus that produced it, and nPairs is now known:
    // run the iteration's shuffles at a partition count proportional to
    // the graph (~100k pair rows per partition), not the session default
    // sized for corpus scans — each round is several joins, and per-
    // partition fixed costs dominate on a small graph. The width lives in
    // a child session ([[Lineage.withWidth]]), so concurrent queries on
    // the caller's session never observe it; the persisted pairs are
    // re-rooted there and coalesced to the graph-sized width (r15: on a
    // small graph, re-scanning the parent's 32+ cached partitions as
    // separate tasks dominated the whole call, ~0.4-0.5 s PER labelSum
    // action). The result is pinned — reliable checkpoint when the
    // context has a checkpoint dir — and re-rooted in the caller's
    // session, so a caller's chained work plans at its own width.
    val result = Lineage.withWidth(parent, nPairs / 100000L + 1L) { c =>
      val pc = c.adopt(p)
      val edges = c.persist(pc.unionAll(pc.select(col("b").as("a"), col("a").as("b"))))
      var labels = c.persist(edges.groupBy(col("a").as("node"))
        .agg(least(min(col("b")), first(col("a"))).as("label")))
      // SQL sum over zero rows is null — guard so an (unexpected) empty
      // label frame converges instead of NPE-ing on compareTo.
      def labelSum(df: DataFrame): java.math.BigDecimal =
        Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
          .getOrElse(java.math.BigDecimal.ZERO)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("node", "b"), "b")
          .groupBy(col("a").as("node")).agg(min(col("label")).as("nlabel"))
        // pointer jump: my label L is itself a node; adopt L's label too
        val labelOfLabel = labels
          .join(labels.select(col("node").as("label"), col("label").as("llabel")),
            Seq("label"))
          .select(col("node"), col("llabel"))
        val stepped = labels
          .join(neighborMin, Seq("node"), "left")
          .join(labelOfLabel, Seq("node"), "left")
          .select(col("node"), least(
            col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("llabel"), col("label"))).as("label"))
        val next = c.persist(
          if (iter % CcCheckpointEvery == CcCheckpointEvery - 1)
            Lineage.pin(stepped)
          else stepped)
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        labels.unpersist()
        labels = next
        iter += 1
      }
      if (!converged)
        log.warn(s"connectedComponents: not converged after $maxIter rounds — " +
          "labels may be non-canonical for components with huge diameter")
      labels.select(col("node").as("doc_id"), col("label").as("canonical_doc_id"))
    }
    p.unpersist()
    result.orderBy("doc_id")
  }

  /** Per-document duplicated-shingle fraction: for each doc, the share
    * of its distinct word 3-grams that also occur in AT LEAST ONE other
    * document — the cross-corpus repetition signal (boilerplate,
    * templated spam, licence headers, near-copies) that complements
    * [[TextAnalysis]]'s WITHIN-doc repetition score, and the per-doc
    * summary of what substring-level dedup (Lee et al.-style) would
    * remove. Docs shorter than 3 tokens have no shingles and no row
    * (same domain rule as every shingle oracle).
    *
    * Scale shape: [[hashedShingleDocs]] (64-bit hashes, never strings)
    * → explode → document frequency via a window PARTITIONED BY the
    * shingle hash — re-using the single hash shuffle on `h` in place
    * rather than a groupBy(h)+join-back that would shuffle the exploded
    * table on `h` TWICE — then one groupBy(doc_id). Two corpus-sized
    * shuffles total, both partially aggregated where Spark can. A df≥2
    * flag per distinct (doc, shingle) is all that survives the first
    * shuffle's window; no posting list is ever materialized. */
  def dupShingleFraction(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy("h")
    hashedShingleDocs(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("h"))
      .withColumn("df", count(lit(1)).over(wH))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", round(col("n_dup") / col("n_shingles"), 4))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-SPAN removal — the substring-level dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), which removes repeated SUBSTRINGS rather than
    * whole near-duplicate documents: any run of `n` consecutive tokens
    * occurring MORE THAN ONCE in the corpus (any document, any
    * position — within-doc repeats count) is removed from every
    * document, and overlapping/adjacent removed runs merge into maximal
    * spans. Unlike [[dupShingleFraction]] (which only SCORES the
    * duplication) this REWRITES the documents: one row per doc with the
    * cleaned text, kept/removed token counts, and merged span count.
    *
    * Semantics (shared with the DuckDB oracle): tokens = whitespace
    * split, empties dropped (the corpus-wide convention; rejoining with
    * single spaces normalizes whitespace identically on both engines);
    * a 1-based start position i is DUPLICATED iff its n-gram occurs ≥ 2
    * times across all (doc, pos) starts; token p is removed iff some
    * duplicated start s has s ≤ p ≤ s+n−1; consecutive duplicated
    * starts ≤ n apart merge (same-width intervals, so the previous
    * start always reaches furthest — lag(1) suffices for interval
    * merging, no running-max needed). The reference paper finds spans
    * via a corpus suffix array; that is a single-machine construction —
    * the shingle-start formulation computes the SAME ≥n-token repeated
    * runs (any repeated run of length L ≥ n is exactly a maximal chain
    * of L−n+1 duplicated starts) with nothing but hash-partitioned
    * counts, which is the shape that survives 1000 executors.
    *
    * Scale shape: positional [[graft.functions.HashedShingles]] (64-bit
    * hashes, `distinct = false`; the posexplode index IS the position)
    * → occurrence count via a window PARTITIONED BY hash (shuffle 1,
    * the only corpus-sized one, (doc_id, pos, h) longs only) →
    * duplicated starts only (a small fraction of the corpus) re-keyed
    * to doc_id for the lag/island windows (shuffle 2); the island
    * groupBy(doc_id, island) and span-collect groupBy(doc_id) both have
    * their ClusteredDistribution satisfied by that doc_id exchange —
    * ONE exchange serves the window chain and both aggregations.
    * Per-doc span arrays are bounded by doc length (tighter in
    * practice: each new span needs a > n gap between duplicated
    * starts). Join-back is spans ⋈ corpus on doc_id with the span side
    * output-bounded, strategy left to AQE; the token rewrite is a
    * per-row HOF — exists() over the doc's own merged spans — never a
    * shuffle. XXH64 collisions could over-remove a span; same
    * 2⁻⁶⁴-per-pair odds accepted by every shingle oracle here. */
  def removeDuplicatedSpans(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col("doc_id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.HashedShingles(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), n,
          distinct = false)).as("shingles"))
    val starts = sh
      .select(col("doc_id"), posexplode(col("shingles")).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + lit(1L)).as("pos"), col("h"))
    val dupStarts = starts
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("occ") >= 2)
      .select("doc_id", "pos")
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dupStarts
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("new_span", when(
        col("prev").isNull || col("pos") - col("prev") > n, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_span")).over(wDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("lo"), (max(col("pos")) + lit(n - 1)).as("hi"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("lo"), col("hi")))).as("spans"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "").as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("toks")).otherwise(
          filter(col("toks"), (t, i) =>
            !exists(col("spans"), sp =>
              (i + lit(1)) >= sp.getField("lo") &&
                (i + lit(1)) <= sp.getField("hi")))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        concat_ws(" ", col("kept")).as("kept_text"))
      .orderBy("doc_id")
  }

  // --- SparkEntry-facing query wrappers ---------------------------------

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(s, dir))

  /** Registered query (`text_dup_fraction`). */
  def qDupShingleFraction(s: SparkSession, dir: String): DataFrame =
    dupShingleFraction(Tables.documents(s, dir))

  /** Registered query (`dedup_spans`): substring-level span removal at
    * n = 5 (the 3-gram width the scoring queries share is degenerate on
    * this template-generated corpus — 64% of starts duplicate — while
    * 5-grams remove the actual near-dup template runs, ~9%). */
  def qRemoveDuplicatedSpans(s: SparkSession, dir: String): DataFrame =
    removeDuplicatedSpans(Tables.documents(s, dir))

  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(s, dir))

  def qSimhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(s, dir))

  /** Registered query (`dedup_simhash_exact`): the driver-checkable gate
    * on the simhash banding path (VERDICT r12 item 2, same pattern as
    * `sim_recall`). At maxHamming = 0 the pigeonhole blocking
    * degenerates to ONE 64-bit band, so [[simhashPairs]] must return
    * EXACTLY the fingerprint-equality self-join — a banding or
    * verification regression (wrong band arithmetic, lossy key
    * extraction, dropped candidates) breaks the equality. The synthetic
    * documents table has near-dups but no byte-identical texts, so the
    * gate plants verbatim copies of the 10 lowest-id docs under fresh
    * ids — ≥10 hamming-0 pairs exist BY CONSTRUCTION on any corpus
    * vintage and the check is never vacuous. Emits one row of
    * oracle-checkable constants plus `nonempty`/`pass` flags; a
    * regression flips a flag and hash-mismatches the constant oracle
    * row in CORRECTNESS instead of only a spec. dfCap = None on both
    * sides: this gates the pure banding algebra (the hot-bucket guard
    * has its own 30-copy-group star/CC spec). */
  def qSimhashExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val corpus = docs.unionAll(planted)
    // Both sides pinned (r21): the exceptAll/count gate below reads each
    // side in SEVERAL actions (missed, spurious, nExact), and unpinned
    // frames re-ran the whole banding pipeline / equality self-join per
    // action.
    val banded = Lineage.pin(simhashPairs(corpus, maxHamming = 0, dfCap = None)
      .select("doc_a", "doc_b"))
    // exact side: fingerprint-equality self-join ([[simhash]] is
    // deterministic, so recomputing it here sees identical fingerprints)
    val sh = Lineage.pin(simhash(corpus))
    val exact = Lineage.pin(sh.select(col("doc_id").as("doc_a"), col("simhash"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash")), "simhash")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b"))
    val missed = exact.exceptAll(banded).count()
    val spurious = banded.exceptAll(exact).count()
    val nExact = exact.count()
    import s.implicits._
    Seq((0L, nExact >= 10L, missed == 0L && spurious == 0L))
      .toDF("max_hamming", "nonempty", "pass")
  }

  /** dedup_incremental — every 10th doc plays the "new batch" ingested
    * against the rest of the corpus. */
  def qIncremental(s: SparkSession, dir: String): DataFrame =
    incrementalNearDups(Tables.documents(s, dir), col("doc_id") % 10 === 0)
      .orderBy("corpus_doc_id", "batch_doc_id")

  /** Bumped whenever the hyperplane-sketch / verify-sketch semantics
    * change — rides in the cache key so a stale LSH artifact can never
    * be served for the same data. */
  private val LshTableVersion = 1

  /** Write-once materialized LSH artifact for `dir`'s embeddings table
    * (the int8-codes / IVF-index pattern, [[MaterializedCache]]):
    * `banded/` = the (vec_id, band, key) hyperplane band signatures,
    * `sketch/` = the compact (vec_id, sk) verify sketches
    * ([[verifySketchUdf]] — int8 codes + scale + exact norm, d+16 bytes
    * per vector). Both are pure per-row functions of the embedding under
    * a FIXED seed, so materializing them changes nothing downstream —
    * the candidate join and verification read identical rows.
    *
    * Why: these two builds were the one remaining per-call corpus pass
    * of the near-dup serving path — at the 512-d 100× stress they
    * dominated dedup_embedding's curve (5.73×, ~9.5 s of re-sketching
    * per call, r14 verdict #1). One build per INGEST, keyed on
    * (algorithm version, band geometry, data fingerprint); every later
    * call is probe-only. Returns (banded, sketches) frames. */
  private def materializedLshTables(s: SparkSession, dir: String,
      bands: Int, rowsPerBand: Int, dim: Int = 64): (DataFrame, DataFrame) = {
    val idx = MaterializedCache.artifact(MaterializedCache.Kind.LshBands,
        dir, "embeddings.parquet", LshTableVersion,
        s"b${bands}x${rowsPerBand}d$dim", "sketch/_SUCCESS") { tmp =>
      val e = Tables.embeddings(s, dir)
      val sketch = hyperplaneSketch(bands, rowsPerBand, dim)
      e.select(col("vec_id"), posexplode(sketch(col("embedding"))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
        .write.mode("overwrite").parquet(tmp.resolve("banded").toString)
      e.select(col("vec_id"), verifySketchUdf(col("embedding")).as("sk"))
        .write.mode("overwrite").parquet(tmp.resolve("sketch").toString)
    }
    (s.read.parquet(idx.resolve("banded").toString),
      s.read.parquet(idx.resolve("sketch").toString))
  }

  /** dedup_embedding — band geometry tuned to the corpus row count
    * ([[bandGeometry]]; the count is a metadata-cheap job), so noise
    * candidates stay ~linear in n at any scale while the (48, 14)
    * oracle-scale geometry is preserved bit-exact below ~26k rows.
    * Band signatures and verify sketches come from the write-once
    * materialized artifact ([[materializedLshTables]]) — the serving
    * path re-sketches nothing; full embeddings are joined back only for
    * the surviving candidates' exact cosine. */
  def qEmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (bands, rowsPerBand) = bandGeometry(e.count(), 0.95)
    val (banded, sketches) = materializedLshTables(s, dir, bands, rowsPerBand)
    bandedNearDupCore(banded, e, threshold = 0.95,
      dfCap = Some(DefaultDfCap), sketches = Some(sketches))
  }

  /** emb_cross_decon — every 10th vector plays the "benchmark" set
    * checked against the rest of the corpus (the semantic analogue of
    * decon_hits' lexical split). Geometry sized to the LARGER side (the
    * bucket-noise driver is |L|·|R|·B/2ᵇ ≤ max² · B/2ᵇ).
    *
    * Round 16: both sides of the split come from the SAME embeddings
    * table, so the band signatures and verify sketches ride the
    * write-once [[materializedLshTables]] artifact (keyed on THIS
    * query's 0.9-threshold geometry — a second small artifact next to
    * dedup_embedding's 0.95 one) instead of re-sketching both sides per
    * call. Per-row band/sketch values are identical, so the candidate
    * join and verification read the same rows as the per-call path —
    * only the per-call corpus passes disappear (this was the widest
    * remaining 512-d curve: 4.06× at 100×). */
  def qEmbeddingCrossDecon(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val l = e.filter(col("vec_id") % 10 === 0)
    val r = e.filter(col("vec_id") % 10 =!= 0)
    val (bands, rowsPerBand) = bandGeometry(math.max(l.count(), r.count()), 0.9)
    val (banded, sketches) = materializedLshTables(s, dir, bands, rowsPerBand)
    val lb = banded.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("vid_left"), col("band"), col("key"))
    val rb = banded.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("vid_right"), col("band"), col("key"))
    crossPairsCore(lb, rb, l, r, threshold = 0.9,
        dfCap = Some(DefaultDfCap), sketches = Some(sketches))
      .withColumnRenamed("vid_left", "vid_bench")
      .withColumnRenamed("vid_right", "vid_corpus")
  }

  /** Clusters from the LSH candidate path — the at-scale composition
    * (LSH candidates → exact Jaccard verify → connected components).
    * Shares the exhaustive-Jaccard oracle: verification is exact, so the
    * pair set equals the n-gram path's up to the ~5e-8 banding miss. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLshCore(Tables.documents(s, dir)))

  /** END-TO-END near-dup removal — the operator a pipeline user actually
    * runs: the corpus minus every non-canonical cluster member (each
    * near-dup cluster keeps its min-doc_id representative; docs in no
    * cluster pass through untouched). Anti-join against the drop list,
    * which is duplicate-count-sized — corpus-bounded, so no broadcast
    * hint (the Decontamination lesson): AQE broadcasts it when its
    * runtime size allows. */
  def dedupCorpus(docs: DataFrame): DataFrame = {
    val clusters = connectedComponents(minhashLshCore(docs))
    val drop = clusters.filter(col("doc_id") =!= col("canonical_doc_id"))
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** dedup_filtered — the kept corpus after [[dedupCorpus]] (id/source/
    * size columns; the driver hash-checks membership). */
  def qDedupFiltered(s: SparkSession, dir: String): DataFrame =
    dedupCorpus(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Survivorship-priority near-dup removal — [[dedupCorpus]] with the
    * RefinedWeb keep policy: each near-dup cluster keeps its LONGEST
    * member (max token count, ties to the min doc_id) instead of the
    * min-id member. Min-id survivorship is the right default for
    * id-stable audits; a training pipeline wants the most complete
    * variant of a page, and truncated mirrors are the common near-dup
    * shape. Plan shape: the cluster table is duplicate-bounded (one row
    * per clustered doc), the ranking window is PARTITIONED by component
    * (never global), and the corpus joins the drop list by id — no
    * text ever shuffles.
    *
    * Registered query (`dedup_survivors`): the kept corpus
    * (doc_id, source, n_tokens). Shares the exhaustive-Jaccard
    * CC oracle of dedup_clusters/dedup_filtered with the argmax keep
    * rule replayed in SQL — fully hash-checked. */
  def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val nTok = Packing.nTokensUdf(col("text"))
    // Token-count the CLUSTERED docs only (r21): the ranking needs
    // n_tokens for duplicate-bounded cluster members, but projecting
    // nTok before the join ran the UDF over the whole corpus and joined
    // away ~95% of the results. Joining ids first moves text for
    // cluster members only (duplicate-bounded), then counts those.
    val clusters = connectedComponents(minhashLshCore(docs))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("n_tokens", nTok.cast("long")).drop("text")
    val w = Window.partitionBy("canonical_doc_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val drop = clusters
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .orderBy("doc_id")
  }

  /** NEAR-DUP-aware leakage-safe split — [[CorpusOps.qGroupSafeSplit]]
    * widened from exact-dup groups to near-dup CLUSTERS: the group key
    * is the connected-component canonical id of the LSH→verify→CC
    * pipeline (docs in no cluster are their own group), so restatements
    * and truncated mirrors — which an md5-of-text group can never join —
    * land on the same side of the train/val/test boundary. Near-dup
    * leakage is the contamination an exact-group split still ships:
    * val/test "held-out" docs that are 0.8-Jaccard rewrites of training
    * docs. `naive_strays` counts the docs the per-doc policy would have
    * scattered away from their cluster's split — non-vacuous on the sf
    * fixtures' natural near-dup clusters, no planting needed.
    *
    * Registered query (`split_neardup_safe`): per-split
    * (n_groups, n_docs, n_tokens, naive_strays). Shares the
    * exhaustive-Jaccard recursive-CTE CC oracle with the group-split
    * arithmetic replayed in SQL — fully hash-checked. Scale shape: the
    * cluster table is duplicate-bounded, the corpus joins it by id, the
    * rollup is 3 rows. */
  def qNearDupSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = connectedComponents(minhashLshCore(docs))
    docs.select(col("doc_id"), Packing.nTokensUdf(col("text")).as("n_tokens"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("canonical_doc_id"), col("doc_id")).as("gid"))
      .select(col("doc_id"), col("n_tokens"), col("gid"),
        CorpusOps.splitColumnOf(col("gid")).as("split"),
        CorpusOps.splitColumnOf(col("doc_id")).as("naive_split"))
      .groupBy("split")
      .agg(countDistinct("gid").as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("naive_split") =!= col("split"), 1L).otherwise(0L))
          .as("naive_strays"))
      .orderBy("split")
  }

  /** Floor below which the EXACT histogram refuses to run without an
    * explicit opt-in: at lo ≪ MinExactLo the AllPairs prefix filter
    * keeps nearly every shingle as a candidate ((1−lo)·n+1 of n), so the
    * pair join degenerates toward all-pairs-sharing-a-shingle — the one
    * inherently corpus-quadratic question in the family (r12 smoke:
    * 4.1× wall at 10× rows even post-prefix-filter, vs ≤2.4× for the
    * thresholded dedup queries). [[jaccardHistogramSampled]] answers the
    * same threshold-tuning question at 1/mod² the cost and is the
    * documented at-scale path. */
  val MinExactLo = 0.3

  /** Jaccard-band histogram — the threshold-tuning tool: how many doc
    * pairs fall in each similarity decile ≥ `lo` (band10 = ⌊j·10⌋, so 10
    * = exact duplicates). Banding is on the 4dp-rounded j with an
    * identical expression in the oracle, so edge pairs band identically
    * cross-engine.
    *
    * CAVEAT: inherits the df-cap hot-bucket guard, which degrades
    * duplicate groups larger than the cap to star candidates — cluster
    * membership survives but intra-group PAIRS don't, so on a corpus with
    * >cap mutual near-dups the high deciles are LOWER BOUNDS, not exact
    * counts. Pass `dfCap = None` for exact counts when the corpus is
    * known to have no hot shingles (quadratic in the hottest bucket
    * otherwise). */
  def jaccardHistogram(docs: DataFrame, lo: Double = MinExactLo, n: Int = 3,
      dfCap: Option[Int] = Some(DefaultDfCap),
      allowFullScan: Boolean = false): DataFrame = {
    require(lo >= MinExactLo || allowFullScan,
      s"jaccardHistogram: lo=$lo below the $MinExactLo floor makes the " +
        "exact pair join quadratic in near-dup-saturated corpora; use " +
        "jaccardHistogramSampled (the at-scale path) or opt in with " +
        "allowFullScan=true")
    // The prefix-filtered core, NOT the count-trick core: the count
    // trick's Σ df² candidate join is threshold-INDEPENDENT (lo only
    // filters its output), so a near-dup-saturated corpus pays the full
    // shared-shingle blowup no matter the floor — the r12 smoke measured
    // 196 s at 10× neardup rows through ngramJaccardCore vs the prefix
    // core's candidates-from-rarest-(1−lo)n+1-shingles, which is what
    // makes the lo ≥ 0.3 floor actually bound the work. Lossless:
    // DedupSpec pins prefix ≡ exhaustive at t = 0.3/0.5/0.8.
    prefixJaccardCore(docs, lo, n, dfCap)
      .withColumn("band10", floor(col("jaccard") * 10).cast("long"))
      .groupBy("band10").agg(count(lit(1)).as("n_pairs"))
      .orderBy("band10")
  }

  /** Sampled Jaccard-band histogram — the scale path for threshold
    * tuning. Deterministic 1/`mod` document sample by HASH, not residue:
    * keep docs whose `md5(decimal doc_id)` starts with one of the first
    * `16/mod` hex digits (the [[Sampling]] idiom — exactly reproducible
    * by any engine, which is what makes it oracle-checkable, unlike
    * rand()-based sampling). Hashing decorrelates the sample from id-
    * assignment patterns: a residue-class sample (`doc_id % mod`) keeps
    * or drops near-dup groups AS A BLOCK whenever a generator strides
    * ids by a multiple of mod, skewing band estimates systematically;
    * under md5 the estimator is unbiased for any id pattern short of an
    * adversarially md5-aligned one. A pair survives with probability
    * 1/mod², so `est_n_pairs = n_pairs · mod²` estimates each band's
    * population count. Cost shrinks mod²× (the candidate join is
    * quadratic in sample density), which turns the one inherently-
    * quadratic dedup query into a constant-factor choice: tune `mod` so
    * the sample's pair join fits the cluster. Bands whose true count is
    * ≪ mod² may sample to zero — fine for threshold tuning, where the
    * interesting bands are the populated ones. */
  def jaccardHistogramSampled(docs: DataFrame, lo: Double = 0.05,
      n: Int = 3, targetSample: Int = 1250,
      dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // Constant-BUDGET sampling, not constant-fraction: a fixed 1/mod
    // keeps a sample (and its quadratic pair join) growing with the
    // corpus — the r12 smoke measured the fixed-mod variant at 5.9x for
    // 10x rows. The sampling rate 1/mod is instead derived from the
    // corpus count (powers of 4 up to 256, all computed inside the
    // plan: a 1-row broadcast aggregate, never a driver action), so the
    // sample stays ~targetSample docs and the estimator's cost is flat
    // in corpus size. est_n_pairs scales by the matching mod².
    val modDf = docs.agg(count(lit(1)).as("nd")).select(
      when(col("nd") <= targetSample, 1L)
        .when(col("nd") <= targetSample * 4L, 4L)
        .when(col("nd") <= targetSample * 16L, 16L)
        .when(col("nd") <= targetSample * 64L, 64L)
        .otherwise(256L).as("smod"))
    val sampled = Sampling.hashSample256(
      docs.crossJoin(broadcast(modDf)), "doc_id",
      lit(256L) / col("smod")).drop("smod")
    ngramJaccardCore(sampled, lo, n, dfCap)
      .withColumn("band10", floor(col("jaccard") * 10).cast("long"))
      .groupBy("band10").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(modDf))
      .withColumn("est_n_pairs", col("n_pairs") * col("smod") * col("smod"))
      .drop("smod")
      .orderBy("band10")
  }

  /** Registered query (`dedup_hist_exact`) — the EXPLICIT OPT-IN exact
    * form (r16 VERDICT ask #5): inherently all-pairs above the prefix
    * filter, gated at the lo=0.3 floor, verification-scale tuning only.
    * The name a user copies for threshold tuning is
    * `dedup_threshold_hist`, which runs the sampled estimator below. */
  def qJaccardHistogram(s: SparkSession, dir: String): DataFrame =
    jaccardHistogram(Tables.documents(s, dir))

  /** Registered query (`dedup_threshold_hist`) — the HEADLINE
    * threshold-tuning name, on the constant-budget sampled estimator:
    * the at-scale answer to "which Jaccard threshold should this corpus
    * dedup at", flat in corpus size (0.97× at the 10× smoke). */
  def qJaccardHistogramSampled(s: SparkSession, dir: String): DataFrame =
    jaccardHistogramSampled(Tables.documents(s, dir))
}
