package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage) — the structured-data sibling of
  * the document dedup family: find records that denote the SAME
  * real-world entity despite textual drift (typos, re-keyed ingests,
  * partial field corruption), then assign canonical ids.
  *
  * The three-stage shape every production ER system shares, composed
  * from this repo's existing primitives:
  *
  *   1. BLOCKING — candidate pairs come only from records agreeing on a
  *      cheap deterministic key, via plain equi self-joins (never a
  *      corpus×corpus comparison; the LSH-banding idea with exact
  *      keys). MULTI-PASS: several independent blocking keys, unioned —
  *      a single key misses any record whose key field itself is
  *      corrupted, so real pipelines run two or three passes whose
  *      union covers each other's blind spots.
  *   2. MATCHING — an expensive fuzzy predicate (here codegen'd
  *      `levenshtein` on the name) runs at CANDIDATE cardinality only.
  *   3. CLUSTERING — matched pairs feed the same pointer-jumping
  *      [[Dedup.connectedComponents]] the near-dup family uses;
  *      canonical id = component minimum (survivorship rule).
  *
  * Scale: block sizes are bounded by key choice — composite keys
  * (nation+balance, segment+balance) keep blocks O(1) here; a skewed
  * blocking key takes the star degradation the LSH paths use
  * ([[blockPairs]]' `cap`): a block larger than `cap` emits only the
  * O(block) star pairs around its min-id representative instead of the
  * O(block²) all-pairs, and CC clustering restores the full entity
  * transitively whenever the representative matches. Oracle corpora
  * never reach the cap (blocks are O(1) by key choice — spec-pinned);
  * the skew spec plants a hotter key and pins both the pair-count
  * degradation and the surviving cluster. Shuffles carry
  * (key, id, name) only.
  */
object EntityResolution {

  /** Default hot-block cap: far above any block a sane composite key
    * produces, far below a genuinely skewed key (a null-heavy field, a
    * default-valued balance) whose all-pairs form would be quadratic. */
  val DefaultBlockCap = 64

  /** Candidate pairs from one blocking pass: equi self-join on `keys`,
    * each unordered pair once. Blocks larger than `cap` degrade to star
    * pairs around the block-min representative (rep < member always, so
    * a < b is preserved).
    *
    * Both branches are built UNCONDITIONALLY into one plan: the hot
    * frame is empty in the common no-skew case, so the anti-join passes
    * everything through, the star branch contributes zero rows, and the
    * union is near-free. The previous formulation probed for hot blocks
    * eagerly (`hot.head(1)` behind a `Lineage.pin`) to pick a branch on
    * the driver — 2 extra Spark jobs per blocking pass, paid on EVERY
    * call including the no-skew common case (the r14 clean bench showed
    * er_customers regressing 1.52 → 2.48 s on exactly that overhead).
    * The hot aggregate is pinned LAZILY (`Lineage.pin(_, eager = false)`):
    * materialized by the first branch that needs it, reused by the
    * second, no driver round-trip. */
  private[graft] def blockPairs(recs: DataFrame, keys: Seq[String],
      cap: Int = DefaultBlockCap): DataFrame = {
    val keyed = recs.select(
      keys.map(col) :+ col("c_custkey").as("id") :+ col("c_name").as("nm"): _*)
    // lazy pin: read twice below (anti-join + star join) — one compute,
    // zero extra driver jobs (the eager pin/probe this replaces ran 2)
    val hot = Lineage.pin(keyed
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("rep"))
      .filter(col("cnt") > cap)
      .drop("cnt"), eager = false)
    val cold = keyed.join(hot.select(keys.map(col): _*), keys, "left_anti")
    val a = cold.select(
      keys.map(col) :+ col("id").as("a") :+ col("nm").as("na"): _*)
    val b = cold.select(
      keys.map(col) :+ col("id").as("b") :+ col("nm").as("nb"): _*)
    val coldPairs = a.join(b, keys).filter(col("a") < col("b"))
      .select("a", "b", "na", "nb")
    val star = keyed.join(hot, keys)
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"), col("nm").as("nb"))
      .join(keyed.select(col("id").as("a"), col("nm").as("na")), "a")
      .select("a", "b", "na", "nb")
    coldPairs.unionByName(star)
  }

  /** Resolve near-duplicate customer records: two blocking passes
    * (nation+balance, segment+balance), a levenshtein ≤ `maxEdits` name
    * match, CC clustering. Returns (c_custkey, canonical_custkey), one
    * row per record that belongs to a multi-record entity. */
  def resolveCustomers(recs0: DataFrame, maxEdits: Int = 1,
      blockCap: Int = DefaultBlockCap): DataFrame = {
    // r21: run the blocking/matching joins at a partition width
    // proportional to the RECORD COUNT, in a child session
    // ([[Lineage.withWidth]], the [[Dedup.connectedComponents]] width
    // discipline extended to the blocking stage). A customer-dimension ER
    // input is orders of magnitude smaller than the corpus tables the
    // session default is sized for; at the default width every blocking
    // pass spread a few thousand rows over 32+ partitions and task
    // scheduling dominated (er_customers was the 4th most expensive bench
    // row). The pinned record frame is one eager pass (records are
    // dimension-sized); width scales back up with record count, so a
    // corpus-sized ER input keeps the session width. The result is
    // re-rooted in the caller's session (r21 ADVICE: a composing caller
    // must not silently keep executing at the ER-derived 1-2 partition
    // width), with the contract ORDER BY re-asserted there.
    val pinned = Lineage.pin(recs0)
    val nRecs = pinned.count()
    Lineage.withWidth(recs0.sparkSession, nRecs / 100000L + 1L) { c =>
      val recs = c.adopt(pinned)
      val cand = blockPairs(recs, Seq("c_nationkey", "c_acctbal"), blockCap)
        .unionByName(blockPairs(recs, Seq("c_mktsegment", "c_acctbal"), blockCap))
        .distinct()
      val matched = cand
        .filter(levenshtein(col("na"), col("nb")) <= maxEdits)
        .select("a", "b")
      Dedup.connectedComponents(matched, "a", "b")
        .select(col("doc_id").as("c_custkey"),
          col("canonical_doc_id").as("canonical_custkey"))
    }.orderBy("c_custkey")
  }

  /** Registered query (`er_customers`): the customer table with planted
    * drifted duplicates — every %50 record re-keyed under +1000000 with
    * a one-edit name typo ("Customer#…" → "Cstomer#…"); the %150 subset
    * ALSO corrupts the nation key, so blocking pass 1 misses it and only
    * the segment+balance pass catches it — the multi-pass union is
    * load-bearing, not decorative (a pass-coverage regression drops
    * those clusters and hash-mismatches the oracle). Oracle = the same
    * construction + blocking + levenshtein in SQL, CC as the recursive
    * reachability CTE the dedup_clusters oracle established. */
  def qResolveCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val clones = c.filter(col("c_custkey") % 50 === 0)
      .select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("C"), expr("substring(c_name, 3)")).as("c_name"),
        when(col("c_custkey") % 150 === 0,
          (col("c_nationkey") + 1) % 25).otherwise(col("c_nationkey"))
          .as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    resolveCustomers(c.unionByName(clones))
  }
}
