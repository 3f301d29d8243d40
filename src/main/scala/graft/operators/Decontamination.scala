package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the pretraining-hygiene step that removes
  * (or flags) corpus documents sharing word n-grams with an evaluation /
  * benchmark set, so the training data can't leak test answers.
  *
  * Scale shape: the BENCHMARK side is small by construction (eval suites
  * are thousands of documents, the corpus is the 100 TB side), so its
  * distinct shingle set is broadcast and the corpus-side probe is a
  * broadcast semi/inner join — one shuffle-free scan of the corpus
  * shingles, no corpus-sized exchange anywhere. `broadcastBench = false`
  * falls back to a shuffled join for the rare oversized benchmark.
  * Shingling reuses [[Dedup.shingleDocs]] (distinct word n-grams per doc,
  * primitive-loop UDF — the measured-30×-over-interpreted-HOF path).
  */
object Decontamination {

  /** (doc_id, n_hits) per CONTAMINATED corpus doc: the number of distinct
    * word `n`-grams it shares with the benchmark set. Docs shorter than
    * `n` words can never hit. */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      broadcastBench: Boolean = true): DataFrame = {
    val bench = Dedup.shingleDocs(benchmark, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val benchSide = if (broadcastBench) broadcast(bench) else bench
    Dedup.shingleDocs(corpus, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(benchSide, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** The corpus minus every contaminated document — anti-join against the
    * hit list, preserving all corpus columns. No broadcast hint: the hit
    * list is bounded by the number of contaminated CORPUS docs (corpus-
    * scale, not benchmark-scale — a heavily contaminated 100 TB corpus
    * makes it arbitrarily large), so the join strategy is left to AQE,
    * which broadcasts it exactly when its runtime size allows. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3)
      : DataFrame =
    corpus.join(
      contaminationHits(corpus, benchmark, n).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** [[contaminationHits]] with a Bloom prefilter on the corpus probe —
    * the 100 TB form. Broadcasting the benchmark's raw shingle STRINGS
    * costs tens of bytes per shingle; the Bloom filter costs ~1.8 BYTES
    * per shingle at fpp=0.1%, so an eval suite of 10^8 shingles ships as
    * ~200 MB of bits instead of multi-GB of strings. The probe is a
    * per-row bitset test that discards ~all clean corpus shingles before
    * any join; the surviving sliver (true hits + fpp false positives)
    * then passes an EXACT confirm join, so results are identical to
    * [[contaminationHits]] — same oracle, bit for bit. The filter is
    * built with `df.stat.bloomFilter` (a treeAggregate on the small
    * benchmark side) and broadcast once. */
  def contaminationHitsBloom(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, fpp: Double = 0.001): DataFrame = {
    // Pinned (r21): the benchmark shingle set feeds THREE actions — the
    // count, the bloomFilter treeAggregate, and the exact confirm join —
    // and an unpinned frame re-ran the benchmark shingle UDF pass for
    // each. Benchmark-scale rows (distinct shingle strings), never
    // corpus-scale.
    val bench = Lineage.pin(Dedup.shingleDocs(benchmark, n)
      .select(explode(col("shingles")).as("shingle")).distinct(), eager = false)
    val nBench = bench.count() // action on the benchmark side only (small)
    // Empty benchmark → nothing can be contaminated. Short-circuit with
    // the output schema: stat.bloomFilter over zero rows yields a
    // null-buffer sketch whose mightContain NPEs at probe time.
    if (nBench == 0)
      return corpus.select(col("doc_id"), lit(0L).as("n_hits")).limit(0)
    val bf = bench.stat.bloomFilter("shingle", math.max(nBench, 1L), fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf { (s: String) => s != null && bc.value.mightContainString(s) }
    Dedup.shingleDocs(corpus, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .filter(mightContain(col("shingle")))
      // broadcast, as in [[contaminationHits]]: the confirm side is
      // benchmark-scale by construction, and an unhinted join here
      // shuffled the surviving corpus sliver by shingle (r21)
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  // --- SparkEntry-facing query wrapper ----------------------------------

  /** Registered query: deterministic split of `documents` into a pseudo
    * benchmark (doc_id ≡ 0 mod 20) and corpus (the rest); emits each
    * contaminated corpus doc with its distinct shared-3-gram count. */
  def qDeconHits(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    contaminationHits(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .orderBy("doc_id")
  }

  /** Registered query (`decon_bloom`): the same split as [[qDeconHits]]
    * through the Bloom-prefiltered path — exactness of the prefilter +
    * confirm-join pipeline is oracle-checked against the same SQL as
    * `decon_hits`. */
  def qDeconBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    contaminationHitsBloom(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .orderBy("doc_id")
  }
}
