package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) merge training — the tokenizer-training
  * primitive of every LLM data pipeline (Sennrich et al. 2016): repeat
  * { count adjacent symbol-pair frequencies over the corpus, merge the
  * most frequent pair into one symbol } for `steps` rounds.
  *
  * Distributed shape: BPE trains on the WORD-FREQUENCY table, not the
  * token stream — one corpus scan builds (word, freq), after which
  * every round runs over the vocabulary (much smaller than the corpus,
  * and the thing that fits a tokenizer trainer's memory at any corpus
  * size). Per round: adjacent pairs explode from each word's symbol
  * sequence (weighted by freq, map-side combinable), the argmax pair is
  * ONE collected row (count desc, pair asc — deterministic), and the
  * merge rewrites every word's symbol string with a substring replace
  * over a DOUBLED delimiter: `' '→'  '`, then `' a  b '→' ab '`, then
  * collapse runs of spaces back to one.
  *
  * Why the doubling: a plain `replace(sym, ' a b ', ' ab ')` CONSUMES
  * the flanking space, so back-to-back occurrences sharing one
  * delimiter are skipped ("x y x y" → "xy x y", not the canonical
  * "xy xy") — and repeating that replace to a fixpoint is NOT canonical
  * either ("a a a a a" fixpoints to "aa a aa" where the canonical
  * left-to-right scan gives "aa aa a", and the grouping feeds the next
  * round's pair counts). With two spaces in every gap, adjacent matches
  * each own one of the shared gap's spaces, so ONE consuming replace is
  * exactly the canonical left-to-right non-overlapping merge of a
  * Sennrich-style trainer: runs merge skip-two ("a a a" → "aa a",
  * "a a a a" → "aa aa") and alternations merge fully ("x y x y" →
  * "xy xy"). Symbols never contain spaces, so the doubled pattern is
  * unambiguous, and DuckDB's `replace` has identical consuming
  * semantics, keeping the whole trainer oracle-checkable with three
  * unrolled SQL rounds (BpeSpec pins odd runs, even runs, and
  * alternating bigrams against hand-computed canonical merges).
  */
object Bpe {

  /** Apply ONE canonical BPE merge to a space-delimited symbol-string
    * column via the doubled-delimiter trick (object doc): double every
    * space, consume-replace the doubled pair pattern, collapse runs of
    * spaces. Shared by the trainer's per-round vocabulary rewrite and
    * the [[bpeEncode]] corpus encoder, so the two can never drift. */
  private def applyMerge(sym: org.apache.spark.sql.Column, pair: String,
      merged: String): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(sym, " ", "  "),
        java.util.regex.Pattern.quote(" " + pair.replace(" ", "  ") + " "),
        java.util.regex.Matcher.quoteReplacement(s" $merged ")),
      " +", " ")

  /** One row per merge step: (step, pair "a b", merged "ab", weighted
    * occurrence count at selection time).
    *
    * SCALE ENVELOPE — stated, not implied: the merge loop is
    * driver-SEQUENTIAL by nature (round t's argmax depends on round
    * t−1's rewrite; every BPE trainer ever shipped iterates), so wall
    * cost is steps × (one vocabulary scan + one 1-row collect). The
    * corpus is scanned exactly ONCE (the word-frequency build);
    * everything after runs over the VOCABULARY table, which is what
    * bounds a tokenizer trainer's memory at any corpus size, and each
    * round's rewrite is pinned with a LAZY `localCheckpoint(false)` so
    * the plan cannot snowball across hundreds of rounds while adding no
    * per-round driver job. A realistic 32k-merge training run is
    * therefore 32k small Spark jobs — hours of scheduler latency, the
    * same shape (and the same answer) as running HuggingFace's trainer
    * on the collected word-frequency table, which is what a production
    * pipeline would do with THIS operator's first-stage output. BpeSpec
    * pins a 50-round run against the in-memory canonical reference
    * merge for merge. */
  def bpeMerges(docs: DataFrame, steps: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val words = Lineage.pin(docs
      .select(explode(filter(split(coalesce(col("text"), lit("")), " "),
        t => t =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // ' a b c ' — every symbol space-flanked. (?s): Java's dot skips
      // \r and the Unicode line separators while RE2's skips only \n,
      // so a CRLF word would symbolize as a glued "\rb" on one engine
      // and "\r","b" on the other; DOTALL here + the 's' regex flag in
      // the oracle pin single-CHARACTER symbols on both engines.
      .withColumn("sym",
        concat(lit(" "), regexp_replace(col("w"), "(?s)(.)", "$1 ")))
      // vocabulary-sized; each round rewrites it. LAZY pin: round 1's
      // aggregate materializes it — no separate checkpoint job
      .select("sym", "freq"), eager = false)
    var vocab = words
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var exhausted = false
    // Checkpoint-block bookkeeping: each round's aggregate materializes
    // the PREVIOUS round's lazy localCheckpoint, and round N's vocab is
    // read for the last time by round N+2's collect — so the blocks
    // from two rounds back are dead and can be dropped. Without this,
    // a 32k-round run parks every superseded vocabulary copy in the
    // block manager until driver GC gets around to it (r19 review
    // finding). Tracked by each checkpointed frame's OWN LogicalRDD
    // handle — never by diffing the SparkContext-global persistent-RDD
    // registry, which would capture (and two rounds later force-
    // unpersist) RDDs persisted by concurrent jobs sharing the context;
    // for a concurrent localCheckpoint that destroys the only copy
    // (r19 ADVICE). This also covers the initial `words` checkpoint,
    // which the registry-delta scheme baselined away and leaked.
    def checkpointRdd(ds: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      ds.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    var prevPrev: Option[org.apache.spark.rdd.RDD[_]] = None
    var prev: Option[org.apache.spark.rdd.RDD[_]] = checkpointRdd(words)
    def reapSuperseded(latest: DataFrame): Unit = {
      prevPrev.foreach(_.unpersist(false))
      prevPrev = prev
      prev = checkpointRdd(latest)
    }
    for (step <- 1 to steps if !exhausted) {
      val syms = filter(split(col("sym"), " "), x => x =!= "")
      val bestRows = vocab
        .select(col("freq"), syms.as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("a")) - 2),
            i => concat(element_at(col("a"), i + 1), lit(" "),
              element_at(col("a"), i + 2)))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (bestRows.isEmpty) {
        // empty corpus, or every word already one symbol: nothing left
        // to merge — a shorter merge list, not an error
        exhausted = true
      } else {
      val pair = bestRows.head.getString(0)
      val cnt = bestRows.head.getLong(1)
      val merged = pair.replace(" ", "")
      picks += ((step, pair, merged, cnt))
      // lazy pin (materialized by the NEXT round's aggregate): truncates
      // lineage so the plan can't snowball over hundreds of rounds,
      // without the eager form's one-extra-driver-job-per-round
      vocab = Lineage.pin(vocab
        .withColumn("sym", applyMerge(col("sym"), pair, merged)), eager = false)
      // this round's collect was the last read of the two-rounds-back
      // copy; shift the window onto the checkpoint just created
      reapSuperseded(vocab)
      }
    }
    // the final vocab copies are dead once the picks are collected
    prevPrev.foreach(_.unpersist(false))
    prev.foreach(_.unpersist(false))
    import spark.implicits._
    picks.toSeq.toDF("step", "pair", "merged", "n_occurrences")
      .select(col("step").cast("long").as("step"), col("pair"),
        col("merged"), col("n_occurrences"))
      .orderBy("step")
  }

  /** Registered query (`bpe_merges`). */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(s, dir))

  /** BPE ENCODING — the trainer's other half: apply the learned merge
    * table to the corpus and report each document's token count before
    * (characters) and after (BPE symbols) merging — the
    * compression-accounting pass every tokenizer pipeline runs to size
    * a training corpus in tokens rather than bytes.
    *
    * Distributed shape: the merge table is ≤ `steps` COLLECTED rows
    * (vocabulary-trained, [[bpeMerges]]); application folds those rows
    * into ONE composed column expression over the exploded word stream
    * — per-row codegen'd string work, no shuffle until the final
    * doc-key sum (map-side combinable, one narrow row per doc).
    * Merges never cross word boundaries (the [[bpeMerges]] contract),
    * so encoding word-by-word is exact. Null text → no words → no row
    * (the repo-wide explode convention; mirrored by the oracle's
    * unnest). Shares [[applyMerge]] with the trainer, so encoder and
    * trainer semantics cannot drift. */
  /** Merges composed into one column expression per chunk of this many
    * rounds, with a lineage-pinning localCheckpoint between chunks:
    * each [[applyMerge]] nests 3 regexp_replace levels, so an UNBOUNDED
    * fold at the trainer's own documented 32k-round envelope builds a
    * ~100k-deep Catalyst tree and overflows analysis before a single
    * task runs (r19 review finding). 256 rounds ≈ 800 deep — far under
    * any JVM stack — and a ≤-256-merge call (every registered fixture)
    * composes exactly one chunk, i.e. the identical single-expression
    * plan as before. */
  private val EncodeChunkRounds = 256

  def bpeEncode(docs: DataFrame, steps: Int = 3): DataFrame =
    bpeEncode(docs, steps, EncodeChunkRounds)

  /** `chunkRounds` is test-visible so the multi-chunk path can be
    * exercised by a spec without training 256+ real merges. */
  private[graft] def bpeEncode(docs: DataFrame, steps: Int,
      chunkRounds: Int): DataFrame = {
    require(chunkRounds > 0, s"chunkRounds must be positive: $chunkRounds")
    val merges = bpeMerges(docs, steps).collect() // ≤ steps rows
    val words = docs.select(col("doc_id"), explode(
      filter(split(coalesce(col("text"), lit("")), " "),
        t => t =!= "")).as("w"))
    val sym0 = concat(lit(" "), regexp_replace(col("w"), "(?s)(.)", "$1 "))
    val chunks = merges.grouped(chunkRounds).toSeq
    var cur = words.withColumn("symc", sym0)
    chunks.zipWithIndex.foreach { case (chunk, ci) =>
      val expr = chunk.foldLeft(col("symc"))((c, m) =>
        applyMerge(c, m.getString(1), m.getString(2)))
      cur = cur.withColumn("symc", expr)
      // pin between chunks only — a single-chunk call (≤ 256 merges)
      // keeps the original one-expression, zero-materialization plan
      if (ci < chunks.length - 1) cur = Lineage.pin(cur, eager = false)
    }
    cur
      .select(col("doc_id"), length(col("w")).cast("long").as("nc"),
        size(filter(split(col("symc"), " "), x => x =!= ""))
          .cast("long").as("nb"))
      .groupBy("doc_id")
      .agg(sum("nc").as("n_char_tokens"), sum("nb").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Registered query (`bpe_encode`). */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables.documents(s, dir))
}
