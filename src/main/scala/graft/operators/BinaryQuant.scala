package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary (1-bit sign) quantization ANN — the third point on the
  * storage/recall trade curve next to int8 ([[Embeddings]]) and IVF
  * ([[Similarity]]), and the one vector stores reach for first at
  * 100 TB: one BIT per dimension (32× smaller than float32 at rest),
  * Hamming distance as the prefilter metric, exact cosine re-rank on a
  * fixed-size candidate pool.
  *
  * Why this shape survives a 1000-executor cluster:
  *  - The prefilter scan touches ONLY the packed-bits column —
  *    `ceil(d/32)` words per vector — and its kernel is
  *    `bit_count(xor)` + sum, all codegen'd built-ins. For a 64-d
  *    corpus that is 8 bytes/vector where the float scan reads 256.
  *  - The candidate pool per query is CONSTANT (`DefaultPool` = 128),
  *    held by the bounded [[graft.functions.TopKByScore]] aggregate
  *    (map-side partials ≤ pool entries per query — never a
  *    corpus-sized window sort), so shuffle volume is
  *    O(partitions · |queries| · pool) regardless of corpus size.
  *  - Only pool members' raw vectors are ever read back: the re-rank
  *    joins |queries|·pool ids against the embeddings table, then
  *    scores with the same fused [[graft.functions.CosineSimilarity]]
  *    kernel as q15.
  *  - The packed-bits table is write-once/probe-many
  *    ([[MaterializedCache]], the IVF/int8 discipline): one packing
  *    scan per ingest, amortized over every probe.
  *
  * The trade is recall at a FIXED bit budget: 1 bit/dim Hamming is a
  * coarse angle proxy, so recall@k at constant pool degrades as the
  * corpus grows. Measured surface (`graft.Scale binary`, 512-d
  * distinct-mode replicas — near-uniform, the worst case for any
  * quantizer — k=3, 8 queries; SCALE_STRESS_r18 plus the r19 pool
  * ladder at n=5,000):
  *
  *   pool \ N     500     5,000   50,000
  *   128          0.958   0.750   0.708
  *   200          —       0.792   —
  *   256          —       0.875   —
  *   320          —       0.917   —
  *   512          1.000   1.000   0.875
  *   2048         1.000   1.000   0.875
  *
  * THE KNOB RULE: the pool is a SAMPLE-FRACTION knob, not an absolute
  * one — a fixed absolute pool silently decays as the corpus grows,
  * and the fraction needed to stay on the saturation plateau is
  * NOISY at small corpora (the truth set is 24 items): 1% suffices at
  * n=50k (pool 512 → 0.875) but n=5,000 needs ~5% (pool 256 → 0.875;
  * 2.56% measured only 0.750 and 4% only 0.792). [[recommendedPool]]
  * therefore holds pool/N at 6.25% (n/16) — clearing the worst
  * measured knee with margin, not tracking the asymptote. Scaling the pool is nearly free at probe time —
  * the probe wall is dominated by the packed-bits SCAN, not the pool
  * (SCALE_STRESS_r18: 1.212 s at pool 128 vs 1.247 s at pool 2048 on
  * the 50k corpus), and shuffle volume stays O(partitions·|q|·pool).
  * The 0.875 plateau at 50k (pool 512 = 2048) is the 1-bit metric
  * itself saturating on uniform vectors — past it the knobs are
  * bits/dim (re-pack) or int8/IVF; production corpora with real
  * cluster structure sit far above this synthetic floor.
  * `sim_binary_recall` gates the floor every round; the plateau knee
  * (1000 at 50k → 0.875) rides in the recall stress.
  *
  * Determinism contract (what makes the MAIN query fully
  * oracle-checkable where IVF's fit is not): packing, Hamming, the
  * (hamming asc, vec_id asc) pool cut, and the (cosine desc, vec_id
  * asc) re-rank are all pure functions of the data — DuckDB reproduces
  * the identical pipeline in SQL, so `sim_binary_topk` is hash-checked
  * end to end, not just recall-gated.
  */
object BinaryQuant {

  /** Bits per packed word. 32 (not 64) so the per-bit weight `2^j`
    * stays exactly representable on every path both engines use
    * (`pow(2.0, j)` is exact for j ≤ 31; a 64-bit pack would need
    * `1L << 63`, which neither a double round-trip nor DuckDB's
    * BIGINT shift handles without sign traps). Words live in longs;
    * a production sink would reinterpret them as int32 at rest. */
  val WordBits = 32

  /** Fixed re-rank pool per query — the constant that makes re-rank
    * cost independent of corpus size (see recall trade above). The
    * REGISTERED query keeps this pinned (its oracle hashes the exact
    * 128-pool cut); corpus-sized callers should size the pool with
    * [[recommendedPool]]. */
  val DefaultPool = 128

  /** The knob rule as an API: `max(DefaultPool, n/16)` — pool/N =
    * 6.25%, sized to clear the WORST measured point of the recall
    * surface with margin (r19 pool ladder: n=5,000 first reaches the
    * 0.875 saturation plateau at pool 256 ≈ 5%; this rule gives 312
    * there, between the measured 256 → 0.875 and 320 → 0.917 points —
    * never ON a knee. The former 2% rule landed on that corpus at
    * pool 128 → recall 0.750, its own sub-floor counterexample, and
    * even 4% measured only 0.792). Large corpora need less (1% held
    * 0.875 at n=50k), so 6.25% is conservative where it is cheap:
    * re-rank cost is linear in the pool and the probe wall is
    * scan-dominated, so growing the pool with the corpus is near-zero
    * probe cost and shuffle stays O(partitions·|q|·pool). */
  def recommendedPool(corpusRows: Long): Int =
    math.min(math.max(DefaultPool.toLong, corpusRows / 16L),
      Int.MaxValue.toLong).toInt

  /** Bumped whenever packing semantics change — rides in the cache key
    * so a stale bits table can never be served for the same data. */
  private val CodesVersion = 1

  /** Sign-bit packing: word `w` = Σ over j∈[0,32) of
    * `(v[32w+j] > 0) · 2^j`. The sum IS the bitwise-or (distinct
    * powers of two), and every step is a codegen-friendly HOF over
    * built-ins — one shuffle-free scan, no UDF. Word count adapts to
    * the vector length per row (the 512-d stress corpus packs to 16
    * words with the same expression). Null elements and the tail of a
    * non-multiple-of-32 vector contribute 0 bits; a null vector packs
    * to null (skipped downstream by the NaN/null conventions); an
    * EMPTY (non-null) vector packs to the empty array — guarded
    * explicitly (r17 ADVICE) because `sequence(0, words−1)` with
    * words = 0 is the DESCENDING sequence `[0, −1]`, two bogus zero
    * words. The guard tests `size === 0` (not `> 0`) so a null array
    * still falls through to the null-propagating transform branch. */
  def signBits(v: Column): Column = {
    val vd = v.cast("array<double>")
    val words = floor((size(vd) + lit(WordBits - 1)) / lit(WordBits)).cast("int")
    when(size(vd) === 0, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(0), words - 1), w =>
        aggregate(
          zip_with(
            slice(vd, w * WordBits + 1, lit(WordBits)),
            sequence(lit(0), lit(WordBits - 1)),
            (x, j) => when(x > 0.0, pow(lit(2.0), j).cast("long"))
              .otherwise(lit(0L))),
          lit(0L), (acc, b) => acc + b)))
  }

  /** Hamming distance between two packed-bits arrays:
    * Σ `bit_count(a[w] xor b[w])` — the entire prefilter kernel. The
    * interpreted HOF reference form; the serving path runs the fused
    * [[graft.functions.HammingDistance]] kernel (spec-pinned
    * bit-identical, incl. the length-mismatch / null-element → null
    * edges). */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** Write the packed corpus: (vec_id, bits array<long>). The packing
    * scan runs the fused [[graft.functions.SignBitPack]] kernel — the
    * interpreted HOF form ([[signBits]], kept as the spec-pinned
    * reference) cost ~200 µs/row at 512-d, which at the 100× stress made
    * the write-once build the binary family's single visible cost
    * (0.72 → 9.76 s; VERDICT r17 ask #4). */
  def writeBinaryCodes(emb: DataFrame, path: String): Unit =
    emb.select(col("vec_id"),
        graft.functions.VectorFunctions.signBitsPacked(col("embedding"))
          .as("bits"))
      .write.mode("overwrite").parquet(path)

  /** The materialized bits table for `dir`, building it on first use
    * (cache key/build/race discipline = [[MaterializedCache]]'s). */
  private def materializedBits(s: SparkSession, dir: String): DataFrame = {
    val idx = MaterializedCache.artifact(MaterializedCache.Kind.BinCodes,
        dir, "embeddings.parquet", CodesVersion) { tmp =>
      writeBinaryCodes(Tables.embeddings(s, dir), tmp.toString)
    }
    Tables.parquet(s, idx.toString)
  }

  /** Batch binary-quantized top-k: Hamming prefilter over the packed
    * table → fixed pool per query → exact cosine re-rank on raw
    * vectors for pool members only. Emits the Hamming distance
    * alongside the exact score so the binary path is load-bearing in
    * the hash check, not just a pruning hint.
    *
    * Plan shape: bits scan × broadcast 8-query bits frame (the
    * sim_quantized_batch BNLJ shape) → bounded TopKByScore pool →
    * pool-id equi-join back to the embeddings scan (|queries|·pool
    * rows drive the join) → broadcast query vectors → final rank via a
    * row_number window PARTITIONED by query over the ≤ pool-row
    * per-query relation (bounded by construction — never the corpus).
    *
    * The re-rank keeps that window rather than [[Retrieval.batchTopK]]:
    * each output row carries its `hamming` beside the score, and
    * [[graft.functions.TopKByScore]] holds only (score, id). */
  def binaryTopK(s: SparkSession, dir: String,
      queryIds: Seq[Long] = 0L to 7L, k: Int = 3,
      pool: Int = DefaultPool): DataFrame = {
    val pooled = hammingPool(materializedBits(s, dir), queryIds, pool)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
    import org.apache.spark.sql.expressions.Window
    val rnk = org.apache.spark.sql.functions.row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id")))
    pooled.join(emb, "vec_id")
      .join(broadcast(Retrieval.queryFrame(emb, queryIds)), "query_id")
      .select(col("query_id"), col("vec_id"), col("hamming"),
        graft.functions.VectorFunctions
          .cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rnk", rnk.cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("hamming"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Per query id in `queryIds`, the `pool` other rows of `codes`
    * (`vec_id`, packed `bits`) nearest in Hamming distance, ties to the
    * lower id: the packed-bits scan × broadcast query bits feeds
    * [[Retrieval.batchTopK]] with score = −hamming, so the shuffle
    * carries at most partitions·|queries|·pool entries. Rows are
    * (query_id, vec_id, hamming). */
  private def hammingPool(codes: DataFrame, queryIds: Seq[Long],
      pool: Int): DataFrame = {
    // not [[Retrieval.queryFrame]]: all-zero bits are a valid code (every
    // element ≤ 0), so the zero-norm rule does not apply to them
    val q = codes.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("bits").as("qbits"))
    Retrieval.batchTopK(codes.crossJoin(broadcast(q)),
        -graft.functions.VectorFunctions
          .hammingPacked(col("bits"), col("qbits")).cast("double"), pool)
      .select(col("query_id"), col("vec_id"),
        (-col("score")).cast("long").as("hamming"))
  }

  /** Registered query (`sim_binary_topk`): 3 nearest neighbors for
    * each of the 8 query vectors 0..7 through the binary path —
    * fully hash-checked (see determinism contract above). */
  def qBinaryTopK(s: SparkSession, dir: String): DataFrame =
    binaryTopK(s, dir)

  /** Registered query (`sim_binary_topk_scaled`) — the pool KNOB RULE
    * driver-gated end to end (VERDICT r18 ask #2: `sim_binary_topk`
    * pins pool=128, so nothing hash-checked ever ran a scaled pool; a
    * user copying the registered query inherits a constant that decays
    * to 0.708 recall at 50k rows). This query:
    *
    *  1. replicates the embeddings corpus `reps`× with shifted ids
    *     (`vec_id + rep·100000` — identical vectors, so every step
    *     stays a pure function of the data and DuckDB reproduces it),
    *     pushing N past the `DefaultPool·16` knee so
    *     [[recommendedPool]]'s n/16 branch is the one exercised
    *     (sf0.01: 500·16 = 8,000 rows → pool 500, not 128);
    *  2. sizes the pool with [[recommendedPool]](N) — the oracle
    *     recomputes `greatest(128, n//16)` from its own count(*), so
    *     the RULE itself is hashed, not a frozen constant;
    *  3. emits the ENTIRE pool per query (not a top-k cut): a pool-rule
    *     regression changes the row count, failing rows_match before
    *     hashes are even compared. Having no cut, its re-rank uses
    *     neither [[Retrieval]] cut, only its query frame.
    *
    * Determinism: rows are ordered/cut on (hamming asc, vec_id asc) —
    * exact integers end to end; the exact cosine re-rank score rides
    * along rounded to 4dp as payload, never as an ordering key (a
    * full-pool emit is ~50× more rows than top-3, so float-ordered
    * ranks would multiply near-tie exposure; integer ordering keeps
    * the determinism contract of the main query).
    *
    * Scale shape: same as [[binaryTopK]] — packed-bits scan × broadcast
    * query bits, bounded TopKByScore pool (shuffle
    * O(partitions·|q|·pool)), pool-id equi-join back for the re-rank.
    * The replication is a broadcast range cross join (no generator, no
    * InferFiltersFromGenerate exposure). */
  def qBinaryTopKScaled(s: SparkSession, dir: String, reps: Int = 16,
      queryIds: Seq[Long] = 0L to 7L): DataFrame = {
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val repsDf = broadcast(s.range(0, reps.toLong).select(col("id").as("rep")))
    val scaled = emb.crossJoin(repsDf)
      .select((col("vec_id") + col("rep") * lit(100000L)).as("vec_id"),
        col("embedding"))
    // parquet-metadata count × constant — no scan of the scaled frame
    val n = Tables.embeddings(s, dir).count() * reps
    val pool = recommendedPool(n)
    val codes = scaled.select(col("vec_id"),
      VectorFunctions.signBitsPacked(col("embedding")).as("bits"))
    val pooled = hammingPool(codes, queryIds, pool)
    pooled.join(scaled, "vec_id")
      .join(broadcast(Retrieval.queryFrame(scaled, queryIds)), "query_id")
      .select(col("query_id"), col("vec_id"), col("hamming"),
        lit(pool.toLong).as("pool"),
        round(VectorFunctions.cosine(col("embedding"), col("qvec")), 4)
          .as("cos_sim"))
      .orderBy("query_id", "hamming", "vec_id")
  }

  /** Registered gate (`sim_binary_recall`): recall@k of the binary
    * path vs the exact top-k, emitted as the oracle-checkable
    * constant row + `pass = (recall ≥ bound)` — the sim_recall
    * discipline, so a recall regression (repacking bug, pool cut
    * drift) flips `pass` and hash-mismatches every round. Bound 0.6
    * vs measured 0.96 at the sf0.01 gate fixture (0.71 at the 4×
    * sf0.1 corpus — the fixed-bit-budget degradation documented in
    * the object scaladoc).
    *
    * Scale envelope: the gate's cost is the EXACT brute-force side it
    * compares against (that is what a recall oracle is — the
    * dedup_semantic_recall precedent); measured 9.9 s at the 512-d
    * 100× stress corpus vs 1.5 s for the binary path alone. A
    * verification tool, not a serving path. */
  def qBinaryRecall(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 3, bound: Double = 0.6): DataFrame = {
    val qids = 0L until nQueries.toLong
    val approx = binaryTopK(s, dir, qids, k).select("query_id", "vec_id")
    val exact = Similarity.batchTopK(s, dir, qids, k)
      .select("query_id", "vec_id")
    val hits = approx.join(exact, Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / (nQueries.toLong * k)
    import s.implicits._
    Seq((k.toLong, nQueries.toLong, bound, recall >= bound))
      .toDF("k", "n_queries", "bound", "pass")
  }
}
