package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-storage operators for the training pipeline: symmetric
  * per-vector int8 quantization.
  *
  * At 100 TB an `array<float>` embedding column is usually the widest
  * thing in the table; quantizing to int8 with one float scale per
  * vector cuts it ~4× with a bounded reconstruction error of scale/2 =
  * max|x|/254 per element — the standard storage form for ANN corpora.
  * Everything here is codegen'd built-ins (`transform` / `aggregate` /
  * `zip_with`) over one shuffle-free scan: per-row work, embarrassingly
  * parallel, no UDF.
  */
object Embeddings {

  /** Per-vector symmetric int8 quantization audit: the scale
    * (max|x|/127), the sum of quantized values (an integer content
    * fingerprint of the quantized vector), and the max reconstruction
    * error — which the spec pins at ≤ scale/2, the guarantee downstream
    * similarity search relies on. All math in double so the DuckDB
    * oracle matches bit-for-bit at 4-decimal rounding. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    emb
      .select(col("vec_id"), v.as("v"), (maxAbs / 127.0).as("scale"))
      .select(col("vec_id"), col("v"), col("scale"),
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => round(x / col("scale")).cast("int"))).as("qv"))
      .select(col("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(
          zip_with(col("v"), col("qv"), (x, q) => abs(x - q * col("scale"))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("err"))
      // Round in a SEPARATE projection: `round(scale, 4).as("scale")`
      // in the same select list would lateral-alias-shadow the raw
      // `scale` the error expression needs.
      .select(col("vec_id"), round(col("scale"), 4).as("scale"),
        col("q_sum"), round(col("err"), 4).as("max_abs_err"))
      .orderBy("vec_id")
  }

  /** Int8 code vectors: `round(x / scale)` per element, kept as
    * array<double> of integral values (the form the cosine kernel and
    * the DuckDB oracle both consume directly). The search path uses the
    * fused native kernel; the HOF formulation below is retained as the
    * reference the spec pins it against (bit-identical, incl. the
    * zero-scale branch and null elements). */
  private def codeVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.VectorFunctions.int8Codes(col("embedding")).as("qv"))

  /** The three-pass higher-order-function formulation (CodegenFallback —
    * interpreted element-at-a-time; at 512-d this was the whole cost of
    * the quantized corpus scan). Spec-reference only. */
  private[graft] def codeVectorsHof(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    emb
      .select(col("vec_id"), v.as("v"), (maxAbs / 127.0).as("scale"))
      .select(col("vec_id"),
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0.0)))
          .otherwise(transform(col("v"), x => round(x / col("scale"))))
          .as("qv"))
  }

  /** Top-k cosine search over the QUANTIZED corpus — the int8 serving
    * path. The load-bearing identity: cosine of the dequantized vectors
    * equals cosine of the raw integer codes, because the per-vector
    * scales are scalars and cancel —
    *   cos(s_a·q_a, s_b·q_b) = cos(q_a, q_b).
    * So the search runs directly on the codes with the same fused
    * [[graft.functions.CosineSimilarity]] kernel as q15: no
    * dequantization pass, no float reconstruction anywhere in the hot
    * loop, 4× less data scanned at 100 TB. Exact over the quantized
    * representation (deterministic → oracle-checked); recall vs the
    * full-precision top-k is pinned by EmbeddingsSpec. */
  def quantizedTopK(emb: DataFrame, queryId: Long = 0L,
      k: Int = 5): DataFrame =
    topKOverCodes(codeVectors(emb), queryId, k)

  /** Search tail shared by the in-memory ([[quantizedTopK]]) and
    * materialized ([[qQuantizedProbe]]) code paths. `qv` may be
    * array<double> (fresh codes) or array<float> (read back from the
    * int8 table) — codes are integers in [−127, 127], exactly
    * representable in both, and the cosine kernel widens to double, so
    * the two paths are bit-identical (EmbeddingsSpec pins it). */
  private def topKOverCodes(codes: DataFrame, queryId: Long,
      k: Int): DataFrame = {
    val qrows = codes.filter(col("vec_id") === queryId).head(1)
    require(qrows.nonEmpty,
      s"quantized search: query vec_id=$queryId not found in the corpus")
    val qcodes: Seq[Double] = qrows(0).getSeq[Any](1).map {
      case null => 0.0 // the kernel also scores null elements as 0
      case n: Number => n.doubleValue
    }
    // An all-zero query quantizes to all-zero codes, whose cosine against
    // everything is NaN — NaN sorts ABOVE every real double in Spark, so
    // the "top-k" would be silently garbage rather than failing.
    require(qcodes.exists(_ != 0.0),
      s"quantized search: query vec_id=$queryId has zero norm — cosine undefined")
    codes.filter(col("vec_id") =!= queryId)
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("qv"), typedLit(qcodes)))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  // --- materialized codes: the write-once/probe-many int8 path ----------

  /** Bumped whenever quantization semantics change — rides in the cache
    * key so a stale codes table can never be served for the same data. */
  private val CodesVersion = 1

  /** Write the quantized corpus as a real int8 table: (vec_id,
    * array<tinyint>). This is where the 4× storage claim becomes true AT
    * REST (the in-memory `array<double>` code form is a compute format);
    * the cast is exact because every code is an integer in [−127, 127].
    * One quantization scan per ingest, amortized over every probe —
    * without this, each quantized query re-quantizes the full corpus
    * (measured 13 s of the 512-d stress wall, PERF_NOTES r13). */
  def writeQuantizedCodes(emb: DataFrame, path: String): Unit =
    codeVectors(emb)
      .select(col("vec_id"), col("qv").cast("array<tinyint>").as("qv"))
      .write.mode("overwrite").parquet(path)

  /** Read the int8 table back in kernel form (array<float> — ~half the
    * scan width of double, still exact for integer codes ≤ 127). */
  def readQuantizedCodes(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .select(col("vec_id"), col("qv").cast("array<float>").as("qv"))

  /** The materialized codes table for `dir`, building it on first use
    * (cache key/build/race discipline = [[MaterializedCache]]'s, the
    * IVF index pattern). */
  private def materializedCodes(s: SparkSession, dir: String): DataFrame = {
    val idx = MaterializedCache.artifact(MaterializedCache.Kind.Int8Codes,
        dir, "embeddings.parquet", CodesVersion) { tmp =>
      writeQuantizedCodes(Tables.embeddings(s, dir), tmp.toString)
    }
    readQuantizedCodes(s, idx.toString)
  }

  /** Registered write-once/probe-many query (`sim_quantized_probe`):
    * same answer as `sim_quantized_topk` (one shared oracle), but the
    * timed path reads the MATERIALIZED int8 table instead of
    * re-quantizing the corpus per call — the serving shape at 100 TB.
    * Cache key/build/race discipline is [[MaterializedCache]]'s (the
    * IVF index pattern). */
  def qQuantizedProbe(s: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 5): DataFrame =
    topKOverCodes(materializedCodes(s, dir), queryId, k)

  /** Batch top-k over the materialized int8 codes — M queries answered
    * from ONE scan of the 4×-smaller table, the actual ANN-serving
    * batch shape ([[graft.operators.Similarity.batchTopK]]'s plan on
    * the quantized representation): query codes ride a broadcast, the
    * per-query top-k is the bounded TopKByScore aggregate (map-side
    * partials ≤ k per query, never a Window sort over the corpus).
    *
    * LAZY VALIDATION CONTRACT (r16 ADVICE): the zero-norm query guard
    * is an in-plan `assert_true` on the |queryIds|-row build side — it
    * fires when the returned frame is EXECUTED, not at call time.
    * Callers that build but never run the frame skip the check; every
    * registered path executes (Verify/Bench collect or write). In-plan
    * beats eager here because the eager form ran an extra driver job
    * per call on the hot serving path (r15 ADVICE #4). */
  def quantizedBatchTopK(codes: DataFrame, queryIds: Seq[Long],
      k: Int = 3): DataFrame = {
    // Same guard as [[topKOverCodes]] (r14 ADVICE): an all-zero query's
    // cosine is NaN, which TopKByScore silently skips (zero rows for
    // that query) while the DuckDB oracle's ORDER BY cos DESC sorts NaN
    // FIRST — a silent cross-engine divergence instead of a loud error.
    // Folded INTO the scan (r15 ADVICE #4 — the previous
    // localCheckpoint+collect validation ran an extra eager job on every
    // call of the hot batch-serving path, and its `case n: Number` match
    // threw an opaque MatchError on null elements): assert_true
    // evaluates on the |queryIds|-row broadcast build side, null
    // elements and null arrays count as zeros (the kernel scores them
    // as 0), and the failure message still names the vec_id.
    val zeroNorm = col("qcodes").isNull ||
      forall(col("qcodes"), x => coalesce(x.cast("double"), lit(0d)) === 0d)
    val q = codes.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("qv").as("qcodes"))
      .filter(assert_true(!zeroNorm,
        concat(lit("quantized batch search: query vec_id="),
          col("query_id").cast("string"),
          lit(" has zero norm — cosine undefined"))).isNull)
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions
          .cosine(col("qv"), col("qcodes")).as("cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rnk"),
        col("t.id").as("vec_id"), round(col("t.score"), 4).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Registered query (`sim_quantized_batch`): 3 nearest quantized
    * neighbors for each of the 8 query vectors 0..7, one scan of the
    * materialized codes table. */
  def qQuantizedBatch(s: SparkSession, dir: String): DataFrame =
    quantizedBatchTopK(materializedCodes(s, dir), 0L to 7L)

  /** Per-group mean-pooled embedding centroids + cohesion — the
    * domain-profile aggregation every corpus-balancing / semantic-audit
    * pipeline runs: one centroid per `source`, and the average cosine
    * of the group's vectors to their own centroid (1.0 = the group is
    * a point; lower = semantically spread).
    *
    * Cross-engine exactness discipline (floats are the enemy here —
    * a double SUM's value depends on accumulation order, which no
    * distributed engine pins): vectors are integerized ONCE
    * (round(x·10⁶) per element — deterministic in both engines since
    * float→double widening is exact), so the per-dimension centroid
    * sums are INTEGER aggregations with no order sensitivity; cosine
    * is scale-invariant, so each row's cosine-to-centroid uses the raw
    * integer SUM vector (no division, no float centroid); the per-row
    * cosine doubles are rounded to 4dp and integerized again before
    * the final average, making that sum exact too. The only doubles
    * that cross an engine boundary are single-row, fixed-order
    * dimension loops — the same contract the q15 cosine oracle pins.
    *
    * Scale shape: one (source, dim) integer-sum shuffle (64 longs per
    * source survive), centroid table joined back BROADCAST (one row
    * per source), per-row cosine in a HOF — no corpus-sized second
    * shuffle beyond the final per-source rollup. */
  def sourceCentroids(emb: DataFrame, docs: DataFrame): DataFrame = {
    val vi = transform(col("embedding").cast("array<double>"),
      x => round(x * 1000000.0).cast("long"))
    val e = emb.join(docs.select(col("doc_id").as("vec_id"), col("source")),
        "vec_id")
      .select(col("source"), col("vec_id"), vi.as("vi"))
    val sums = e
      .select(col("source"), posexplode(col("vi")).as(Seq("dim", "v")))
      .groupBy("source", "dim").agg(sum("v").as("sv"))
      .groupBy("source")
      .agg(array_sort(collect_list(struct(col("dim"), col("sv"))))
        .as("ds"))
      .select(col("source"),
        transform(col("ds"), d => d.getField("sv")).as("cent"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    e.join(broadcast(sums), "source")
      .withColumn("cos",
        dot(col("vi"), col("cent")) /
          (sqrt(dot(col("vi"), col("vi"))) *
            sqrt(dot(col("cent"), col("cent")))))
      // identical expression shape in BOTH engines (round to 4dp first,
      // THEN scale by 10⁴ — the q15 discipline): round(cos*10000) vs
      // round(10000*cos) associate differently and can differ by an ulp
      // at a half-up boundary
      .withColumn("cos4i", round(round(col("cos"), 4) * 10000.0).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vecs"),
        sum("cos4i").as("si"),
        first(col("cent")).as("cent"))
      .select(col("source"), col("n_vecs"),
        round(
          sqrt(aggregate(col("cent"),
            lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))) /
            (col("n_vecs") * 1000000.0), 4).as("centroid_norm"),
        round(col("si") / (col("n_vecs") * 10000.0), 4).as("cohesion"))
      .orderBy("source")
  }

  // --- random projection (Johnson–Lindenstrauss) ------------------------

  /** Output dimensionality of the registered projection queries. */
  val DefaultProjDims = 16

  /** Deterministic ±1 sign for projection cell (i, j), via the
    * middle-square method on a linear seed: `h = (i·7919 + j·104729 +
    * 12345) mod 2²¹`, sign bit = bit 8 of h² xor bit 27 of h². The
    * mod bounds h² under 2⁶³ on BOTH engines (DuckDB BIGINT raises on
    * overflow rather than wrapping); the SQUARING is the load-bearing
    * nonlinearity — a single bit of `(i·p₁) xor (j·p₂)` is
    * GF(2)-linear in its inputs, which makes every projection column
    * identical up to global sign (rank-1 matrix, measured offdiag
    * column correlation 1.0 — the bug this replaced). Measured matrix
    * quality at (64×16) and (512×16): max |column mean| and max
    * off-diagonal column correlation both at the ~1/√d random-matrix
    * level. Pure integer arithmetic both engines reproduce exactly —
    * no engine-specific hash crosses the oracle boundary. */
  private def projSign(i: Column, j: Column): Column = {
    val h = (i.cast("long") * lit(7919L) + j.cast("long") * lit(104729L) +
      lit(12345L)) % lit(2097152L)
    val g = h * h
    lit(1L) - lit(2L) * shiftright(g, 8).bitwiseAND(lit(1L))
      .bitwiseXOR(shiftright(g, 27).bitwiseAND(lit(1L)))
  }

  /** `p`-dim dense ±1 random projection of an INTEGERIZED vector
    * (`round(x·10⁶)` longs — the [[sourceCentroids]] discipline):
    * `y_j = Σ_i vi[i] · sign(i, j)`, exact integer math end to end, so
    * the projected vectors are hash-checkable with no float rounding
    * anywhere.
    *
    * HOF REFERENCE FORM — the serving path runs the fused
    * [[graft.functions.JlProject]] kernel (spec-pinned bit-identical):
    * interpreted per-cell `aggregate(zip_with)` with the integerizing
    * transform inlined by CollapseProject made this the dominant cost
    * of any plan that evaluates it more than once per row.
    *
    * Guards (r17 ADVICE, hoisted to ROW level — a per-cell guard put a
    * full copy of the integerized transform inside every j-lambda):
    * null vector → null; EMPTY vector → the zero vector (unguarded,
    * `sequence(0, size−1)` with size = 0 is the DESCENDING [0, −1],
    * which zip_with null-pads into null sums); a null ELEMENT nulls
    * every cell (each cell sums all elements). */
  private[graft] def projExprHof(vi: Column, pDims: Int): Column =
    when(vi.isNull, lit(null).cast("array<bigint>"))
      .when(size(vi) === 0,
        transform(sequence(lit(0), lit(pDims - 1)), _ => lit(0L)))
      .otherwise(transform(sequence(lit(0), lit(pDims - 1)), j =>
        aggregate(
          zip_with(vi, sequence(lit(0), size(vi) - 1),
            (x, i) => x * projSign(i, j)),
          lit(0L), (acc, x) => acc + x)))

  /** The HOF reference pipeline over a RAW embedding column
    * (integerize → project), the exact composition the fused kernel
    * replaces — spec-pinned equal. */
  private[graft] def projectHof(emb: Column, pDims: Int): Column =
    projExprHof(transform(emb.cast("array<double>"),
      x => round(x * 1000000.0).cast("long")), pDims)

  /** Integerized copy of the embedding column (exact: float→double
    * widening is lossless and round() ties are engine-stable at the
    * 10⁶ scale the fixtures use). */
  private def integerized: Column =
    transform(col("embedding").cast("array<double>"),
      x => round(x * 1000000.0).cast("long"))

  /** Dimensionality reduction via random projection — the standard
    * pre-clustering / pre-ANN shrink at 100 TB (project 512-d floats
    * to 16 integer dims BEFORE the expensive pairwise stage; the JL
    * lemma bounds the pairwise-distance distortion). One shuffle-free
    * corpus scan through the fused [[graft.functions.JlProject]] kernel
    * (round 18 — the HOF reference form above is interpreted and
    * dominated any plan that evaluated it twice), no UDF and no
    * driver-side matrix: the projection matrix is the [[projSign]]
    * hash, materialized nowhere.
    *
    * This array form is the library API; the REGISTERED query
    * ([[qProject]]) explodes it to atomic `(vec_id, dim, value)` rows —
    * the driver's oracle gate canonicalizes result frames in pandas,
    * which cannot sort/hash a nested array column (round 17's one red
    * row), so registered outputs carry atomic columns only
    * (PlanInvariantSpec pins that registry-wide). */
  def projectVectors(emb: DataFrame, pDims: Int = DefaultProjDims): DataFrame =
    emb.select(col("vec_id"),
        graft.functions.VectorFunctions.jlProject(col("embedding"), pDims)
          .as("proj"))
      .orderBy("vec_id")

  /** Pairwise distance-distortion audit of [[projectVectors]] over the
    * 8 query vectors (28 pairs): original and projected squared L2
    * distances (exact longs) and the JL ratio
    * `sqrt(d²_proj / p) / sqrt(d²_orig)` (≈1 when the projection
    * preserves geometry; spread ~sqrt(2/p) at p=16 — the documented
    * small-p trade). Registered query (`emb_project_distortion`) —
    * fully hash-checked: integer distances are exact in both engines
    * and the final ratio is the single-scalar sqrt/divide/round-4dp
    * shape every cosine oracle already pins. */
  def projectionDistortion(emb: DataFrame, pDims: Int = DefaultProjDims,
      nQueries: Int = 8): DataFrame = {
    val base = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), integerized.as("vi"),
        graft.functions.VectorFunctions.jlProject(col("embedding"), pDims)
          .as("p"))
    val a = base.select(col("vec_id").as("vec_a"), col("vi").as("via"),
      col("p").as("pa"))
    val b = base.select(col("vec_id").as("vec_b"), col("vi").as("vib"),
      col("p").as("pb"))
    val d2 = (x: Column, y: Column) =>
      aggregate(zip_with(x, y, (u, v) => (u - v) * (u - v)),
        lit(0L), (acc, s) => acc + s)
    // 8-row × 8-row broadcast pair join (BNLJ by design — bounded by
    // nQueries², never corpus-sized; PlanInvariantSpec allowlists it).
    a.crossJoin(broadcast(b)).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        d2(col("via"), col("vib")).as("d2_orig"),
        d2(col("pa"), col("pb")).as("d2_proj"))
      .select(col("vec_a"), col("vec_b"), col("d2_orig"), col("d2_proj"),
        round(sqrt(col("d2_proj") / lit(pDims.toDouble)) /
          sqrt(col("d2_orig")), 4).as("ratio"))
      .orderBy("vec_a", "vec_b")
  }

  // --- SparkEntry-facing wrappers ---------------------------------------

  def qQuantize(s: SparkSession, dir: String): DataFrame =
    quantizeInt8(Tables.embeddings(s, dir))

  /** Registered query (`emb_source_centroids`). */
  def qSourceCentroids(s: SparkSession, dir: String): DataFrame =
    sourceCentroids(Tables.embeddings(s, dir), Tables.documents(s, dir))

  def qQuantizedTopK(s: SparkSession, dir: String): DataFrame =
    quantizedTopK(Tables.embeddings(s, dir))

  /** Registered query (`emb_project`): the projection exploded to the
    * driver-hashable long form — one `(vec_id, dim, value)` row per
    * projection cell, every column an atomic long (see the
    * [[projectVectors]] scaladoc for why the array form cannot be the
    * registered output).
    *
    * Plan-shape traps this works around (the first cut cost 100× —
    * caught by the r18 bench before it shipped):
    *  - posexplode_OUTER, not posexplode: a non-outer Generate triggers
    *    `InferFiltersFromGenerate`, which duplicates the ENTIRE
    *    interpreted 16-cell projection expression into a
    *    `size(proj) > 0` Filter below the sorts — the projection then
    *    evaluates 2× per pass and once more per range-sort sampling
    *    pass. projExpr always yields exactly pDims cells, so outer
    *    changes no rows.
    *  - ONE sort, at the end: composing over [[projectVectors]] stacked
    *    its internal orderBy under this one — two range exchanges, two
    *    sampling passes over the projection subtree. */
  def qProject(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.functions.VectorFunctions
          .jlProject(col("embedding"), DefaultProjDims).as("proj"))
      .select(col("vec_id"), posexplode_outer(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("value"))
      .orderBy("vec_id", "dim")

  /** Registered query (`emb_project_distortion`). */
  def qProjectDistortion(s: SparkSession, dir: String): DataFrame =
    projectionDistortion(Tables.embeddings(s, dir))
}
