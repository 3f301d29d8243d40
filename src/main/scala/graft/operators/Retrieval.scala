package graft.operators

import graft.functions.TopKByScore
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exact retrieval core: every vector top-k in `graft.operators`
  * looks its query up here and cuts its candidates here. A search is a
  * candidate source (a full scan, IVF buckets, an int8 code table, a
  * Hamming pool) followed by one of two cuts:
  *   - [[topK]], one query: the query vector rides as a literal and the
  *     cut is `orderBy(score desc, vec_id).limit(k)`, which plans as
  *     TakeOrderedAndProject (per-partition heaps, no Exchange). A single
  *     query is not run as a batch of one: the grouped cut would add a
  *     hash-aggregate Exchange and a stage to every single-query search.
  *   - [[batchTopK]], many queries: the bounded [[TopKByScore]]
  *     aggregate per query (map-side partials hold ≤ k entries, never a
  *     Window sort over the corpus).
  *
  * Both cuts break ties on `vec_id` ascending, so a single-query answer
  * equals that query's rows of a batch answer, and neither ranks the
  * query itself. Cosine against a zero-norm vector is NaN (0/0): a
  * zero-norm query is an error in both lookups, and a NaN (or null)
  * scored candidate is dropped by both cuts — Spark sorts NaN above
  * every double, so left in it would take the first slot.
  *
  * A bound prune (a sound cosine upper bound such as
  * [[graft.functions.SketchCosUpperBound]] against the k-th score) or an
  * adaptive `nprobe` would narrow the candidates here, before the exact
  * score, once for every candidate source.
  */
object Retrieval {

  /** Driver-side query vectors for `queryIds`, in that order, read from
    * column `vec` (array<float|double>) of `corpus` in one scan. Null
    * elements read as 0, as the cosine kernel scores them. Fails on a
    * missing id and on a zero-norm query. */
  def queryVectors(corpus: DataFrame, queryIds: Seq[Long],
      vec: String = "embedding"): Seq[(Long, Array[Double])] = {
    val found = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id"), col(vec).cast("array<double>"))
      .collect()
      .map { r =>
        val v = if (r.isNullAt(1)) Array.empty[Double]
          else r.getSeq[Any](1).map { case null => 0.0; case x: Double => x }.toArray
        r.getLong(0) -> v
      }.toMap
    queryIds.map { id =>
      require(found.contains(id),
        s"vector search: query vec_id=$id not found in the corpus")
      require(found(id).exists(_ != 0.0),
        s"vector search: query vec_id=$id has zero norm — cosine undefined")
      id -> found(id)
    }
  }

  /** [[queryVectors]] for one query. */
  def queryVector(corpus: DataFrame, queryId: Long,
      vec: String = "embedding"): Array[Double] =
    queryVectors(corpus, Seq(queryId), vec).head._2

  /** Lazy batch query frame `(query_id, qvec)` for `queryIds`, read from
    * column `vec` of `corpus`. The zero-norm rule is an in-plan
    * `assert_true` on this |queryIds|-row side (null arrays and null
    * elements count as zeros): it fires when the frame runs, not at call
    * time, because an eager check would cost the batch path one more
    * job per call. A missing id yields no query row. */
  def queryFrame(corpus: DataFrame, queryIds: Seq[Long],
      vec: String = "embedding"): DataFrame = {
    val zeroNorm = col("qvec").isNull ||
      forall(col("qvec"), x => coalesce(x.cast("double"), lit(0d)) === 0d)
    corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col(vec).as("qvec"))
      .filter(assert_true(!zeroNorm,
        concat(lit("vector search: query vec_id="),
          col("query_id").cast("string"),
          lit(" has zero norm — cosine undefined"))).isNull)
  }

  /** Single-query cut: the `k` rows of `candidates`, other than
    * `queryId`, whose column `vec` has the highest cosine to `qvec`;
    * `candidates`' columns plus the raw `score`, best first. */
  def topK(candidates: DataFrame, queryId: Long, qvec: Array[Double],
      k: Int, vec: String = "embedding"): DataFrame =
    candidates.filter(col("vec_id") =!= queryId)
      .withColumn("score", cosine(col(vec), typedLit(qvec.toSeq)))
      // NaN keyed as null sorts last and the filter over the ≤ k cut rows
      // drops it; a filter before the cut would be pushed below the
      // projection and score every candidate twice.
      .orderBy(nanvl(col("score"), lit(null)).desc, col("vec_id"))
      .limit(k)
      .filter(!isnan(col("score")))

  /** Batch cut: per `query_id` of `pairs`, the `k` candidates other than
    * the query itself with the highest `score` (NaN and null skipped by
    * [[TopKByScore]]), as `(query_id, rnk, vec_id, score)`. */
  def batchTopK(pairs: DataFrame, score: Column, k: Int): DataFrame =
    pairs.filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), score.as("score"))
      .groupBy("query_id")
      .agg(TopKByScore(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rnk"),
        col("t.id").as("vec_id"), col("t.score").as("score"))

  /** A cut's `score` as the registered `cos_sim` column: 4 dp, the
    * precision every cosine oracle hashes. */
  def cosSim: Column = round(col("score"), 4).as("cos_sim")
}
