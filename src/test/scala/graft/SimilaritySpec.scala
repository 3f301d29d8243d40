package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("vector functions: dot / norm / cosine on known vectors") {
    val df = Seq((Array(1f, 0f, 2f), Array(3f, 4f, 0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.l2Norm(col("a")).as("na"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos")).head
    assert(r.getDouble(0) === 3.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(5)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 3.0 / (math.sqrt(5) * 5)) < 1e-12)
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val rng = new scala.util.Random(3)
    val rows = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat),
        Array.fill(64)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("hof")).collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // unequal lengths: common-prefix semantics, no crash
    val short = Seq((Array(1f, 0f), Array(1f, 0f, 9f))).toDF("a", "b")
    assert(short.select(VectorFunctions.cosine(col("a"), col("b")))
      .head.getDouble(0) === 1.0)
    // the expression must run inside whole-stage codegen (checked over a
    // parquet-backed scan — a local relation folds the projection away)
    val plan = Tables.embeddings(spark, sf0001)
      .select(VectorFunctions.cosine(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [cosine_similarity"),
      s"not codegen'd:\n$plan")
  }

  test("brute-force top-k returns the true nearest neighbors") {
    val rows = Similarity.bruteForceTopK(spark, sf0001, queryId = 0, k = 5)
      .collect()
    assert(rows.length === 5)
    val sims = rows.map(_.getAs[Double]("cos_sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(!rows.map(_.getLong(0)).contains(0L))
  }

  test("IVF with nprobe=all centroids matches brute force exactly") {
    val brute = Similarity.bruteForceTopK(spark, sf0001, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfTopK(spark, sf0001, 0, 5,
      numCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf === brute)
  }

  test("IVF plan is shuffle-free: no Exchange anywhere in the physical plan") {
    val plan = Similarity.ivfTopK(spark, sf0001, 0, 5, 8, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"IVF assignment must not shuffle the corpus:\n$plan")
  }

  test("IVF centroid assignment runs fully inside codegen (no interpreted HOFs)") {
    val e = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.fitCentroids(e, numCentroids = 8)
    val assigned = Similarity.assignCentroids(e, centroids)
    val plan = assigned.queryExecution.executedPlan.toString
    // the fused nearest_centroid kernel is a single native expression
    // inside the scan's WholeStageCodegen stage ("*(1)" prefix); the old
    // transform/dot lambdas were CodegenFallback and would break the
    // fusion, and the composed array_position(array_max) form evaluated
    // the k-cosine array once per consumer
    assert(plan.contains("*(1) Project"), s"assignment not codegen'd:\n$plan")
    assert(plan.contains("nearest_centroid"),
      s"assignment should use the fused kernel:\n$plan")
    assert(!plan.toLowerCase.contains("lambda"),
      s"assignment still contains interpreted lambdas:\n$plan")
    // and the assignment itself is unchanged by the de-interpretation:
    // every row lands on its max-dot centroid
    val sample = assigned
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("cid"))
      .limit(64).collect()
    sample.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val dots = centroids.map(c => c.zip(v).map { case (a, b) => a * b }.sum)
      assert(r.getInt(2) === dots.indexOf(dots.max))
    }
  }

  test("fused nearest_centroid matches the composed argmax formulation + edge cases") {
    val rng = new scala.util.Random(11)
    val cs = Array.fill(7)(Array.fill(32)(rng.nextGaussian())).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat))) :+
      (900L, Array.fill(32)(0f)) // zero-norm row
    val df = rows.toDF("vec_id", "embedding")
    val fused = Similarity.assignCentroids(df, cs)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // composed reference: argmax over nanvl'd cosines, first-max position
    val scores = array(cs.toIndexedSeq.map(cv =>
      nanvl(VectorFunctions.cosine(col("embedding"), typedLit(cv.toSeq)),
        lit(-2.0))): _*)
    val composed = df.withColumn("s", scores)
      .withColumn("cid",
        (array_position(col("s"), array_max(col("s"))) - 1).cast("int"))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fused === composed)
    assert(fused(900L) === 0, "zero-norm row must land on centroid 0")
    // ties break to the FIRST max index (array_position contract)
    val tieCs = Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(1.0, 0.0))
    val tie = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.assignCentroids(tie, tieCs).head.getAs[Int]("cid") === 1)
    // null array → null cid
    val withNull = Seq((1L, Array(1f, 2f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val cids = Similarity.assignCentroids(withNull, tieCs)
      .orderBy("vec_id").select("cid").collect()
    assert(!cids(0).isNullAt(0) && cids(1).isNullAt(0))
  }

  test("sim_ivf_probe (registered) builds the index once and probes it") {
    val probed = Similarity.qIvfProbe(spark, sf0001, 0L, 5,
      numCentroids = 8, nprobe = 4)
    // same answer as the in-memory IVF path with identical parameters
    assert(probed.collect().map(_.toSeq).toSeq ===
      Similarity.ivfTopK(spark, sf0001, 0, 5, numCentroids = 8, nprobe = 4)
        .collect().map(_.toSeq).toSeq)
    // second call must hit the cached index (write-once/probe-many) and
    // its read must be partition-pruned
    val again = Similarity.qIvfProbe(spark, sf0001, 0L, 5,
      numCentroids = 8, nprobe = 4)
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"probe does not prune partitions:\n$plan")
  }

  test("materialized IVF index: partition-pruned probe equals in-memory IVF") {
    val e = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.fitCentroids(e, numCentroids = 8)
    val idx = TmpDirs.scratch("graft_ivf")
      .resolve("idx").toString
    Similarity.writeIvfIndex(e, centroids, idx)
    val qvec = Similarity.queryVector(e, 0L)
    val probed = Similarity.probeIvfIndex(spark, idx, centroids, qvec,
      excludeVecId = 0L, k = 5, nprobe = 4)
    // the probe must be PARTITION pruning (directory-level), not a scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"probe does not prune partitions:\n$plan")
    assert(probed.collect().map(_.toSeq).toSeq ===
      Similarity.ivfTopK(spark, sf0001, 0, 5, numCentroids = 8, nprobe = 4)
        .collect().map(_.toSeq).toSeq)
  }

  test("batch index probe equals per-query probes, from one pruned read") {
    val e = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.fitCentroids(e, numCentroids = 8)
    val idx = TmpDirs.scratch("graft_ivf_b")
      .resolve("idx").toString
    Similarity.writeIvfIndex(e, centroids, idx)
    val qids = Seq(0L, 1L, 2L)
    val queries = qids.map(q => q -> Similarity.queryVector(e, q))
    val batch = Similarity.batchProbeIvfIndex(spark, idx, centroids, queries,
      k = 5, nprobe = 4)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"batch probe does not prune partitions:\n$plan")
    assert(!plan.contains("Window"))
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    for ((qid, qvec) <- queries) {
      val single = Similarity.probeIvfIndex(spark, idx, centroids, qvec,
        excludeVecId = qid, k = 5, nprobe = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
      assert(got.filter(_._1 == qid).toSeq === single.toSeq,
        s"batch != single for query $qid")
    }
  }

  test("incremental append: build(part1)+append(part2) probes ≡ full rebuild") {
    val e = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.fitCentroids(e, numCentroids = 8)
    val splitId = 40L
    val part1 = e.filter(org.apache.spark.sql.functions.col("vec_id") < splitId)
    val part2 = e.filter(org.apache.spark.sql.functions.col("vec_id") >= splitId)
    assert(part1.count() > 0 && part2.count() > 0, "split must be non-trivial")
    val base = TmpDirs.scratch("graft_ivf_app")
    val incr = base.resolve("incr").toString
    val full = base.resolve("full").toString
    Similarity.writeIvfIndex(part1, centroids, incr)
    Similarity.appendToIvfIndex(spark, incr, part2)
    Similarity.writeIvfIndex(e, centroids, full)
    // the appended index holds the whole corpus, assigned identically
    assert(spark.read.parquet(incr).count() === e.count())
    for (qid <- Seq(0L, 1L, 2L)) {
      val qvec = Similarity.queryVector(e, qid)
      val a = Similarity.probeIvfIndex(spark, incr, centroids, qvec,
        excludeVecId = qid, k = 5, nprobe = 4).collect().map(_.toSeq).toSeq
      val b = Similarity.probeIvfIndex(spark, full, centroids, qvec,
        excludeVecId = qid, k = 5, nprobe = 4).collect().map(_.toSeq).toSeq
      assert(a === b, s"append-then-probe != rebuild-then-probe for query $qid")
    }
  }

  test("IVF with partial probing achieves reasonable recall") {
    val brute = Similarity.bruteForceTopK(spark, sf0001, 0, 5)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, sf0001, 0, 5,
      numCentroids = 8, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(brute).size >= 2,
      s"recall too low: got $ivf vs $brute")
  }

  test("sim_recall (registered): recall@k vs exact top-k in-engine, clears its bound") {
    val recall = Similarity.recallAtK(spark, sf0001)
    assert(recall >= 0.0 && recall <= 1.0)
    val rows = Similarity.qRecall(spark, sf0001).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getLong(0) === 3L && r.getLong(1) === 8L)
    assert(r.getBoolean(3),
      s"IVF probe recall $recall fell below the registered bound ${r.getDouble(2)}")
  }

  test("distributed Lloyd refinement improves the spherical objective and is deterministic") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val e = Tables.embeddings(spark, sf0001)
    val init = Similarity.fitCentroids(e, numCentroids = 8)

    // Mean assigned-cosine over the corpus: higher = tighter clusters.
    def objective(cs: Array[Array[Double]]): Double =
      Similarity.assignCentroids(e, cs)
        .select(org.apache.spark.sql.functions.array_max(
          org.apache.spark.sql.functions.array(cs.toIndexedSeq.map(cv =>
            org.apache.spark.sql.functions.nanvl(
              graft.functions.VectorFunctions.cosine(
                col("embedding"),
                org.apache.spark.sql.functions.typedLit(cv.toSeq)),
              org.apache.spark.sql.functions.lit(-2.0))): _*)).as("best"))
        .agg(fsum("best")).head().getDouble(0)

    val refined = Similarity.refineCentroids(e, init, iters = 2)
    assert(refined.length === init.length)
    assert(refined.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9),
      "refined centroids must be unit-normalized")
    val objInit = objective(init)
    val objRefined = objective(refined)
    assert(objRefined >= objInit - 1e-9,
      s"refinement worsened the objective: $objInit -> $objRefined")
    // Deterministic given the same init.
    val again = Similarity.refineCentroids(e, init, iters = 2)
    assert(refined.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("hybrid retrieval: both-leg docs sum both RRF terms and outrank single-leg docs") {
    // doc 1 is BOTH the lexical top (only doc with the query terms) and
    // the semantic top (embedding equal to the query's); docs 2/3 are
    // semantic-only, doc 4 lexical-only (one weaker term hit), doc 5
    // neither. vec_id 0 is the query vector and is excluded from its
    // own semantic leg.
    val docs = Seq(
      (1L, "hash join hash join filler words here"),
      (2L, "nothing relevant lexically at all here one"),
      (3L, "nothing relevant lexically at all here two"),
      (4L, "join appears once in this document only"),
      (5L, "entirely unrelated content throughout")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f)),
      (2L, Array(0.9f, 0.3f, 0f)),
      (3L, Array(0.7f, 0.6f, 0f)),
      (4L, Array(0f, 0.2f, 1f)),
      (5L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.hybridRetrievalFrames(
      docs, emb, Seq("hash", "join"), queryId = 0L, legK = 3, topK = 5)
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      r.getDouble(3)))
    val byDoc = rows.map(r => r._1 -> r).toMap
    // doc 1: rank 1 in both legs → 2/(60+1) ≈ 0.0328
    assert(byDoc(1L)._2 === Some(1L) && byDoc(1L)._3 === Some(1L))
    assert(byDoc(1L)._4 === BigDecimal(2.0 / 61)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // fusion arithmetic holds for EVERY emitted row (missing leg = 0)
    rows.foreach { case (id, lr, sr, s) =>
      val expect = lr.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sr.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(s === BigDecimal(expect)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"doc $id")
    }
    // both-leg doc outranks every single-leg doc; output is rrf-desc
    assert(rows.head._1 === 1L)
    assert(rows.map(_._4).toSeq === rows.map(_._4).sortBy(-_).toSeq)
    // doc 5 is in neither leg (opposite vector, no query terms)
    assert(!byDoc.contains(5L))
    // legK = 3 caps the semantic leg: doc 4 is lexical-only
    assert(byDoc(4L)._2.nonEmpty && byDoc(4L)._3.isEmpty)
  }

  test("MMR: λ=1 is pure relevance order; λ=0.5 breaks up a redundant cluster") {
    // query = (1,0,0); ids 1-3 a near-identical high-relevance clump,
    // id 4 distinct and slightly less relevant, id 5 orthogonal
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.99f, 0.10f, 0f)),
      (2L, Array(0.99f, 0.11f, 0f)),
      (3L, Array(0.99f, 0.12f, 0f)),
      (4L, Array(0.80f, -0.60f, 0f)),
      (5L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val plain = Similarity.mmrTopK(emb, 0L, lambda = 1.0, poolK = 5, k = 3)
    assert(plain.map(_._2) === Seq(1L, 2L, 3L),
      "λ=1 must be relevance order with id tie-break")
    assert(plain.head._4 === 0.0, "first pick has no redundancy term")
    val diverse = Similarity.mmrTopK(emb, 0L, lambda = 0.5, poolK = 5, k = 3)
    // first pick is still the relevance top-1; the clump mates are then
    // penalized (sim ≈ 1 to the pick) and the distinct vector wins
    assert(diverse.head._2 === 1L)
    assert(diverse.map(_._2).contains(4L),
      s"diversification failed to surface the distinct vector: $diverse")
    assert(diverse.map(_._2).toSet !== plain.map(_._2).toSet)
    // redundancy column reports the sim-to-selected at pick time: the
    // second pick (the distinct-but-correlated id 4) carries a positive
    // term; the orthogonal id 5, if picked later, legitimately reads 0
    assert(diverse(1)._4 > 0.0)
    // determinism
    assert(diverse === Similarity.mmrTopK(emb, 0L, 0.5, poolK = 5, k = 3))
  }

  test("qMmr audit collect is bounded by the pick ids, not the corpus") {
    // corpus far larger than any pick/pool set: 500 vectors. The audit
    // helper must materialize EXACTLY the requested ids on the driver —
    // the r13 verdict's one corpus-unbounded collect, now pinned.
    val n = 500
    val emb = (0L until n.toLong).map { i =>
      (i, Array((1.0 + i % 7).toFloat, (i % 11).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val ids = Seq(3L, 9L, 42L, 9L, 77L) // dup on purpose
    val vecs = Similarity.collectVecsById(emb, ids)
    assert(vecs.keySet === ids.distinct.toSet,
      "collect must return exactly the requested ids")
    assert(vecs.size <= ids.size && vecs.size < n / 10,
      s"audit collect pulled ${vecs.size} rows — corpus-sized, not id-bounded")
    // and the scan plan itself filters before collecting: the executed
    // plan must contain an IN/OR filter on vec_id (no full-table collect)
    val plan = emb.filter(col("vec_id").isInCollection(ids.distinct))
      .queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("vec_id"),
      s"expected a vec_id filter in the optimized plan:\n$plan")
  }
}
