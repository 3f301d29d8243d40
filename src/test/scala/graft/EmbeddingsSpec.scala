package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Embeddings

class EmbeddingsSpec extends AnyFunSuite with SparkFixture {

  test("int8 quantization: error bounded by scale/2, codes within [-127,127]") {
    val emb = Tables.embeddings(spark, sf0001)
    val audit = Embeddings.quantizeInt8(emb).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_abs_err")
      // Symmetric rounding quantization guarantees |x - q·scale| ≤ scale/2;
      // both columns are rounded to 4dp, so allow that quantum.
      assert(err <= scale / 2 + 2e-4,
        s"vec ${r.getAs[Long]("vec_id")}: err $err > scale/2 ${scale / 2}")
    }
    // Codes stay in int8 range: max|q| ≤ 127 by construction (scale =
    // max|x|/127). Recompute the raw code extrema independently.
    val v = col("embedding").cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val codes = emb.select(
      transform(v, x => round(x / (maxAbs / 127.0)).cast("int")).as("qv"))
      .select(aggregate(col("qv"), lit(0),
        (acc, q) => greatest(acc, abs(q))).as("m"))
      .agg(max("m")).head().getInt(0)
    assert(codes <= 127)
  }

  test("int8 quantized search keeps high recall vs full-precision top-k") {
    val full = graft.operators.Similarity.bruteForceTopK(spark, sf0001, 0, 5)
      .collect().map(_.getLong(0)).toSet
    val quant = Embeddings.quantizedTopK(Tables.embeddings(spark, sf0001))
      .collect().map(_.getLong(0)).toSet
    assert(quant.size === 5)
    // int8 codes perturb cosine by O(1/127) per element; on 64-dim
    // vectors the true neighbors dominate that noise.
    assert(quant.intersect(full).size >= 3,
      s"recall too low: quantized $quant vs full $full")
  }

  test("quantizedTopK: missing query id and zero-norm query fail loudly") {
    import spark.implicits._
    val emb = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 2f)), (2L, Array(2f, 1f)))
      .toDF("vec_id", "embedding")
    val missing = intercept[IllegalArgumentException](
      Embeddings.quantizedTopK(emb, queryId = 99L))
    assert(missing.getMessage.contains("99"))
    val zero = intercept[IllegalArgumentException](
      Embeddings.quantizedTopK(emb, queryId = 0L))
    assert(zero.getMessage.contains("zero norm"))
  }

  test("batch search zero-norm guard: in-plan, null-safe, names the vec_id") {
    val codes = spark.sql(
      """SELECT * FROM VALUES
        | (0L, array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        | (1L, array(CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT))),
        | (2L, array(CAST(2.0 AS FLOAT), CAST(1.0 AS FLOAT))),
        | (3L, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))
        | AS t(vec_id, qv)""".stripMargin)
    // a null ELEMENT in a nonzero query scores as 0 (the kernel's
    // convention) — the guard must not crash on it (r15 ADVICE #4: the
    // old collect-side partial function threw MatchError here)
    assert(graft.operators.Embeddings
      .quantizedBatchTopK(codes, Seq(1L, 2L), k = 2).count() > 0)
    // an all-zero query fails loudly from inside the plan
    val ex = intercept[Throwable](graft.operators.Embeddings
      .quantizedBatchTopK(codes, Seq(0L, 2L), k = 2).count())
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("zero norm") && msgs.contains("vec_id=0"), msgs)
  }

  test("quantization is deterministic across runs") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = Embeddings.quantizeInt8(emb).collect().toSeq
    val b = Embeddings.quantizeInt8(emb).collect().toSeq
    assert(a === b)
  }

  test("fused int8 codes are bit-identical to the HOF formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val base = Seq.tabulate(100)(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // adversarial rows: exact .5 code boundaries (127.0/63.5 → scale 1.0,
    // code 63.5 must round AWAY to 64 on both paths, −63.5 to −64), an
    // all-zero vector (zero-scale branch), a null element, an empty array
    val special = spark.sql(
      "SELECT 900L AS vec_id, array(CAST(127.0 AS FLOAT), CAST(63.5 AS FLOAT), CAST(-63.5 AS FLOAT)) AS embedding " +
      "UNION ALL SELECT 901L, array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)) " +
      "UNION ALL SELECT 902L, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(-2.0 AS FLOAT)) " +
      "UNION ALL SELECT 903L, array(CAST(NULL AS FLOAT))")
    val e = base.unionByName(special)
    val native = e.select(col("vec_id"),
      graft.functions.VectorFunctions.int8Codes(col("embedding")).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val hof = Embeddings.codeVectorsHof(e)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(native.keySet === hof.keySet)
    native.foreach { case (id, nv) =>
      assert(nv === hof(id), s"vec $id: native $nv != hof ${hof(id)}")
    }
    assert(native(900L) === Seq(127.0, 64.0, -64.0))
    assert(native(901L) === Seq(0.0, 0.0))
    assert(native(902L) === Seq(64.0, null, -127.0))
    // all-null vector: maxAbs 0 → zero-scale branch zeros every position
    assert(native(903L) === Seq(0.0))
  }

  test("materialized int8 codes: tinyint round-trip + probe ≡ in-memory search") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = TmpDirs.scratch("graft_codes_spec").toString
    Embeddings.writeQuantizedCodes(emb, dir)
    // storage schema is REALLY int8 — the 4×-at-rest claim
    val onDisk = spark.read.parquet(dir)
    assert(onDisk.schema("qv").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    // read-back codes are bit-identical to freshly computed ones
    // (integers ≤ 127 survive double→tinyint→float exactly)
    val back = Embeddings.readQuantizedCodes(spark, dir)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Any](1).map(x => if (x == null) null
          else x.asInstanceOf[Number].doubleValue)).toMap
    val fresh = Embeddings.codeVectorsHof(emb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(back.keySet === fresh.keySet)
    back.foreach { case (id, bv) =>
      assert(bv === fresh(id), s"vec $id codes drifted through storage")
    }
  }

  test("quantized batch top-k agrees with the single-query path per query") {
    val batch = Embeddings.qQuantizedBatch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(batch.keySet === (0L to 7L).toSet)
    val emb = Tables.embeddings(spark, sf0001)
    (0L to 7L).foreach { qid =>
      val single = Embeddings.quantizedTopK(emb, qid, k = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val got = batch(qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(got.toSeq === single.toSeq, s"query $qid batch/single drift")
    }
  }

  test("sim_quantized_probe answers identically to sim_quantized_topk") {
    val a = Embeddings.qQuantizedTopK(spark, sf0001).collect().toSeq
    val b = graft.operators.Embeddings
      .qQuantizedProbe(spark, sf0001).collect().toSeq
    assert(a === b, "materialization must change cost, not the answer")
    // second call hits the cache (write-once): still identical
    val c = Embeddings.qQuantizedProbe(spark, sf0001).collect().toSeq
    assert(c === a)
  }

  test("random projection: zero vector projects to the zero vector") {
    import spark.implicits._
    val p = Seq((1L, Seq.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
      .transform(Embeddings.projectVectors(_))
      .head().getSeq[Long](1)
    assert(p === Seq.fill(Embeddings.DefaultProjDims)(0L))
  }

  test("fused JlProject kernel is bit-identical to the HOF projection form") {
    // The Int8QuantizeCodes discipline for the pre-ANN shrink kernel:
    // random float vectors across widths, exact-zero and .5-rounding
    // boundaries, null elements (null ALL cells), empty (zero vector),
    // and null (null) — HOF reference = integerize-transform + per-cell
    // aggregate(zip_with), exactly what the kernel replaced.
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val vecs: Seq[(Long, Option[Seq[java.lang.Float]])] =
      (0L until 40L).map { i =>
        val d = Seq(1, 7, 63, 64, 65, 128)(rng.nextInt(6))
        i -> Some(Seq.tabulate(d) { _ =>
          if (rng.nextInt(25) == 0) null.asInstanceOf[java.lang.Float]
          else java.lang.Float.valueOf(
            (rng.nextInt(4000001) - 2000000) / 1000000.0f)
        })
      } :+ (40L -> Some(Seq.empty[java.lang.Float])) :+
        (41L -> Option.empty[Seq[java.lang.Float]]) :+
        // exact .5 integerization boundary: 0.0000005·10⁶ = 0.5
        (42L -> Some(Seq(java.lang.Float.valueOf(0.0000005f),
          java.lang.Float.valueOf(-0.0000005f))))
    val df = vecs.toDF("vec_id", "embedding")
      .select(
        graft.operators.Embeddings.projectHof(col("embedding"), 16).as("hof"),
        graft.functions.VectorFunctions.jlProject(col("embedding"), 16)
          .as("fused"))
    assert(df.filter(!(col("hof") <=> col("fused"))).count() === 0L)
  }

  test("random projection: EMPTY vector projects to the zero vector (no null sums)") {
    // r17 ADVICE: unguarded, sequence(0, size−1) with size = 0 was the
    // descending [0, −1], which zip_with null-padded into null sums.
    import spark.implicits._
    val p = Seq((1L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
      .transform(Embeddings.projectVectors(_))
      .head().getSeq[Long](1)
    assert(p === Seq.fill(Embeddings.DefaultProjDims)(0L))
  }

  test("registered emb_project form: exploded (vec_id, dim, value) longs match the array form") {
    // The registered query explodes the array API to atomic rows (the
    // driver gate cannot canonicalize nested columns — r17's red row).
    val arr = Embeddings.projectVectors(Tables.embeddings(spark, sf0001))
      .collect().flatMap { r =>
        r.getSeq[Long](1).zipWithIndex.map { case (v, d) =>
          (r.getLong(0), d.toLong, v) }
      }.toSeq
    val exploded = Embeddings.qProject(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exploded === arr)
    assert(exploded.length ===
      arr.map(_._1).distinct.length * Embeddings.DefaultProjDims)
  }

  test("exploded projection edges: null vector → one (null,null) row; empty → 16 zeros") {
    // Pins the EXACT edge rows the registered emb_project oracle now
    // mirrors (r18 ADVICE: latent null/empty divergence): JlProject of a
    // null vector is null, which posexplode_outer emits as a single
    // (null dim, null value) row; an empty vector projects to 16 zero
    // cells. A kernel or plan change that alters either edge must flip
    // this spec — and the oracle's UNION ALL / len()=0 branches with it.
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq((1L, Some(Seq.empty[Float])), (2L, None),
        (3L, Some(Seq(1.0f))))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        VectorFunctions.jlProject(col("embedding"),
          Embeddings.DefaultProjDims).as("proj"))
      .select(col("vec_id"), posexplode_outer(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("value"))
    val empty = df.filter(col("vec_id") === 1L).collect()
    assert(empty.length === Embeddings.DefaultProjDims)
    assert(empty.forall(_.getLong(2) === 0L))
    val nul = df.filter(col("vec_id") === 2L).collect()
    assert(nul.length === 1)
    assert(nul.head.isNullAt(1) && nul.head.isNullAt(2))
    assert(df.filter(col("vec_id") === 3L).count() ===
      Embeddings.DefaultProjDims.toLong)
  }

  test("random projection is linear on integerized inputs (proj(2x) = 2·proj(x))") {
    import spark.implicits._
    val v = (0 until 64).map(i => (i - 32) / 64.0f)
    def proj(scale: Float) =
      Seq((1L, v.map(_ * scale))).toDF("vec_id", "embedding")
        .transform(Embeddings.projectVectors(_))
        .head().getSeq[Long](1)
    assert(proj(2.0f) === proj(1.0f).map(_ * 2L))
  }

  test("projection distortion: 28 pairs, positive distances, JL ratio sane") {
    val rows = Embeddings
      .projectionDistortion(Tables.embeddings(spark, sf0001))
      .collect()
    assert(rows.length === 28)
    assert(rows.forall(r => r.getAs[Long]("d2_orig") > 0L))
    // p=16 gives spread ~sqrt(2/p) ≈ 0.35 around 1; the fixture is
    // deterministic, so this band pins regression, not luck.
    val ratios = rows.map(_.getAs[Double]("ratio"))
    assert(ratios.forall(r => r > 0.3 && r < 2.0),
      s"JL ratio out of band: ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.75 && mean < 1.25, s"mean JL ratio drifted: $mean")
  }
}
