package graft

import graft.functions.CountMin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CountMinSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def terms(rows: Seq[String]): DataFrame = rows.toDF("term")

  private def estimates(df: DataFrame, depth: Int, width: Int,
      probes: Seq[String]): Map[String, Long] = {
    val sk = df.agg(CountMin(col("term"), depth, width).as("sk"))
    probes.map { p =>
      p -> sk.select(
        CountMin.estimate(col("sk"), lit(p), depth, width)).head().getLong(0)
    }.toMap
  }

  test("wide sketch is exact on a small vocabulary") {
    val rows = Seq.fill(40)("alpha") ++ Seq.fill(17)("beta") ++
      Seq.fill(3)("gamma") ++ Seq("delta")
    val est = estimates(terms(scala.util.Random.shuffle(rows)), 4, 1024,
      Seq("alpha", "beta", "gamma", "delta"))
    assert(est === Map(
      "alpha" -> 40L, "beta" -> 17L, "gamma" -> 3L, "delta" -> 1L))
  }

  test("the estimate projection runs inside whole-stage codegen") {
    // cms_term_freq's shape: per-group sketches joined to the asked
    // terms, then the estimate projection over the join
    val sk = Seq(("en", "a"), ("en", "b"), ("en", "a"), ("de", "a")).toDF("g", "term")
      .groupBy("g").agg(CountMin(col("term"), 2, 64).as("sk"))
    val q = Seq(("en", "a"), ("de", "b")).toDF("g", "p").join(sk, "g")
      .select(col("g"), CountMin.estimate(col("sk"), col("p"), 2, 64).as("n"))
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("en" -> 2L, "de" -> 0L))
    val plan = q.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert("""\*\(\d+\) Project \[[^\]]*count_min_estimate""".r.findFirstIn(plan).nonEmpty,
      s"not codegen'd:\n$plan")
  }

  test("forced collisions (width 4): never underestimates, bounded above by N") {
    val vocab = (0 until 40).map(i => s"k$i")
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)(vocab(rnd.nextInt(vocab.size)))
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = estimates(terms(rows), 4, 4, vocab)
    vocab.foreach { v =>
      val e = est(v)
      assert(e >= exact.getOrElse(v, 0L), s"$v underestimated")
      assert(e <= rows.size.toLong, s"$v above total mass")
    }
    // width 4 for 40 keys MUST collide somewhere, or the test is vacuous
    assert(vocab.exists(v => est(v) > exact.getOrElse(v, 0L)))
  }

  test("estimates are partition-count independent (merge is element-wise sum)") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(300)(s"t${rnd.nextInt(12)}")
    val probes = (0 until 12).map(i => s"t$i")
    val one = estimates(terms(rows).repartition(1), 4, 64, probes)
    val many = estimates(terms(rows).repartition(7), 4, 64, probes)
    assert(one === many)
  }

  test("null keys are skipped; unknown keys estimate 0 on a collision-free sketch") {
    val df = (Seq("x", "x", null, "y") : Seq[String]).toDF("term")
    val est = estimates(df, 4, 1024, Seq("x", "y", "never-seen"))
    assert(est === Map("x" -> 2L, "y" -> 1L, "never-seen" -> 0L))
  }

  test("inner product: exact join size on a collision-free width; never under with collisions") {
    val a = terms(Seq("x", "x", "x", "y", "z"))
    val b = terms(Seq("x", "y", "y", "w"))
    // true join size on the key: 3*1 (x) + 1*2 (y) + 0 + 0 = 5
    def est(width: Int): Long = {
      val sa = a.agg(CountMin(col("term"), 4, width).as("a"))
      val sb = b.agg(CountMin(col("term"), 4, width).as("b"))
      sa.crossJoin(sb)
        .select(CountMin.innerProduct(col("a"), col("b"), 4, width))
        .head().getLong(0)
    }
    assert(est(1024) === 5L) // width ≫ keys: no collisions, exact
    val tight = est(2)       // forced collisions: overestimate only
    assert(tight >= 5L)
    assert(tight <= a.count() * b.count(), "bounded by the cross product")
  }

  test("element-wise zip_with(+) of stored sketches equals the union sketch") {
    val a = terms(Seq("p", "p", "q"))
    val b = terms(Seq("q", "r"))
    val sa = a.agg(CountMin(col("term"), 4, 64).as("sk"))
    val sb = b.agg(CountMin(col("term"), 4, 64).as("sk"))
    val merged = sa.crossJoin(sb.withColumnRenamed("sk", "sk2"))
      .select(zip_with(col("sk"), col("sk2"), (x, y) => x + y).as("sk"))
    val whole = a.unionAll(b).agg(CountMin(col("term"), 4, 64).as("sk"))
    assert(merged.head().getSeq[Long](0) === whole.head().getSeq[Long](0))
    // and the merged sketch still answers point queries correctly
    val est = Seq("p", "q", "r").map { p =>
      p -> merged.select(
        CountMin.estimate(col("sk"), lit(p), 4, 64)).head().getLong(0)
    }.toMap
    assert(est === Map("p" -> 2L, "q" -> 2L, "r" -> 1L))
  }
}
