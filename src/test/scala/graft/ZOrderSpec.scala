package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZOrder

class ZOrderSpec extends AnyFunSuite with SparkFixture {

  test("zValue interleaves bits (known Morton values)") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L), (7L, 7L))
      .toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), bits = 4).as("z"))
      .as[Long].collect()
    // morton(a,b) with a on even bits: (5,3)=0b101,0b011 -> 0b011011=27;
    // (7,7)=0b111111=63.
    assert(got.toSeq === Seq(0L, 1L, 2L, 3L, 27L, 63L))
  }

  test("zValue on raw INT columns stays positive and ordered (no 32-bit shift wrap)") {
    // Spark's shiftleft keeps the input's integer width: on IntegerType
    // inputs the i=15 b-term is shiftleft(1, 31) = Integer.MIN_VALUE, so
    // z goes NEGATIVE for b >= 32768 and sorts before tiny coordinates
    // (post-round review finding). zValue must cast to long internally.
    import spark.implicits._
    val got = Seq((0, 32768), (1, 0), (32768, 32768))
      .toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(got.forall(_ >= 0L), s"negative z-values: ${got.toSeq}")
    // (0, 32768): b bit 15 -> z bit 31 = 2^31; (32768, 32768): z bits
    // 30 and 31. A small coordinate must sort BEFORE the big ones.
    assert(got.toSeq === Seq(1L << 31, 1L, (1L << 30) | (1L << 31)))
  }

  test("z-order write clusters BOTH dimensions into narrow per-file ranges") {
    val dir = TmpDirs.scratch("graft_zorder_spec")
    val events = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "value")
    ZOrder.zorderWrite(events, "user_id", "value", dir.toString, numFiles = 8)

    // Per-file min/max spread on each dimension, relative to the global
    // spread — the exact quantity parquet footer pruning keys on.
    val back = spark.read.parquet(dir.toString)
      .withColumn("f", input_file_name())
    val spreads = back.groupBy("f").agg(
      (max("user_id") - min("user_id")).cast("double").as("du"),
      (max("value") - min("value")).as("dv")).collect()
    val g = events.agg(
      (max("user_id") - min("user_id")).cast("double"),
      max("value") - min("value")).head()
    val (gu, gv) = (g.getDouble(0), g.getDouble(1))
    assert(spreads.length >= 4, "expected multiple output files")
    val avgU = spreads.map(_.getAs[Double]("du")).sum / spreads.length / gu
    val avgV = spreads.map(_.getAs[Double]("dv")).sum / spreads.length / gv
    // A single-column sort would leave the OTHER column's per-file spread
    // at ~100% of global; Morton clustering must narrow both. The bound
    // is loose (Morton segments can straddle grid seams) but a
    // non-clustered layout sits at ~1.0 on both, far outside it.
    assert(avgU < 0.75, s"user_id per-file spread $avgU not clustered")
    assert(avgV < 0.75, s"value per-file spread $avgV not clustered")

    // Content round-trips exactly.
    assert(back.count() === events.count())
    assert(back.select(sum("event_id")).head().getLong(0) ===
      events.select(sum("event_id")).head().getLong(0))
  }

  test("degenerate dimension (min == max) still writes and round-trips") {
    import spark.implicits._
    val dir = TmpDirs.scratch("graft_zorder_degen")
    val df = (1 to 100).map(i => (i.toLong, 42L, i.toDouble)).toDF("id", "k", "v")
    ZOrder.zorderWrite(df, "k", "v", dir.toString, numFiles = 2)
    assert(spark.read.parquet(dir.toString).count() === 100)
  }
}
