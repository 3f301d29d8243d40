package graft.tools

import graft.{Scale, Tables, TmpDirs}
import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-loop tool (test scope only — not part of the shipped library):
  * stage-level wall-time breakdown of the embedding near-dup pipeline on
  * a scaled corpus, to aim optimization at the actual cost center
  * (sketching vs candidate join vs verify prefilter vs exact verify).
  *
  *   sbt "Test/runMain graft.tools.ProfileEmb [scale] [vecMult] [srcDir]"
  */
object ProfileEmb {
  def main(args: Array[String]): Unit = {
    val scale = if (args.length > 0) args(0).toInt else 100
    val vecMult = if (args.length > 1) args(1).toInt else 8
    val srcDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val work = TmpDirs.scratch("graft_prof")
    val dir = work.resolve(s"x$scale").toString
    Scale.replicate(spark, srcDir, scale, dir, Seq("embeddings"), "distinct", vecMult)
    val e = Tables.embeddings(spark, dir)
    val n = t("count")(e.count())
    val (bands, rpb) = Dedup.bandGeometry(n, 0.95)
    println(s"PROF n=$n bands=$bands rowsPerBand=$rpb")
    val sketch = Dedup.hyperplaneSketch(bands, rpb, 64 * vecMult)
    val banded = e
      .select(col("vec_id"), posexplode(sketch(col("embedding"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    t("sketch+band")(banded.count())
    val pinned = t("sketch+band pinned")(banded.localCheckpoint())
    val l = pinned.select(col("vec_id").as("vid_a"), col("band"), col("key"))
    val r = pinned.select(col("vec_id").as("vid_b"), col("band"), col("key"))
    val cands = l.join(r.hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("vid_a") < col("vid_b"))
      .select("vid_a", "vid_b").distinct()
    val nc = t("candidates")(cands.count())
    println(s"PROF candidates=$nc")
    val pinnedCands = cands.localCheckpoint()
    t("sketch side")(
      e.select(col("vec_id"), Dedup.verifySketchUdf(col("embedding"))).count())
    t("verify")(Dedup.verifyCosinePairs(
      pinnedCands, e, e, "vid_a", "vid_b", 0.95).count())
    t("full query")(Dedup.embeddingNearDupPairs(
      e, bands = bands, rowsPerBand = rpb).count())
    spark.stop()
  }
}
