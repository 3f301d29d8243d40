package graft

import graft.operators.Lineage
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the accumulation-order perturbation gate (VERDICT r18 ask #4):
  * the engine-side verify must flag a double fold whose 4dp rounding is
  * order-sensitive BEFORE the driver's hash gate does — the exact class
  * that shipped `stream_sessions_fmgws` red in r18 after the builder's
  * own verify read green. */
class VerifyPerturbSpec extends AnyFunSuite with SparkFixture {

  /** A deliberately order-sensitive double fold: 1e12 absorbs any
    * 5e-5 added to it (half-ulp at 1e12 is ~6.1e-5), so how many of the
    * small terms survive depends entirely on which partition the big
    * terms land in — which the jittered `spark.sql.shuffle.partitions`
    * changes. This is the absorption form of the same disease as the
    * r18 fmgws red row (two fold orders disagreeing past the 4dp
    * quantum). */
  private val plantedDoubleFold: (SparkSession, String) => DataFrame =
    (s, _) => {
      import s.implicits._
      val vals = (1e12 +: Seq.fill(101)(0.00005)) :+ -1e12
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      s.createDataset(vals).repartition(p)
        .mapPartitions(it => Iterator(it.foldLeft(0.0)(_ + _)))
        .toDF("partial")
        .agg(round(sum("partial"), 4).as("s"))
    }

  test("perturbation gate flags a planted order-sensitive double fold") {
    assert(!Verify.perturbStable(plantedDoubleFold, spark, sf0001),
      "the planted absorption fold must read differently under jittered " +
        "partitioning — if this is stable the gate has lost its teeth")
  }

  test("integerized fmgws sessionizer is perturbation-stable") {
    // The r19 fix: SessionState carries exact cent longs, so the fold is
    // associative and ANY accumulation order produces bit-identical
    // output. Two full replay runs under jittered configs must agree.
    assert(Verify.perturbStable(
      StreamingOps.qStreamSessionsFmgws _, spark, sf0001))
  }

  test("float-column scope: only float-outputting queries are in the gate") {
    import spark.implicits._
    assert(Verify.hasFloatColumn(Seq((1L, 2.0)).toDF("a", "b")))
    assert(!Verify.hasFloatColumn(Seq((1L, "x")).toDF("a", "b")))
  }

  test("the jitter reaches streaming replay child sessions") {
    // The replay harnesses pin spark.sql.shuffle.partitions in an
    // isolated CHILD session, so the gate's jittered session conf would
    // never reach them (leaving the gate a no-op for exactly the
    // streaming class whose r18 red row motivated it — r19 review
    // finding). The Lineage.WidthKey parent-session key is the carrier:
    // both perturb config sets must set it, and the replay child must
    // honor it over the derived width.
    assert(Verify.perturbConfA.toMap.get(Lineage.WidthKey).contains("4"))
    assert(Verify.perturbConfB.toMap.get(Lineage.WidthKey).contains("7"))
    def replayWidth(parent: SparkSession): String =
      StreamingOps.replayChild(parent, sf0001)
        .conf.get("spark.sql.shuffle.partitions")
    val parent = spark.newSession()
    assert(replayWidth(parent) == "2",
      "unset: the size-adaptive default floors at 2 for a " +
        "verification-scale events file (r21 width A/B)")
    parent.conf.set(Lineage.WidthKey, "5")
    assert(replayWidth(parent) == "5",
      "set: the perturb jitter must win over the derived default")
  }
}
