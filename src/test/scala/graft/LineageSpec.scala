package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Graph, Lineage}

/** The reliable-checkpoint seam (VERDICT r11 item 4): iterative
  * operators pin lineage with `localCheckpoint()` on local mode, but an
  * executor loss on a real cluster destroys local-checkpoint blocks
  * mid-iteration. When the caller configures
  * `sparkContext.setCheckpointDir(...)`, [[Lineage.pin]] must switch to
  * reliable `checkpoint()` — state on shared storage — with results
  * unchanged. The width rules of [[Lineage.withWidth]] child sessions
  * are pinned here too. */
class LineageSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def countFiles(dir: java.nio.file.Path): Long = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally walk.close()
  }

  /** `f` with a checkpoint dir set; the tree (every run writes rdd-N
    * partition files and nothing else reclaims them) goes afterwards. */
  private def withCheckpointDir[A](f: java.nio.file.Path => A): A =
    TmpDirs.scoped("graft_ckpt") { dir =>
      spark.sparkContext.setCheckpointDir(dir.toString)
      try f(dir)
      finally org.apache.spark.CheckpointDirTestAccess.clear(spark.sparkContext)
    }

  /** The `spark.sql.shuffle.partitions` of every SQL job `f` runs (SQL
    * confs ride each job's local properties), whichever session ran it. */
  private def jobWidths(f: => Unit): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.shuffle.partitions")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.ListenerBusTestAccess.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSet
  }

  /** Shuffle widths the frame's physical plan asks for. */
  private def plannedWidths(df: DataFrame): Set[Int] =
    """hashpartitioning\([^)]*, (\d+)\)""".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).toSet

  private def counted(df: DataFrame): DataFrame =
    df.groupBy((col("x") % 3).as("k")).agg(count(lit(1)).as("n"))

  test("pin: local checkpoint without a dir, reliable checkpoint with one") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(Lineage.pin(df).collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    withCheckpointDir { dir =>
      val pinned = Lineage.pin(df)
      assert(pinned.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
      // the reliable path wrote partition files under the configured dir
      assert(countFiles(dir) > 0,
        "no checkpoint files written — pin did not take the reliable path")
      // and the pinned plan reads back from the reliable checkpoint
      assert(pinned.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        pinned.rdd.toDebugString)
    }
  }

  test("connected components on a reliable checkpoint dir: files land, labels unchanged") {
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    // The reliable-checkpoint seam protects the DISTRIBUTED iteration
    // (per-round state must survive executor loss on a cluster); force
    // that path — a graph this small otherwise takes the r22 driver-side
    // union-find fast path, which holds no distributed state to protect
    // and must write nothing.
    def run(localMax: Long): Set[(Long, Long)] =
      Dedup.connectedComponents(pairs, localMaxPairs = localMax).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    assert(run(localMax = 1L << 20) === expected) // fast path
    withCheckpointDir { dir =>
      assert(run(localMax = 0L) === expected) // distributed path
      assert(countFiles(dir) > 0,
        "CC wrote no reliable-checkpoint state despite a configured dir")
      // the fast path stays checkpoint-free AND label-identical
      val before = countFiles(dir)
      assert(run(localMax = 1L << 20) === expected)
      assert(countFiles(dir) === before,
        "the driver union-find path must not write checkpoint state")
    }
  }

  test("pagerank on a reliable checkpoint dir: scores unchanged") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    def run(): Map[Long, Double] =
      Graph.pageRank(edges).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = run()
    withCheckpointDir { dir =>
      assert(run() === local)
      assert(countFiles(dir) > 0,
        "PageRank wrote no reliable-checkpoint state despite a configured dir")
    }
  }

  test("lazy pin and withWidth result read from the reliable checkpoint") {
    val df = Seq(1, 2, 3).toDF("x")
    withCheckpointDir { dir =>
      val lazyPin = Lineage.pin(df, eager = false)
      assert(countFiles(dir) === 0, "a lazy pin must not write before an action")
      assert(lazyPin.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
      assert(lazyPin.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        lazyPin.rdd.toDebugString)
      val out = Lineage.withWidth(spark, 1)(c => counted(c.adopt(df)))
      assert(out.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ===
        Set((1, 1L), (2, 1L), (0, 1L)))
      assert(out.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        out.rdd.toDebugString)
    }
  }

  test("withWidth: the child runs at the derived width, the result plans at the parent's") {
    val parent = spark.newSession()
    assert(parent.conf.get("spark.sql.shuffle.partitions") === "4")
    val df = Lineage.pin(parent.range(0, 100).toDF("x"))
    var inner = Set.empty[Int]
    val out = Lineage.withWidth(parent, 2) { c =>
      assert(c.width === 2)
      val grouped = counted(c.adopt(df))
      inner = plannedWidths(grouped)
      grouped
    }
    assert(inner === Set(2))
    assert(out.sparkSession eq parent)
    assert(plannedWidths(out.groupBy("n").count()) === Set(4))
    // the derived width is capped at the parent's
    assert(Lineage.width(parent, 100) === 4)
  }

  test("withWidth: the override key wins over the derived width") {
    val parent = spark.newSession()
    parent.conf.set(Lineage.WidthKey, "5")
    assert(Lineage.width(parent, 2) === 5)
    var inner = 0
    Lineage.withWidth(parent, 2) { c =>
      inner = c.session.conf.get("spark.sql.shuffle.partitions").toInt
      c.adopt(Lineage.pin(parent.range(0, 10).toDF("x")))
    }
    assert(inner === 5)
  }

  test("connected components' distributed path sizes its child by the override key") {
    val parent = spark.newSession()
    parent.conf.set(Lineage.WidthKey, "3")
    val pairs = parent.createDataFrame(Seq((2L, 1L), (3L, 2L), (10L, 11L)))
      .toDF("doc_a", "doc_b")
    var labels = Set.empty[(Long, Long)]
    val widths = jobWidths {
      labels = Dedup.connectedComponents(pairs, localMaxPairs = 0).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(labels === Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // parent-session jobs run at 4; every child job at the key's value
    assert(widths === Set("4", "3"), widths)
  }
}
