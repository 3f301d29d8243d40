package graft

import graft.facade.MapReduceJob
import graft.sources.OutSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, GreaterThan}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the graft-out DataSource V2 connector (sources/OutSource.scala):
  * round-trip against the facade sink that defines the layout, the
  * short-name registration, column pruning, and exact file-level
  * partition pruning on reducer_id. */
class OutSourceSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private lazy val outDir: String = {
    val dir = TmpDirs.scratch("graft_out_src")
      .toString
    val lines = Tables.documents(spark, sf0001)
      .select("text").as[String].rdd
    MapReduceJob.writeReferenceLayout(
      MapReduceJob.wordCount(lines, numReducers = 8), dir, "word_count")
    dir
  }

  test("round-trips the facade sink: same (word, cnt) multiset, 8 reducer files") {
    val back = spark.read.format("graft-out").load(outDir)
    val got = back.select("word", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val lines = Tables.documents(spark, sf0001)
      .select("text").as[String].rdd
    val expected = MapReduceJob.wordCount(lines, numReducers = 8)
      .collect().map { case (w, c) => (w, c.toLong) }.sorted
    assert(got.toSeq === expected.toSeq)
    assert(back.select("reducer_id").distinct().count() <= 8)
  }

  test("reducer_id equality filter prunes to ONE input partition (file)") {
    val back = spark.read.format("graft-out").load(outDir)
      .filter(col("reducer_id") === 3)
    assert(back.rdd.getNumPartitions === 1,
      "the pushed filter must prune non-matching files from the scan")
    assert(back.select("reducer_id").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(3))
  }

  test("IN filter prunes to the matching files") {
    val back = spark.read.format("graft-out").load(outDir)
      .filter(col("reducer_id").isin(1, 4))
    assert(back.rdd.getNumPartitions === 2)
    assert(back.select("reducer_id").distinct().count() === 2)
  }

  test("pruning logic is exact and ignores non-pushable filters") {
    val files = (1 to 8).map(i => (s"f-$i.out", i))
    assert(OutSource.prunePaths(files, Seq(EqualTo("reducer_id", 5)))
      .map(_._2) === Seq(5))
    assert(OutSource.prunePaths(files,
      Seq(In("reducer_id", Array(2, 7)))).map(_._2) === Seq(2, 7))
    // a filter on another column prunes nothing (returned as residual)
    assert(OutSource.prunePaths(files,
      Seq(GreaterThan("cnt", 10L))).size === 8)
    assert(OutSource.pushable(Array(GreaterThan("cnt", 10L))).isEmpty)
  }

  test("column pruning reaches the scan (pushed into readSchema)") {
    val back = spark.read.format("graft-out").load(outDir).select("cnt")
    val scans = back.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scans.contains("columns=cnt"),
      s"scan description should show the pruned schema:\n$scans")
    assert(back.agg(sum("cnt")).head.getLong(0) > 0)
  }

  test("layout filename parsing: only <job>-<id>.out participates") {
    assert(OutSource.reducerIdOf("word_count-7.out") === Some(7))
    assert(OutSource.reducerIdOf("job-with-dash-12.out") === Some(12))
    assert(OutSource.reducerIdOf(".word_count-7.out.3.tmp") === None)
    assert(OutSource.reducerIdOf("_SUCCESS") === None)
    // a digit run past Int range is a non-layout file, not a planning
    // crash (toIntOption, not toInt — r19 review finding)
    assert(OutSource.reducerIdOf("backup-99999999999.out") === None)
  }
}
