package graft

import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("csv reader parses valid rows and captures malformed ones") {
    val dir = TmpDirs.scratch("graft_csv")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.writeString(f,
      "id,name,score\n1,alpha,0.5\nnot_a_number,beta,oops\n3,gamma,1.25\n")
    // corrupt-column-only queries require materialized input (see
    // Sources.corruptRecords doc) — cache as a quarantine step would
    val df = Sources.csv(spark, f.toString, schema).cache()
    try {
      assert(Sources.validRecords(df).count() === 2)
      val corrupt = Sources.corruptRecords(df).collect()
      assert(corrupt.length === 1)
      assert(corrupt.head.getAs[String]("_corrupt").contains("not_a_number"))
    } finally df.unpersist()
  }

  test("json reader parses valid rows and captures malformed ones") {
    val dir = TmpDirs.scratch("graft_json")
    val f = dir.resolve("data.json")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "name": "alpha", "score": 0.5}
        |{"id": broken json here
        |{"id": 3, "name": "gamma", "score": 1.25}
        |""".stripMargin)
    val df = Sources.json(spark, f.toString, schema).cache()
    try {
      assert(Sources.validRecords(df).count() === 2)
      assert(Sources.corruptRecords(df).count() === 1)
    } finally df.unpersist()
  }

  test("xml reader parses rowTag records and captures malformed ones") {
    val dir = TmpDirs.scratch("graft_xml")
    val f = dir.resolve("data.xml")
    java.nio.file.Files.writeString(f,
      """<rows>
        |<row><id>1</id><name>alpha</name><score>0.5</score></row>
        |<row><id>oops</id><name>beta</name><score>bad</score></row>
        |<row><id>3</id><name>gamma</name><score>1.25</score></row>
        |</rows>
        |""".stripMargin)
    val df = Sources.xml(spark, f.toString, schema).cache()
    try {
      val valid = Sources.validRecords(df).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(valid === Set((1L, "alpha", 0.5), (3L, "gamma", 1.25)))
      assert(Sources.corruptRecords(df).count() === 1)
    } finally df.unpersist()
  }

  test("orc roundtrip preserves rows and pushes filters into the scan") {
    val out = TmpDirs.scratch("graft_orc")
      .resolve("orders_orc").toString
    val src = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    src.write.orc(out)
    val back = Sources.orc(spark, out, src.schema)
    assert(back.count() === src.count())
    val plan = back.filter(col("o_totalprice") > 100000.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice"), s"filter not pushed to ORC scan:\n$plan")
  }

  test("partitioned sink lays out by column and scans prune partitions") {
    val out = TmpDirs.scratch("graft_part")
      .resolve("events_by_type").toString
    Sinks.writePartitioned(
      Tables.events(spark, sf0001).select("event_id", "event_type", "value"),
      out, Seq("event_type"))
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("event_type=")).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("event_type=")))
    val pruned = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter not pushed:\n$plan")
    assert(pruned.count() ===
      Tables.events(spark, sf0001)
        .filter(col("event_type") === "purchase").count())
  }

  test("writeSharded caps rows per output file") {
    val out = TmpDirs.scratch("graft_shard")
      .resolve("orders_sharded").toString
    val src = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    Sinks.writeSharded(src.coalesce(1), out, maxRecordsPerFile = 40)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    val n = src.count()
    assert(files.length === math.ceil(n / 40.0).toInt,
      s"expected ceil($n/40) files, got ${files.length}")
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 40)
    }
    assert(spark.read.parquet(out).count() === n)
  }

  test("compact collapses a many-file directory without losing rows") {
    val base = TmpDirs.scratch("graft_compact")
    val src = base.resolve("many").toString
    val dest = base.resolve("compacted").toString
    val data = Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey")
    data.repartition(16).write.parquet(src) // simulate per-batch small files
    val before = new java.io.File(src).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before === 16)
    Sinks.compact(spark, src, dest, targetFileBytes = 64L * 1024 * 1024)
    val after = new java.io.File(dest).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1, s"tiny input should compact to 1 file, got $after")
    assert(spark.read.parquet(dest).count() === data.count())
    // refuse in-place rewrite
    intercept[IllegalArgumentException] {
      Sinks.compact(spark, src, src)
    }
    // ... including the same directory spelled relative vs absolute —
    // raw URI-path comparison let this pair through and the overwrite
    // write would delete the source before the lazy read executed
    // (r19 review finding; the guard now FS-qualifies both sides).
    // A cwd-local dir gives both spellings of ONE directory.
    val relDir = s"target/graft_cmp_guard_${System.nanoTime()}"
    val absDir = new java.io.File(relDir).getAbsolutePath
    try {
      data.limit(1).write.parquet(relDir)
      intercept[IllegalArgumentException] {
        Sinks.compact(spark, relDir, absDir)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(absDir))
    }
  }
}
