package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Embeddings, MaterializedCache}
import graft.sources.VersionedTable

/** [[Tables.parquet]], the engine's one non-merge parquet reader: the
  * schema Spark's own inference gives, with no inference job, and
  * Spark's read itself wherever one footer is not the whole answer. */
class TablesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))

  /** The reader's schema equals `spark.read.parquet`'s: names, types,
    * nullability and field metadata (StructField equality covers all
    * four). */
  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema === spark.read.parquet(path).schema,
      path)

  test("the fixture tables read with Spark's inferred schema and start no job") {
    for (name <- fixtures) {
      assertSameSchema(s"$sf0001/$name.parquet")
      var df: DataFrame = null
      assert(jobsDuring { df = Tables(spark, sf0001, name) }.isEmpty, name)
      assert(df.schema === spark.read.parquet(s"$sf0001/$name.parquet").schema, name)
    }
  }

  test("Spark-written tables read with Spark's inferred schema, metadata included") {
    val root = TmpDirs.scratch("graft_tables_spec")
    // a versioned table after init and upsert, one column with metadata
    val tbl = root.resolve("vt").toString
    val note = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "spark row metadata").build()
    VersionedTable.init(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .select(col("k"), col("v").as("v", note)).repartition(2))
    VersionedTable.upsert(spark, tbl,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v").select(col("k"), col("v").as("v", note)), "k")
    assertSameSchema(tbl)
    var vt: DataFrame = null
    assert(jobsDuring { vt = VersionedTable.read(spark, tbl) }.isEmpty)
    assert(vt.schema === spark.read.parquet(tbl).schema)
    assert(vt.schema("v").metadata === note)
    assert(rows(vt) === Seq(Seq(1L, "a"), Seq(2L, "b2"), Seq(3L, "c")))
    // the int8 codes table
    val codes = root.resolve("codes").toString
    Embeddings.writeQuantizedCodes(Tables.embeddings(spark, sf0001), codes)
    assertSameSchema(codes)
    assert(jobsDuring { Embeddings.readQuantizedCodes(spark, codes) }.isEmpty)
    // a write-once cache tree
    val idx = MaterializedCache.getOrBuild(root.resolve("cache"), "stem",
        "stem_v1_1_1", "_SUCCESS") { tmp =>
      Tables.documents(spark, sf0001).select("doc_id", "text")
        .write.parquet(tmp.resolve("t").toString)
      java.nio.file.Files.createFile(tmp.resolve("_SUCCESS"))
    }
    assertSameSchema(idx.resolve("t").toString)
  }

  test("an additively evolved versioned table still reads through Spark's schema merge") {
    val tbl = TmpDirs.scratch("graft_tables_evolved").resolve("vt").toString
    VersionedTable.init(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // insert-only: every v0 file stays listed, beside one with `score`
    VersionedTable.upsert(spark, tbl, Seq((3L, "c", 0.5)).toDF("k", "v", "score"), "k")
    val merged = spark.read.option("mergeSchema", "true").parquet(tbl)
    val v1 = VersionedTable.read(spark, tbl)
    assert(v1.schema === merged.schema)
    assert(v1.columns.toSeq === Seq("k", "v", "score"))
    assert(rows(v1) === rows(merged))
    assert(rows(v1) === Seq(Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", 0.5)))
  }

  test("a partitioned directory reads as Spark reads it, partition column included") {
    val dir = TmpDirs.scratch("graft_tables_partitioned").resolve("idx").toString
    Seq((1L, 0, "a"), (2L, 1, "b"), (3L, 1, "c")).toDF("vec_id", "cid", "x")
      .write.partitionBy("cid").parquet(dir)
    val ours = Tables.parquet(spark, dir)
    val theirs = spark.read.parquet(dir)
    assert(ours.schema === theirs.schema)
    assert(ours.columns.contains("cid"))
    assert(rows(ours) === rows(theirs))
  }

  test("a directory with no data file fails as Spark's read fails") {
    val dir = TmpDirs.scratch("graft_tables_empty").resolve("t")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
    val theirs = intercept[Exception](spark.read.parquet(dir.toString))
    val ours = intercept[Exception](Tables.parquet(spark, dir.toString))
    assert(ours.getClass === theirs.getClass)
    assert(ours.getMessage === theirs.getMessage)
  }
}
