package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Scale.replicate]], the one replicator behind every `graft.Scale`
  * kind: replicas must be disjoint copies (row and distinct-id counts
  * scale exactly), distinct-mode rotation must stay legal past the
  * vector width, and the events rule must leave one file over the
  * source's time range. */
class ScaleSpec extends AnyFunSuite with SparkFixture {

  private val idCols = Seq(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "customer" -> Seq("c_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_suppkey"))

  test("scale 3: every table has 3x the rows and 3x the distinct ids") {
    val out = TmpDirs.scratch("graft_scale_spec").toString
    Scale.replicate(spark, sf0001, 3, out, idCols.map(_._1))
    idCols.foreach { case (table, ids) =>
      val src = Tables(spark, sf0001, table)
      val rep = Tables(spark, out, table)
      assert(rep.count() == 3 * src.count(), table)
      ids.foreach { id =>
        assert(rep.select(id).distinct().count() ==
          3 * src.select(id).distinct().count(), s"$table.$id")
      }
    }
  }

  test("distinct mode past the vector width keeps every vector's length") {
    val src = Tables.embeddings(spark, sf0001)
    val dims = src.select(size(col("embedding"))).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq == Seq(64))
    // 66 replicas: rotating replica 65 by `rep` instead of `rep mod 64`
    // slices a negative length (replica 64 still slices an empty one)
    val out = TmpDirs.scratch("graft_scale_spec").toString
    Scale.replicate(spark, sf0001, 66, out, Seq("embeddings"), "distinct")
    val rep = Tables.embeddings(spark, out)
    assert(rep.count() == 66 * src.count())
    assert(rep.select(size(col("embedding"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(64))
    // replicas 64 and 65 repeat rotations 0 and 1: 64 distinct per vector
    assert(rep.select("embedding").distinct().count() ==
      64 * src.select("embedding").distinct().count())
  }

  test("events: one events.parquet file, 3x the rows, the source's ts range") {
    val out = TmpDirs.scratch("graft_scale_spec").toString
    Scale.replicate(spark, sf0001, 3, out, Seq("events"))
    val events = java.nio.file.Paths.get(out, "events.parquet")
    assert(java.nio.file.Files.isRegularFile(events))
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(out))
    val names = try listing.map(_.getFileName.toString).toArray.toSet
      finally listing.close()
    assert(names == Set("events.parquet", "customer.parquet"))
    val src = Tables.events(spark, sf0001)
    val rep = Tables.events(spark, out)
    assert(rep.count() == 3 * src.count())
    val range = Seq(min(col("ts")), max(col("ts")))
    assert(rep.select(range: _*).head() == src.select(range: _*).head())
  }
}
