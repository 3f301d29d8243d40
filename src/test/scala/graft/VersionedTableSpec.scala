package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable
import graft.streaming.StreamingOps

class VersionedTableSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_vt_spec")
      .resolve("tbl").toString

  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

  private def manifestFiles(tbl: String, v: Long): Set[String] =
    VersionedTable.readManifest(spark, new org.apache.hadoop.fs.Path(tbl), v)
      .toSet

  private def fileSizes(tbl: String, files: Set[String]): Map[String, Long] =
    files.map(f => f -> new java.io.File(tbl, f).length()).toMap

  private def docs = Tables.documents(spark, sf0001)

  test("init → upsert: time travel reads each snapshot exactly; old files survive") {
    val tbl = freshTable()
    assert(VersionedTable.init(spark, tbl,
      docs.repartitionByRange(8, col("doc_id"))) === 0L)
    assert(VersionedTable.currentVersion(spark, tbl) === Some(0L))
    val v0Files = dataFiles(tbl)

    val updates = docs.filter(col("doc_id") < 10)
      .withColumn("text", concat(lit("V1 "), col("text")))
      .withColumn("n_chars", col("n_chars") + 3)
      .select(docs.columns.map(col).toIndexedSeq: _*)
    assert(VersionedTable.upsert(spark, tbl, updates, "doc_id") === 1L)

    // v0 is byte-for-byte still readable: no original file was deleted
    assert(v0Files.subsetOf(dataFiles(tbl)))
    val v0 = VersionedTable.read(spark, tbl, Some(0L))
    assert(v0.count() === docs.count())
    assert(v0.filter(col("text").startsWith("V1 ")).count() === 0L)

    // v1 (also the default read) has exactly the merged state
    val v1 = VersionedTable.read(spark, tbl)
    assert(v1.count() === docs.count())
    assert(v1.filter(col("text").startsWith("V1 ")).count() === 10L)
    val expected = docs.join(updates.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(updates)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = v1.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
  }

  test("upsert's snapshot joins build on the batch-keyed side (snapshot streams, never re-shuffles)") {
    // Pin on the r22 broadcast hints: the MERGE key frame hangs off a
    // checkpointed aggregate with no stats, so without the hint the
    // planner's default is to shuffle (or worse, build on) the
    // TABLE-SIZED snapshot. This mirrors upsert's two snapshot joins
    // exactly and asserts both plan as BroadcastHashJoin with the KEY
    // side as the build side (BuildRight) — the snapshot side streams.
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(8, col("doc_id")))
    val snapshot = VersionedTable.read(spark, tbl)
    val keys = docs.filter(col("doc_id") < 10).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false).select("doc_id")
    val probe = snapshot
      .select(input_file_name().as("_f"), col("doc_id"))
      .join(broadcast(keys), "doc_id")
    val probePlan = probe.queryExecution.sparkPlan.toString
    assert(probePlan.contains("BroadcastHashJoin") &&
      probePlan.contains("BuildRight"), probePlan)
    val anti = snapshot.join(broadcast(keys), Seq("doc_id"), "left_anti")
    val antiPlan = anti.queryExecution.sparkPlan.toString
    assert(antiPlan.contains("BroadcastHashJoin") &&
      antiPlan.contains("BuildRight"), antiPlan)
  }

  test("upsert rewrites only key-containing files (manifest delta is minimal)") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(8, col("doc_id")))
    val v0Files = manifestFiles(tbl, 0)
    assert(v0Files.size >= 8)
    val v0Sizes = fileSizes(tbl, v0Files)
    // keys 0..9 live in the first range file(s): exactly those files
    // leave the manifest, every other v0 file is carried unchanged
    val touched = VersionedTable.read(spark, tbl, Some(0L))
      .filter(col("doc_id") < 10)
      .select(input_file_name()).distinct()
      .collect().map(r => r.getString(0).split('/').last).toSet
    assert(touched.nonEmpty && touched.size < v0Files.size,
      s"expected a strict subset of ${v0Files.size} files touched, got $touched")
    val updates = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), concat(lit("V2 "), col("text")).as("text"),
        col("lang"), col("source"), (col("n_chars") + 3).as("n_chars"))
    VersionedTable.upsert(spark, tbl, updates, "doc_id")

    val v1Files = manifestFiles(tbl, 1)
    assert(v1Files.intersect(v0Files) === v0Files -- touched,
      "v1 must drop exactly the key-containing files and carry the rest")
    assert((v1Files -- v0Files).nonEmpty, "the rewrite must add a file")
    (v0Files -- touched).foreach(f => assert(
      new java.io.File(tbl, f).length() === v0Sizes(f),
      s"carried file $f changed size"))

    // Merge semantics: the new version == anti-join + union over the
    // logical table.
    val expected = docs.join(updates.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(updates)
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = VersionedTable.read(spark, tbl)
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("insert-only upsert appends without dropping any manifest entry") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(4, col("doc_id")))
    val v0Files = manifestFiles(tbl, 0)
    val v0Sizes = fileSizes(tbl, v0Files)
    val inserts = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 5000000)
      .select(docs.columns.map(col).toIndexedSeq: _*)
    VersionedTable.upsert(spark, tbl, inserts, "doc_id")
    // no file rewritten: every v0 file stays listed, byte-for-byte, and
    // the batch lands as new files
    val v1Files = manifestFiles(tbl, 1)
    v0Files.foreach { f =>
      assert(v1Files(f), s"v0 file $f dropped from v1's manifest")
      assert(new java.io.File(tbl, f).length() === v0Sizes(f),
        s"v0 file $f was disturbed")
    }
    assert((v1Files -- v0Files).nonEmpty, "the batch must add a file")
    assert(VersionedTable.read(spark, tbl).count() === docs.count() + 5)
    assert(VersionedTable.read(spark, tbl, Some(0L)).count() === docs.count())
  }

  test("commit claims its version slot: a racing writer to the same version loses loudly") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.limit(20))
    // Both writers read v0 and race to commit v1; the second commit to
    // the same slot must fail, not silently overwrite the winner's.
    val table = new org.apache.hadoop.fs.Path(tbl)
    val v0 = VersionedTable.read(spark, tbl, Some(0L))
      .select(input_file_name()).distinct()
      .collect().map(r => r.getString(0).split('/').last).toSeq
    VersionedTable.commitManifest(spark, table, 1L, v0) // winner
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitManifest(spark, table, 1L, Seq.empty) // loser
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the winner's manifest survives intact
    assert(VersionedTable.read(spark, tbl, Some(1L)).count() === 20L)
  }

  test("snapshot isolation: a reader resolved before an upsert sees the old state after it") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(4, col("doc_id")))
    // Reader resolves the CURRENT manifest (v0) — this is the moment a
    // concurrent reader would start its scan.
    val reader = VersionedTable.read(spark, tbl)
    val writeHappens = VersionedTable.upsert(spark, tbl,
      docs.filter(col("doc_id") < 10)
        .withColumn("text", lit("OVERWRITTEN"))
        .select(docs.columns.map(col).toIndexedSeq: _*), "doc_id")
    assert(writeHappens === 1L)
    // The pre-resolved frame still evaluates against v0's files — they
    // were retained, not deleted, so the reader never sees a torn or
    // duplicated state.
    assert(reader.filter(col("text") === "OVERWRITTEN").count() === 0L)
    assert(reader.count() === docs.count())
  }

  test("streaming CDC upsert: micro-batches land as versions, last writer wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import ctx.sparkSession.implicits._

    val tbl = freshTable()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vt_ckpt").toString
    VersionedTable.init(spark, tbl,
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
        .toDF("k", "v", "seq"))

    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("k", "v", "seq")
    // batch 1: key 2 updated TWICE in one batch (seq 5 then 7 — the
    // seq-7 row must win), key 4 inserted
    mem.addData((2L, "b5", 5L), (2L, "b7", 7L), (4L, "d", 6L))
    StreamingOps.runUpsertSink(stream, tbl, "k", "seq", ckpt)
    // batch 2 (same checkpoint — offsets resume): key 1 updated
    mem.addData((1L, "a9", 9L))
    StreamingOps.runUpsertSink(stream, tbl, "k", "seq", ckpt)

    val got = VersionedTable.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "a9", 2L -> "b7", 3L -> "c", 4L -> "d"))
    // one version per non-empty micro-batch on top of v0
    assert(VersionedTable.currentVersion(spark, tbl) === Some(2L))
    // and v0 still time-travels
    assert(VersionedTable.read(spark, tbl, Some(0L))
      .collect().map(_.getString(1)).sorted.toSeq === Seq("a", "b", "c"))
  }

  test("additive schema evolution: new column null-fills history, old versions keep their schema") {
    import spark.implicits._
    val tbl = freshTable()
    VersionedTable.init(spark, tbl,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .repartitionByRange(3, col("k")))
    // v1: update k=1 and ADD a column; untouched survivors of the
    // rewritten file and carried files must null-fill it
    VersionedTable.upsert(spark, tbl,
      Seq((1L, "a1", 0.9)).toDF("k", "v", "score"), "k")
    val v1 = VersionedTable.read(spark, tbl)
    assert(v1.columns.toSeq === Seq("k", "v", "score"))
    val rows = v1.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows === Map(1L -> ("a1", Some(0.9)),
      2L -> ("b", None), 3L -> ("c", None)))
    // time travel: v0 never had the column
    assert(VersionedTable.read(spark, tbl, Some(0L)).columns.toSeq ===
      Seq("k", "v"))
    // v2 touches a PRE-EVOLUTION carried file (k=3): its rewrite must
    // null-cast the added column in, not fail analysis
    VersionedTable.upsert(spark, tbl,
      Seq((3L, "c2", 0.5)).toDF("k", "v", "score"), "k")
    val v2 = VersionedTable.read(spark, tbl).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some(r.getDouble(2)))).toMap
    assert(v2 === Map(1L -> Some(0.9), 2L -> None, 3L -> Some(0.5)))
    // the manifest's merge flag is set only from the evolving commit on
    // (v0 reads skip parquet's footer-merging scan entirely)
    def manifestText(v: Long) = java.nio.file.Files.readString(
      java.nio.file.Path.of(tbl, f"_manifests/v$v%08d.json"))
    assert(manifestText(0).contains("\"merge\":false"))
    assert(manifestText(1).contains("\"merge\":true"))
    assert(manifestText(2).contains("\"merge\":true"))
    // dropping a column and changing a type both fail loudly
    val eDrop = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl,
        Seq((2L, "b2")).toDF("k", "v"), "k"))
    assert(eDrop.getMessage.contains("lack table columns"))
    val eType = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl,
        Seq((2L, "b2", "high")).toDF("k", "v", "score"), "k"))
    assert(eType.getMessage.contains("type change"))
  }

  test("vacuum reclaims files below the retention floor and keeps live versions intact") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(8, col("doc_id")))
    VersionedTable.upsert(spark, tbl,
      docs.filter(col("doc_id") < 10)
        .withColumn("n_chars", col("n_chars") + 1)
        .select(docs.columns.map(col).toIndexedSeq: _*), "doc_id")
    val beforeCount = VersionedTable.read(spark, tbl).count()
    val filesBefore = dataFiles(tbl)
    // default grace: files written seconds ago are NOT reclaimed — an
    // in-flight upsert's adopted-but-uncommitted files must survive a
    // concurrent vacuum (review finding). The v0 manifest itself is
    // dropped (explicit keepFrom intent); only physical deletes wait.
    assert(VersionedTable.vacuum(spark, tbl, keepFrom = 1L) === 0)
    assert(dataFiles(tbl) === filesBefore)
    // grace 0 (offline maintenance): reclaim fires
    val deleted = VersionedTable.vacuum(spark, tbl, keepFrom = 1L, graceMs = 0L)
    assert(deleted >= 1, "the rewritten v0 originals should be reclaimed")
    // latest still reads fully; v0 is gone (its manifest was dropped)
    assert(VersionedTable.read(spark, tbl).count() === beforeCount)
    assertThrows[Exception](
      VersionedTable.read(spark, tbl, Some(0L)).count())
    // all remaining data files are referenced (no orphans)
    val referenced = VersionedTable.read(spark, tbl)
      .select(input_file_name()).distinct()
      .collect().map(r => r.getString(0).split('/').last).toSet
    assert(dataFiles(tbl) === referenced)
  }

  test("upsert enforces the unique-key batch contract: duplicate and null keys fail loudly") {
    // A duplicate key would survive the anti-join and commit a snapshot
    // holding two rows for one key — permanently, with no error (the
    // Delta MERGE discipline is to fail; the CDC sink dedups with
    // row_number BEFORE calling upsert, proving the contract is real —
    // r19 review finding: upsert itself never enforced it).
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.limit(50))
    val base = docs.filter(col("doc_id") < 2)
      .select(docs.columns.map(col).toIndexedSeq: _*)
    val dup = base.unionByName(base.limit(1))
    val eDup = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl, dup, "doc_id"))
    assert(eDup.getMessage.contains("unique-key"))
    val withNull = base.unionByName(
      base.limit(1).withColumn("doc_id", lit(null).cast("long")))
    val eNull = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl, withNull, "doc_id"))
    assert(eNull.getMessage.contains("unique-key"))
    // the table is untouched by either rejected batch
    assert(VersionedTable.currentVersion(spark, tbl) === Some(0L))
    assert(VersionedTable.read(spark, tbl).count() === 50L)
  }

  test("init with an empty frame yields a readable, upsertable v0 (no wedged table)") {
    // A post-round review hypothesized an all-empty-partition frame
    // stages zero part files and wedges the table with a files:[] v0.
    // REFUTED on Spark 4: FileFormatWriter emits one schema-only part
    // file even for a zero-partition frame, so v0 is a legitimate empty
    // snapshot — pin that, plus the init-side require that fails loudly
    // should any future writer path really stage nothing.
    val tbl = freshTable()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.schema)
    assert(VersionedTable.init(spark, tbl, empty) === 0L)
    assert(VersionedTable.read(spark, tbl).count() === 0L)
    // an empty snapshot accepts its first insert-only upsert
    val v = VersionedTable.upsert(spark, tbl,
      docs.limit(3).select(docs.columns.map(col).toIndexedSeq: _*),
      "doc_id")
    assert(v === 1L)
    assert(VersionedTable.read(spark, tbl).count() === 3L)
  }

  test("nested nullability differences are additive (catalog-type compare), real type changes still fail") {
    // A batch whose array element nullability is merely NARROWER than
    // the table's is safely writable; the strict DataType == rejected it
    // with an error printing two identical catalog strings (post-round
    // review finding).
    import spark.implicits._
    val tbl = freshTable()
    VersionedTable.init(spark, tbl,
      Seq((1L, "a,b")).toDF("id", "csv")
        .select(col("id"), split(col("csv"), ",").as("tags")))  // containsNull = true
    val narrower = Seq(2L).toDF("id")
      .select(col("id"), array(lit("c")).as("tags"))             // containsNull = false
    assert(narrower.schema("tags").dataType !==
      VersionedTable.read(spark, tbl).schema("tags").dataType,
      "fixture rot: the two array types no longer differ in nullability")
    VersionedTable.upsert(spark, tbl, narrower, "id")
    assert(VersionedTable.read(spark, tbl).count() === 2L)
    val realChange = Seq((3L, 7)).toDF("id", "tags")             // array -> int: reject
    val e = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl, realChange, "id"))
    assert(e.getMessage.contains("not additive evolution"))
  }

  test("a key column named 'count' upserts cleanly (unique-key check must not self-collide)") {
    // r19 ADVICE: groupBy(key).count() on a key literally named "count"
    // produces two "count" columns, and the contract filter threw
    // AMBIGUOUS_REFERENCE on a perfectly valid batch.
    import spark.implicits._
    val tbl = freshTable()
    VersionedTable.init(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("count", "v"))
    val v = VersionedTable.upsert(spark, tbl,
      Seq((2L, "b2"), (3L, "c")).toDF("count", "v"), "count")
    assert(v === 1L)
    assert(VersionedTable.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // and the contract itself still fires on a genuine duplicate
    val e = intercept[IllegalArgumentException](VersionedTable.upsert(
      spark, tbl, Seq((4L, "x"), (4L, "y")).toDF("count", "v"), "count"))
    assert(e.getMessage.contains("unique-key"))
  }

  test("vacuum clears aged crashed-writer debris and unblocks the claimed slot") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.limit(50))
    val table = new org.apache.hadoop.fs.Path(tbl)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a writer dead between staging and adoption: full _stage_ dir
    val stage = new org.apache.hadoop.fs.Path(table, "_stage_deadbeef")
    fs.mkdirs(stage)
    fs.create(new org.apache.hadoop.fs.Path(stage, "part-0.parquet")).close()
    // a writer dead between claim and commit: leaked claim blocks v1
    val mdir = new org.apache.hadoop.fs.Path(table, "_manifests")
    val claim = new org.apache.hadoop.fs.Path(mdir, "v00000001.claim")
    fs.create(claim, false).close()
    // writers dead between creating and renaming hint/manifest temps:
    // leaked forever before the r20 review fix — vacuum never matched them
    val hintTmp = new org.apache.hadoop.fs.Path(mdir, ".hint-deadbeef")
    val manTmp = new org.apache.hadoop.fs.Path(mdir, ".tmp-deadbeef")
    fs.create(hintTmp, false).close()
    fs.create(manTmp, false).close()
    val update = docs.filter(col("doc_id") < 2)
      .select(docs.columns.map(col).toIndexedSeq: _*)
    val blocked = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, tbl, update, "doc_id"))
    assert(blocked.getMessage.contains("claim"))
    // graced vacuum keeps fresh debris (a LIVE writer looks identical)
    VersionedTable.vacuum(spark, tbl, keepFrom = 0L)
    assert(fs.exists(stage) && fs.exists(claim))
    assert(fs.exists(hintTmp) && fs.exists(manTmp))
    // grace-0 vacuum (offline maintenance) reclaims all — the
    // sanctioned cleanup path for crashed-writer debris (r19 review
    // finding: neither was EVER reclaimed before)
    VersionedTable.vacuum(spark, tbl, keepFrom = 0L, graceMs = 0L)
    assert(!fs.exists(stage), "aged stage dir must be reclaimed")
    assert(!fs.exists(claim), "dead claim must be reclaimed")
    assert(!fs.exists(hintTmp), "dead hint temp must be reclaimed")
    assert(!fs.exists(manTmp), "dead manifest temp must be reclaimed")
    // the slot commits normally once unblocked
    assert(VersionedTable.upsert(spark, tbl, update, "doc_id") === 1L)
  }

  test("diff: classifies insert/update, drops rewritten-file survivors, prunes to changed files") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartitionByRange(8, col("doc_id")))
    // a RANGE-LOCAL update batch: only the low-key file(s) are touched,
    // so most of the table is carried over manifest-to-manifest
    val batch = docs.filter(col("doc_id") < 30)
      .withColumn("text", concat(lit("U "), col("text")))
      .select(docs.columns.map(col).toIndexedSeq: _*)
      .unionByName(docs.filter(col("doc_id") % 111 === 0)
        .withColumn("doc_id", col("doc_id") + 5000)
        .select(docs.columns.map(col).toIndexedSeq: _*))
    VersionedTable.upsert(spark, tbl, batch, "doc_id")
    val m0 = VersionedTable.read(spark, tbl, Some(0L))
      .inputFiles.map(_.split('/').last).toSet
    val m1 = VersionedTable.read(spark, tbl, Some(1L))
      .inputFiles.map(_.split('/').last).toSet
    val carried = m0.intersect(m1)
    assert(carried.nonEmpty, "fixture rot: upsert touched every file")
    val d = VersionedTable.diff(spark, tbl, 0L, 1L, "doc_id")
    // reads ONLY files added or removed by the upsert — never the
    // carried-over table body (the ∝-changed-bytes cost model)
    val readFiles = d.inputFiles.map(_.split('/').last).toSet
    assert(readFiles.nonEmpty && readFiles.intersect(carried).isEmpty,
      s"diff read carried-over files: ${readFiles.intersect(carried)}")
    val rows = d.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val nUpd = docs.filter(col("doc_id") < 30).count()
    val nIns = docs.filter(col("doc_id") % 111 === 0).count()
    assert(rows.count(_._1 == "update") === nUpd)
    assert(rows.count(_._1 == "insert") === nIns)
    assert(rows.size === nUpd + nIns,
      "survivor rows from rewritten files leaked into the change feed")
    assert(rows.filter(_._1 == "update").forall(_._3.startsWith("U ")))
    assert(rows.filter(_._1 == "insert").forall(_._2 >= 5000L))
  }

  test("diff: a file dropped from the manifest surfaces as deletes with the pre-image") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl,
      docs.filter(col("doc_id") < 40).repartitionByRange(4, col("doc_id")))
    // commit v1 = v0 minus one data file (commitManifest is the
    // package-visible seam; no public API deletes — CDC MERGE only
    // upserts — but diff must still classify a manifest-level drop)
    val table = new org.apache.hadoop.fs.Path(tbl)
    val v0 = VersionedTable.read(spark, tbl, Some(0L))
    val files = v0.inputFiles.map(_.split('/').last).toSeq.sorted
    val dropped = files.head
    VersionedTable.commitManifest(spark, table, 1L, files.tail)
    val droppedIds = spark.read.parquet(s"$tbl/$dropped")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val d = VersionedTable.diff(spark, tbl, 0L, 1L, "doc_id").collect()
    assert(d.nonEmpty && d.forall(_.getString(0) == "delete"))
    assert(d.map(_.getLong(1)).toSet === droppedIds)
    // pre-image rides along (text column non-null)
    assert(d.forall(!_.isNullAt(2)))
  }

  test("optimize: packs small files into one, preserves data and history, returns new version") {
    val tbl = freshTable()
    VersionedTable.init(spark, tbl, docs.repartition(16))
    val before = VersionedTable.read(spark, tbl, Some(0L))
    val beforeState = before.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val nBefore = before.inputFiles.length
    assert(nBefore === 16)
    val v1 = VersionedTable.optimize(spark, tbl)
    assert(v1 === 1L)
    val after = VersionedTable.read(spark, tbl, Some(v1))
    assert(after.inputFiles.length < nBefore)
    val afterState = after.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterState === beforeState)
    // history untouched: v0 still resolves its own (small) files
    assert(VersionedTable.read(spark, tbl, Some(0L)).inputFiles.length === 16)
    // idempotent-ish: nothing left to pack → version unchanged
    assert(VersionedTable.optimize(spark, tbl) === v1)
    // vacuum below v1 reclaims the now-unreferenced small files
    val reclaimed = VersionedTable.vacuum(spark, tbl, keepFrom = v1, graceMs = 0L)
    assert(reclaimed === 16)
    assert(VersionedTable.read(spark, tbl).count() === docs.count())
  }

  test("version resolution is hint-driven at 1000 versions, never a directory walk") {
    // r13 verdict item 5: after thousands of commits, latestVersion/diff
    // must not pay a LIST over the whole manifest directory. 1,000
    // manifests committed through the real claim-and-rename path (no
    // data files needed — resolution only touches manifests).
    import spark.implicits._
    val tbl = freshTable()
    VersionedTable.init(spark, tbl,
      Seq((1L, "a")).toDF("doc_id", "text"))
    val table = new org.apache.hadoop.fs.Path(tbl)
    (1L until 1000L).foreach(v =>
      VersionedTable.commitManifest(spark, table, v, Seq("f.parquet")))
    assert(VersionedTable.currentVersion(spark, tbl) === Some(999L))

    // Proof the hint path (read hint → probe forward) is what resolves,
    // not the fallback listing: plant a DECOY manifest far above the
    // contiguous chain. A directory walk would report it as newest; the
    // hint probe (999 → 1000 missing → stop) never sees it.
    val mdir = java.nio.file.Paths.get(tbl, "_manifests")
    java.nio.file.Files.writeString(mdir.resolve("v99999999.json"),
      """{"version":99999999,"merge":false,"files":["f.parquet"]}""")
    assert(VersionedTable.currentVersion(spark, tbl) === Some(999L),
      "resolution consulted the directory listing despite a valid hint")

    // Hint is only an accelerator: a STALE hint (lagging commits) probes
    // forward to the true newest... (written through the Hadoop fs —
    // a direct nio write would leave a stale .crc sidecar and read as
    // corrupt, which is the NEXT case, not this one)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hintP = new org.apache.hadoop.fs.Path(
      mdir.resolve("_latest_hint").toString)
    def setHint(s: String): Unit = {
      val out = fs.create(hintP, true)
      try out.write(s.getBytes) finally out.close()
    }
    setHint("500")
    assert(VersionedTable.currentVersion(spark, tbl) === Some(999L))
    // ...a corrupt hint falls back to the listing (which now honestly
    // reports the decoy — the fallback is a full walk by design)...
    setHint("garbage")
    assert(VersionedTable.currentVersion(spark, tbl) === Some(99999999L))
    // ...and the next commit repairs the hint.
    java.nio.file.Files.delete(mdir.resolve("v99999999.json"))
    fs.delete(hintP, false)
    VersionedTable.commitManifest(spark, table, 1000L, Seq("f.parquet"))
    assert(java.nio.file.Files.readString(mdir.resolve("_latest_hint"))
      .trim === "1000")
    assert(VersionedTable.currentVersion(spark, tbl) === Some(1000L))
  }
}
