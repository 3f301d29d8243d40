package graft.sources

import graft.operators.Lineage
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-versioned copy-on-write table — snapshot isolation and time
  * travel over a plain parquet directory, the way Delta/Iceberg/Hudi
  * actually commit at 100 TB:
  *
  *   - Every version is a MANIFEST (a JSON file listing data-file names).
  *     Readers resolve one manifest and read exactly its files — never a
  *     directory listing — so a reader sees a consistent snapshot no
  *     matter what a concurrent writer is mid-way through. This closes
  *     the documented mid-commit duplicate window of the bare-directory
  *     [[CopyOnWrite]]: there, add-then-delete means a row can appear
  *     twice to a lister; here, uncommitted data files are invisible
  *     until the manifest lands.
  *   - A commit is ONE atomic rename of a staged manifest to the next
  *     version slot (`_manifests/v%08d.json`). Rename-if-absent doubles
  *     as optimistic concurrency control: two writers racing to the same
  *     version — one rename wins, the loser gets a loud error instead of
  *     a silent lost update.
  *   - Upserts rewrite only key-containing files (same cost model as
  *     [[CopyOnWrite]]: work ∝ touched bytes, never table bytes), but
  *     originals are NOT deleted — prior manifests still reference them.
  *     Space is reclaimed explicitly by [[vacuum]], exactly the
  *     retention model of a production table format.
  *
  * The manifest holds file NAMES (all data files live flat in the table
  * directory), so the table relocates with a plain directory copy.
  */
object VersionedTable {

  private def manifestDir(table: Path) = new Path(table, "_manifests")

  private def manifestPath(table: Path, v: Long) =
    new Path(manifestDir(table), f"v$v%08d.json")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hintPath(table: Path) =
    new Path(manifestDir(table), "_latest_hint")

  /** Best-effort latest-version hint (the Delta `_last_checkpoint`
    * pattern): one tiny file naming the newest version known at the last
    * commit, so resolution reads ONE file and probes forward instead of
    * LISTING a manifest directory that grows one entry per commit — on
    * an object store a LIST over 10³–10⁵ version files is paged and
    * linear, while the hint is O(1 + commits-since-hint). Only a HINT:
    * it may lag (concurrent committers race the overwrite; a dead writer
    * never wrote it) but can never overtake a commit, so the forward
    * probe always lands on the true newest; absent/corrupt hints fall
    * back to the full listing. Failures writing it are swallowed — a
    * commit must never fail over its accelerator. */
  private def writeHint(fs: org.apache.hadoop.fs.FileSystem, table: Path,
      v: Long): Unit =
    try {
      val tmp = new Path(manifestDir(table),
        s".hint-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, false)
      try out.write(v.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(hintPath(table), false)
      if (!fs.rename(tmp, hintPath(table))) fs.delete(tmp, false)
    } catch { case _: java.io.IOException => () }

  private def readHint(fs: org.apache.hadoop.fs.FileSystem,
      table: Path): Option[Long] =
    try {
      if (!fs.exists(hintPath(table))) None
      else {
        val in = fs.open(hintPath(table))
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
        txt.toLongOption.filter(_ >= 0)
      }
    } catch { case _: java.io.IOException => None }

  /** Newest committed version, or None for a directory that was never
    * [[init]]-ed. Resolution order: a valid [[writeHint]] whose manifest
    * exists → probe forward to the newest (commits are gapless: every
    * public writer commits currentVersion+1, and vacuum only drops the
    * OLD end); otherwise the full directory listing. Spec-pinned
    * (VersionedTableSpec): with the hint present the listing is never
    * consulted. */
  def currentVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val table = new Path(tablePath)
    val dir = manifestDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) None
    else readHint(fs, table)
      .filter(h => fs.exists(manifestPath(table, h)))
      .map { h =>
        var v = h
        while (fs.exists(manifestPath(table, v + 1))) v += 1
        v
      }
      .orElse(fs.listStatus(dir).iterator
        .map(_.getPath.getName)
        .collect { case n if n.matches("v\\d{8}\\.json") =>
          n.substring(1, 9).toLong }
        .maxOption)
  }

  /** One manifest, parsed once. `merge` = whether the version's file
    * set carries more than one schema (sticky once an evolving upsert
    * lands, until every old file is rewritten out). Readers only pay
    * parquet's footer-merging `mergeSchema` scan when it is set — on a
    * 10⁵-file table that option is a real planning cost, and a
    * never-evolved table should not pay it. */
  private case class Manifest(files: Seq[String], merge: Boolean)

  private def readManifestData(spark: SparkSession, table: Path,
      v: Long): Manifest = {
    val fs = fsOf(spark, table)
    val in = fs.open(manifestPath(table, v))
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    // Manifest grammar is ours and trivial:
    // {"version":N,"merge":bool,"files":[...]} with names matching
    // parquet part-file charsets — split, don't parse. One open/read
    // serves both fields: read/upsert/optimize need BOTH, and on an
    // object store the duplicate GET of the same small file was pure
    // waste on the hottest path.
    Manifest(
      "\"([^\"]+\\.parquet)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq,
      txt.contains("\"merge\":true"))
  }

  private def readManifest(spark: SparkSession, table: Path,
      v: Long): Seq[String] = readManifestData(spark, table, v).files

  /** Stage-then-rename manifest commit. Fails loudly if `v` was committed
    * by someone else first. The slot is claimed with
    * `fs.create(claim, overwrite = false)` — the Hadoop primitive that
    * FAILS on an existing file (atomic on HDFS; the strongest
    * check-and-act the FS API offers locally) — because a bare
    * exists-then-rename is a TOCTOU race: POSIX rename REPLACES an
    * existing target, so two racing writers would both "succeed" and one
    * commit would be silently lost. With the claim held, the target
    * rename cannot collide. A writer that dies between claim and commit
    * leaks its claim file, which blocks that version slot LOUDLY (the
    * next committer errors and names the stale claim) — the recoverable
    * failure, chosen over the silent lost update.
    * Package-visible so the spec can pin the conflict path directly. */
  private[graft] def commitManifest(spark: SparkSession, table: Path, v: Long,
      files: Seq[String], merge: Boolean = false): Unit = {
    val fs = fsOf(spark, table)
    fs.mkdirs(manifestDir(table))
    val target = manifestPath(table, v)
    val claim = new Path(manifestDir(table), f"v$v%08d.claim")
    // The claim carries this writer's identity so ownership is
    // RE-VERIFIABLE at the commit point: if a vacuum whose grace window
    // undershot this writer's lifetime deleted the claim and a second
    // writer re-claimed the slot, the content check below fails LOUDLY
    // instead of the target rename silently replacing the other
    // writer's manifest (local-FS rename overwrites; r19 ADVICE).
    // Defense in depth, not a closure: a check-then-rename window
    // remains (a writer stalled between its ownsClaim() and its rename
    // can still collide) — the vacuum grace window is the primary
    // protection; see vacuum's scaladoc.
    val writerId = java.util.UUID.randomUUID.toString
    def ownsClaim(): Boolean =
      try {
        val in = fs.open(claim)
        // readAllBytes, not a single read(): the InputStream contract
        // allows short reads, which would make a writer falsely conclude
        // it lost its claim — aborting a healthy commit AND skipping the
        // ownership-guarded cleanup, wedging the slot until vacuum
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == writerId
        finally in.close()
      } catch { case _: java.io.IOException => false }
    val claimed =
      try {
        val out = fs.create(claim, false)
        // a failure between create and close would leave OUR zero-byte
        // claim blocking the slot with a misleading "concurrent writer
        // won" on every retry — best-effort delete it before rethrowing
        try {
          try out.write(writerId.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch { case e: java.io.IOException =>
          try fs.delete(claim, false)
          catch { case _: java.io.IOException => () }
          // NOT the concurrent-writer case: surface the real I/O failure
          // (disk full, transient fault) instead of letting the outer
          // catch relabel it "concurrent writer won"
          throw new java.io.UncheckedIOException(
            s"failed writing claim for version $v (slot released)", e)
        }
        true
      }
      // ONLY the exists-collision means "concurrent writer won" — a
      // blanket IOException catch here would relabel real faults
      // (EACCES on _manifests, disk full at create) as a lost race and
      // send the operator chasing a phantom concurrent writer
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        false }
    require(claimed,
      s"version $v already committed or mid-commit (claim $claim exists) — " +
        "concurrent writer won; re-read and retry (delete a stale claim " +
        "only if its writer is known dead)")
    try {
      require(!fs.exists(target),
        s"version $v already committed — concurrent writer won; re-read and retry")
      val tmp = new Path(manifestDir(table),
        s".tmp-${java.util.UUID.randomUUID}")
      val fileArr =
        if (files.isEmpty) "[]"
        else files.sorted.mkString("[\"", "\",\"", "\"]")
      val out = fs.create(tmp, false)
      try out.write(s"""{"version":$v,"merge":$merge,"files":$fileArr}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!ownsClaim()) {
        fs.delete(tmp, false)
        sys.error(s"claim for version $v was lost mid-commit (vacuumed " +
          "with too small a grace window, or taken by another writer) — " +
          "aborting instead of overwriting a possibly-committed manifest; " +
          "re-read and retry with vacuum graceMs above the max write time")
      }
      require(fs.rename(tmp, target), s"commit: rename $tmp -> $target failed")
      writeHint(fs, table, v)
    } finally {
      // ownership-guarded: if our claim was vacuumed and the slot
      // re-claimed, deleting here would destroy the OTHER writer's claim
      // and re-open the duplicate-commit race for a third
      if (ownsClaim()) fs.delete(claim, false)
    }
  }

  /** Move every staged part-file into the table directory under a fresh
    * unique name; returns the new names. */
  private def adoptStaged(spark: SparkSession, table: Path,
      staging: Path): Seq[String] = {
    val fs = fsOf(spark, table)
    val staged = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    val names = staged.zipWithIndex.map { case (p, i) =>
      // FULL UUID, like the staging dirs: an 8-hex truncation has 2³²
      // names per index — ~50% birthday-collision odds by ~9×10⁴
      // commits (one per CDC micro-batch), and a local-FS rename over
      // an existing target SUCCEEDS, silently replacing a data file
      // still referenced by live manifests.
      val name = s"part-v-${java.util.UUID.randomUUID}-$i.parquet"
      require(fs.rename(p, new Path(table, name)),
        s"commit: rename $p failed")
      name
    }.toSeq
    fs.delete(staging, true)
    names
  }

  /** Create version 0 from `df`. The table directory must not already
    * hold a versioned table. */
  def init(spark: SparkSession, tablePath: String, df: DataFrame): Long = {
    require(currentVersion(spark, tablePath).isEmpty,
      s"$tablePath already holds a versioned table")
    val table = new Path(tablePath)
    val staging = new Path(table, s"_stage_${java.util.UUID.randomUUID}")
    df.write.parquet(staging.toString)
    val staged = adoptStaged(spark, table, staging)
    // Defense in depth: committing files:[] as v0 would wedge the table
    // permanently (read() rejects empty manifests, upsert() needs the
    // snapshot, re-init is blocked by the currentVersion guard above).
    // On Spark 4 this is unreachable — FileFormatWriter emits one
    // schema-only part file even for a zero-partition frame (spec-pinned:
    // an empty init yields a readable, upsertable v0) — but a future
    // writer path that really stages nothing must fail HERE, not at
    // every subsequent read.
    require(staged.nonEmpty,
      s"init: input staged no data files — committing an empty manifest " +
        "as v0 would wedge the table; write at least one part file")
    commitManifest(spark, table, 0L, staged)
    0L
  }

  /** Read the table at `version` (default: newest). When the manifest's
    * `merge` flag is set (the version's files span an additive schema
    * evolution), `mergeSchema` makes the snapshot read whole — files
    * written before a column was added null-fill it, exactly parquet's
    * additive-evolution contract. Non-evolved versions skip the
    * footer-merging scan, and time travel sees each version's own
    * schema. */
  def read(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): DataFrame = {
    val table = new Path(tablePath)
    val v = version.orElse(currentVersion(spark, tablePath)).getOrElse(
      sys.error(s"$tablePath is not a versioned table"))
    val m = readManifestData(spark, table, v)
    require(m.files.nonEmpty,
      s"version $v of $tablePath has an empty manifest")
    spark.read
      .option("mergeSchema", m.merge.toString)
      .parquet(m.files.map(new Path(table, _).toString): _*)
  }

  /** Copy-on-write upsert against the CURRENT snapshot; commits and
    * returns the new version. Only key-containing files are rewritten;
    * prior versions keep reading the originals.
    *
    * Additive schema evolution: `updates` may carry columns the snapshot
    * lacks — new and rewritten files get the widened schema, carried-over
    * files keep theirs, and [[read]]'s mergeSchema null-fills history.
    * Columns the snapshot has but `updates` lacks, or a type change on a
    * shared column, fail loudly (a silent null-fill or cast is how
    * tables rot). */
  def upsert(spark: SparkSession, tablePath: String, updates: DataFrame,
      keyCol: String): Long = {
    val table = new Path(tablePath)
    val v = currentVersion(spark, tablePath).getOrElse(
      sys.error(s"$tablePath is not a versioned table — init first"))
    val manifest = readManifestData(spark, table, v)
    val current = manifest.files
    val priorMerge = manifest.merge
    val snapshot = spark.read
      .option("mergeSchema", priorMerge.toString).parquet(
        current.map(new Path(table, _).toString): _*)
    val missing = snapshot.columns.filterNot(updates.columns.contains)
    require(missing.isEmpty,
      s"updates lack table columns ${missing.mkString(", ")} — supply them " +
        "explicitly (dropping columns is not additive evolution)")
    snapshot.schema.foreach { f =>
      updates.schema.find(_.name == f.name).foreach { u =>
        // catalogString comparison: nullability-INSENSITIVE at every
        // nesting level. A strict DataType == would reject a batch whose
        // struct/array/map element nullability is merely narrower than
        // the table's (safely writable), with an error printing two
        // IDENTICAL catalog strings — compare what the message prints.
        require(u.dataType.catalogString == f.dataType.catalogString,
          s"type change on ${f.name} (${f.dataType.catalogString} -> " +
            s"${u.dataType.catalogString}) is not additive evolution")
      }
    }
    val added = updates.columns.filterNot(snapshot.columns.contains)
    val outCols = (snapshot.columns ++ added).toIndexedSeq

    // Key-unique, non-null batch contract, ENFORCED (the Delta MERGE
    // discipline — it fails loudly on multiple matches): a duplicate
    // key would survive the anti-join and commit a snapshot holding two
    // rows for one key, permanently breaking the invariant diff()'s
    // classification and every reader depend on; a null key matches
    // nothing and accumulates as a ghost insert on every batch. One
    // aggregate over the (batch-sized, not table-sized) update side.
    // collision-proof alias: groupBy(key).count() on a key column
    // itself named "count" yields two "count" columns and the filter
    // throws AMBIGUOUS_REFERENCE, rejecting a valid batch (r19 ADVICE).
    // DERIVED from keyCol, not a fixed name — a fixed "_graft_cnt"
    // would just move the same collision to a table keyed by that name
    val cntAlias = Iterator.iterate("_graft_cnt")(_ + "_")
      .dropWhile(_ == keyCol).next()
    // ONE evaluation of the batch serves both the unique-key gate and
    // the join key set (r21: the batch frame — for the CDC sink, a
    // window over the micro-batch — was re-evaluated once for the gate,
    // once for the distinct keys and once for the rewrite; the pinned
    // per-key counts are batch-key-sized, never table-sized).
    val keyCounts = Lineage.pin(updates.groupBy(col(keyCol))
      .agg(count(lit(1)).as(cntAlias)), eager = false)

    // BROADCAST the key set in both snapshot joins (r22): the MERGE key
    // frame is batch-keyed by this operator's own contract (work ∝
    // touched bytes, never table bytes), but it hangs off a pinned RDD
    // with no stats, so the planner's only safe default is to SHUFFLE
    // the TABLE-SIZED snapshot by key on every commit — exactly the
    // cost model the copy-on-write design exists to avoid. With the
    // hint the snapshot streams: the touched probe is a broadcast
    // semi-probe over the pruned (file, key) projection and the rewrite
    // anti-join probes the touched files in place (the Delta MERGE
    // discipline: matched-key sets broadcast, tables never re-shuffle).
    val keys = keyCounts.select(keyCol)
    // ONE driver job serves the unique-key gate AND the touched-file
    // probe (r22): the gate's limit(1) and the probe's distinct file
    // list ride a tagged union, so the lazily-checkpointed keyCounts
    // materializes inside the same action instead of one job each —
    // the streaming CDC sink pays this per micro-batch. The gate still
    // fails BEFORE anything is staged, with the identical message.
    val gateAndTouched = keyCounts
      .filter(col(cntAlias) > 1 || col(keyCol).isNull)
      .limit(1)
      .select(lit("bad").as("_t"), col(keyCol).cast("string").as("_v"),
        col(cntAlias).cast("string").as("_n"))
      .unionAll(snapshot
        .select(input_file_name().as("_f"), col(keyCol))
        .join(broadcast(keys), keyCol)
        .select("_f").distinct()
        .select(lit("file").as("_t"), col("_f").as("_v"),
          lit(null).cast("string").as("_n")))
      .collect()
    val badKey = gateAndTouched.filter(_.getString(0) == "bad")
    require(badKey.isEmpty,
      s"upsert batch violates the unique-key contract on '$keyCol': " +
        s"${if (badKey.head.isNullAt(1)) "null key present"
          else s"key ${badKey.head.getString(1)} appears ${badKey.head.getString(2)}×"}" +
        " — dedup the batch (e.g. row_number over arrival order) first")
    val touched = gateAndTouched.iterator
      .filter(_.getString(0) == "file")
      .map(r => new Path(new java.net.URI(r.getString(1))).getName)
      .toSet

    val staging = new Path(table, s"_stage_${java.util.UUID.randomUUID}")
    val rewritten =
      if (touched.isEmpty) {
        // Insert-only: stage just the new batch (widened column order).
        updates.select(outCols.map(col): _*).write.parquet(staging.toString)
        adoptStaged(spark, table, staging)
      } else {
        // Survivors of rewritten files take the widened schema too —
        // null-filled on BOTH flanks: a touched file written before an
        // earlier evolution may itself lack columns the snapshot has
        // (null-cast them in), and rows the batch did not touch lack the
        // batch's added columns (allowMissingColumns null-fills those).
        val touchedDf0 = spark.read
          .option("mergeSchema", priorMerge.toString).parquet(
            touched.toSeq.map(new Path(table, _).toString): _*)
        val touchedDf = snapshot.schema.fields.foldLeft(touchedDf0) {
          (df, f) =>
            if (df.columns.contains(f.name)) df
            else df.withColumn(f.name, lit(null).cast(f.dataType))
        }
        touchedDf
          .join(broadcast(keys), Seq(keyCol), "left_anti")
          .select(snapshot.columns.map(col).toIndexedSeq: _*)
          .unionByName(updates.select(outCols.map(col): _*),
            allowMissingColumns = true)
          .select(outCols.map(col): _*)
          .write.parquet(staging.toString)
        adoptStaged(spark, table, staging)
      }
    val next = current.filterNot(touched) ++ rewritten
    // The merge flag is STICKY while any pre-evolution file remains
    // listed: it clears only when a rewrite has replaced them all (an
    // insert-only batch keeps every current file, so it carries the flag).
    val stillMixed = priorMerge && current.exists(f => !touched(f))
    commitManifest(spark, table, v + 1, next,
      merge = stillMixed || added.nonEmpty)
    v + 1
  }

  /** Change-data-feed between two committed versions — WITHOUT reading
    * either snapshot. The copy-on-write invariant makes file-level
    * pruning sound: a data file carried from one manifest to the next is
    * the SAME file (upserts rewrite key-containing files under fresh
    * names and never touch the rest), so every changed row lives in a
    * file ADDED since `fromV` or REMOVED since `fromV` — reading those
    * two file sets sees every insert/update/delete, and the cost is
    * ∝ changed bytes, never table bytes (the Delta CDF / Iceberg
    * incremental-read shape; a snapshot-vs-snapshot join would re-scan
    * the whole table to rediscover what the manifests already know).
    *
    * Classification (requires `keyCol` unique per snapshot — the
    * invariant the CDC MERGE sink maintains): key only in added files →
    * `insert`; only in removed files → `delete`; in both with any
    * column changed → `update`; in both byte-equal → a carried survivor
    * row inside a rewritten file, not a change — dropped. Output: one
    * row per change, `change_type` + the post-image (pre-image for
    * deletes) in `toV`'s column set (additive evolution means fromV's
    * columns are a subset; missing ones null-fill on the pre side). */
  def diff(spark: SparkSession, tablePath: String, fromV: Long, toV: Long,
      keyCol: String): DataFrame = {
    require(fromV < toV, s"diff needs fromV < toV, got $fromV -> $toV")
    val table = new Path(tablePath)
    val fromM = readManifestData(spark, table, fromV)
    val toM = readManifestData(spark, table, toV)
    val (fromFiles, toFiles) = (fromM.files, toM.files)
    val added = toFiles.filterNot(fromFiles.toSet)
    val removed = fromFiles.filterNot(toFiles.toSet)
    def readSide(files: Seq[String], merge: Boolean,
        fallbackV: Long): DataFrame =
      if (files.nonEmpty)
        spark.read.option("mergeSchema", merge.toString)
          .parquet(files.map(new Path(table, _).toString): _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, tablePath, Some(fallbackV)).schema)
    val post0 = readSide(added, toM.merge, toV)
    val pre0 = readSide(removed, fromM.merge, fromV)
    val outCols = post0.columns.toIndexedSeq
    // additive evolution: pre may lack columns post has — null-cast in
    val pre = post0.schema.fields.foldLeft(pre0) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val dataCols = outCols.filterNot(_ == keyCol)
    val p = post0.select(col(keyCol),
      struct(dataCols.map(col): _*).as("_post"))
    val q = pre.select(col(keyCol),
      struct(dataCols.map(col): _*).as("_pre"))
    p.join(q, Seq(keyCol), "full_outer")
      .withColumn("change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(!(col("_pre") <=> col("_post")), "update"))
      .filter(col("change_type").isNotNull)
      .select(col("change_type") +: col(keyCol) +:
        // image choice keys on WHICH STRUCT is null (delete → pre),
        // never per-field coalesce — an update legitimately setting a
        // column to null must not resurrect the pre-image value
        dataCols.map(c => when(col("_post").isNull, col(s"_pre.$c"))
          .otherwise(col(s"_post.$c")).as(c)): _*)
  }

  /** Bin-pack compaction (the OPTIMIZE maintenance op): rewrite every
    * data file smaller than `smallerThan` into ~`targetBytes` files and
    * commit the result as a NEW version — data identical, prior
    * versions untouched (their manifests still reference the small
    * files until [[vacuum]]). Small files are the tax every streaming /
    * frequent-upsert table pays (the CDC MERGE sink commits one version
    * per micro-batch); at 10⁵ files the per-file open/footer cost
    * dominates scans, so compaction is what keeps a 100 TB table
    * readable. Shuffle-free: the rewrite is a `coalesce`, so compaction
    * moves bytes once and never hash-partitions them. Compacted files
    * are written through a mergeSchema read — if every pre-evolution
    * file gets compacted, the new version's files share one widened
    * schema and the sticky merge flag finally clears. Returns the new
    * version, or the current one unchanged when fewer than two files
    * qualify (nothing to pack). */
  def optimize(spark: SparkSession, tablePath: String,
      smallerThan: Long = Long.MaxValue,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val v = currentVersion(spark, tablePath).getOrElse(
      sys.error(s"$tablePath is not a versioned table"))
    val manifest = readManifestData(spark, table, v)
    val (files, priorMerge) = (manifest.files, manifest.merge)
    // One LIST of the table directory, not one getFileStatus RPC per
    // manifest entry: on a 10⁵-file object-store table the per-entry
    // probes are 10⁵ sequential HEADs before any work starts — exactly
    // the cost the _latest_hint machinery exists to avoid.
    val lengths = fs.listStatus(table).iterator
      .filter(_.isFile).map(st => st.getPath.getName -> st.getLen).toMap
    val sized = files.map(f => f -> lengths.getOrElse(f,
      fs.getFileStatus(new Path(table, f)).getLen))
    val (small, big) = sized.partition(_._2 < smallerThan)
    if (small.size < 2) return v
    val totalBytes = small.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val staging = new Path(table, s"_stage_${java.util.UUID.randomUUID}")
    spark.read.option("mergeSchema", priorMerge.toString)
      .parquet(small.map(f => new Path(table, f._1).toString): _*)
      .coalesce(nOut)
      .write.parquet(staging.toString)
    val packed = adoptStaged(spark, table, staging)
    commitManifest(spark, table, v + 1, big.map(_._1) ++ packed,
      merge = priorMerge && big.nonEmpty)
    v + 1
  }

  /** Drop every version below `keepFrom`, then delete data files no
    * surviving manifest references. Returns the number of data files
    * deleted. Time travel below `keepFrom` stops working — that is the
    * point: bounded storage.
    *
    * `graceMs`: unreferenced files YOUNGER than this are kept. An
    * in-flight upsert adopts its data files into the table directory
    * BEFORE its manifest commits; with no grace window a concurrent
    * vacuum would see them as orphans and delete them out from under
    * the commit (the same reason production table formats gate physical
    * deletion on file age). Pass 0 only when no writer can be active.
    *
    * SIZE graceMs ABOVE THE MAXIMUM EXPECTED WRITE DURATION — it also
    * age-gates `_stage_` dirs and `.claim` files (below), whose mtimes
    * stop advancing once their last entry lands: a snapshot rewrite or
    * commit that outlives the window loses its staging/claim mid-flight.
    * The commit path NARROWS the resulting hazard (each writer
    * re-verifies claim ownership by content immediately before the
    * manifest rename and aborts loudly rather than overwrite — see
    * commitManifest), but a check-then-rename window remains on
    * filesystems without atomic no-replace rename, so an undersized
    * window still risks a lost manifest under a writer stall in exactly
    * that window, on top of the guaranteed availability cost of the
    * aborted writer's retried work. The grace window is the real
    * protection; the ownership check is defense in depth. */
  def vacuum(spark: SparkSession, tablePath: String, keepFrom: Long,
      graceMs: Long = 3600000L): Int = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val newest = currentVersion(spark, tablePath).getOrElse(
      sys.error(s"$tablePath is not a versioned table"))
    require(keepFrom <= newest, s"keepFrom $keepFrom > newest $newest")
    val (drop, keep) = (0L to newest)
      .filter(v => fs.exists(manifestPath(table, v)))
      .partition(_ < keepFrom)
    val referenced = keep.flatMap(readManifest(spark, table, _)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val listing = fs.listStatus(table)
    val dead = listing
      .filter(st => st.getPath.getName.endsWith(".parquet") &&
        !referenced(st.getPath.getName) &&
        st.getModificationTime < cutoff)
      .map(_.getPath)
    dead.foreach(p => require(fs.delete(p, false) || !fs.exists(p),
      s"vacuum: delete $p failed"))
    // Crashed-writer debris, age-gated by the same grace window (this
    // IS the sanctioned cleanup path the commit protocol's scaladoc
    // defers to): a writer that died between staging and adoption
    // leaves a full `_stage_<uuid>` directory of parquet bytes — which
    // the *.parquet filter above never touches — and one that died
    // between claim and commit leaves a `.claim` file that LOUDLY
    // blocks its version slot forever. Both survive every vacuum
    // otherwise: unbounded storage from the op meant to bound it. A
    // LIVE writer's stage/claim is seconds old; the grace window keeps
    // it safe exactly as it keeps just-adopted data files safe.
    listing
      .filter(st => st.getPath.getName.startsWith("_stage_") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val mDir = manifestDir(table)
    if (fs.exists(mDir)) fs.listStatus(mDir)
      .filter { st =>
        val n = st.getPath.getName
        val deadClaim =
          n.endsWith(".claim") && st.getModificationTime < cutoff &&
            // only a claim whose manifest never landed is a dead writer's;
            // a committed version's claim is deleted by commitManifest
            n.stripSuffix(".claim").drop(1).toLongOption
              .exists(v => !fs.exists(manifestPath(table, v)))
        // a writer dead between creating and renaming a hint/manifest
        // temp leaks it forever otherwise — no other path sweeps them
        val deadTemp = (n.startsWith(".hint-") || n.startsWith(".tmp-")) &&
          st.getModificationTime < cutoff
        deadClaim || deadTemp
      }
      .foreach(st => fs.delete(st.getPath, false))
    drop.foreach(v => fs.delete(manifestPath(table, v), false))
    dead.length
  }
}
