package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source readers beyond parquet (SURVEY.md §1.3 — the reference's only
  * connector is local text; an engine a reference user can switch TO
  * needs the common at-rest formats too). All readers take an explicit
  * schema: schema inference is an extra full scan at 100 TB, so
  * production reads always declare their schema.
  *
  * Malformed records are captured, not dropped: PERMISSIVE mode routes
  * unparseable lines into a `_corrupt` column so a pipeline can count,
  * quarantine, or fail on them explicitly (SourcesSpec exercises this) —
  * silently losing rows is never acceptable in a training-data pipeline.
  */
object Sources {

  /** Schema + `_corrupt` capture column appended. */
  private def withCorrupt(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("_corrupt", StringType))

  def csv(s: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    s.read.schema(withCorrupt(schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)

  def json(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Newline-delimited text — the reference's input format
    * (thread_pool.cc:46-65); splitting/decoding is Spark's
    * FileSourceScanExec, not a per-chunk rescan. */
  def text(s: SparkSession, path: String): DataFrame = s.read.text(path)

  /** XML (built into Spark 4's spark-sql — no external connector):
    * `rowTag`-delimited records with the same PERMISSIVE corrupt-record
    * capture as csv/json. The legacy-feed format an engine migration
    * has to ingest at least once. */
  def xml(s: SparkSession, path: String, schema: StructType,
      rowTag: String = "row"): DataFrame =
    s.read.schema(withCorrupt(schema))
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .format("xml").load(path)

  /** ORC — the other columnar at-rest format; same pushdown/pruning
    * behavior as parquet (PushedFilters + ReadSchema in the scan). ORC
    * files are self-describing, but production reads still declare the
    * schema to pin evolution and skip footer inference. */
  def orc(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).orc(path)

  /** Rows whose raw record failed to parse. Spark disallows queries that
    * reference ONLY the corrupt column directly over raw files
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache or
    * write out the parsed frame first, which a quarantine step does
    * anyway. */
  def corruptRecords(df: DataFrame): DataFrame =
    df.filter(col("_corrupt").isNotNull)

  /** Successfully parsed rows, capture column dropped. */
  def validRecords(df: DataFrame): DataFrame =
    df.filter(col("_corrupt").isNull).drop("_corrupt")
}

/** Partitioned sinks: directory-partitioned parquet is the at-rest
  * layout that makes later scans prunable — a predicate on the partition
  * column becomes a PartitionFilter (no data files of other partitions
  * are even listed), which at 100 TB is the difference between reading
  * one partition and reading everything. */
object Sinks {

  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Size-bounded shard write: at most `maxRecordsPerFile` rows per
    * output file. Spark's writer rolls to a new file when the cap hits,
    * so file sizes are bounded WITHOUT a repartition — each task still
    * writes its own partition's rows. Bounded files are what a training
    * dataloader shards over. */
  def writeSharded(df: DataFrame, path: String,
      maxRecordsPerFile: Long): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)

  /** Small-file compaction — the data-lake maintenance op a streaming or
    * per-batch ingest makes necessary: thousands of KB-sized files per
    * day turn every later scan's task scheduling and footer-reading into
    * the bottleneck. Reads `srcPath`, coalesces to
    * ceil(totalBytes / targetFileBytes) output files, and rewrites to
    * `destPath` (a DIFFERENT directory: self-overwrite would delete the
    * input mid-read; callers atomically swap directories after success —
    * same recipe as the facade sink's per-attempt commit).
    *
    * `coalesce`, not `repartition`: compaction must not pay a shuffle —
    * it only narrows the task count, each output task reading whole
    * input files. Row order within files is not preserved (irrelevant
    * for unordered parquet shards). Returns the target file count. */
  def compact(s: SparkSession, srcPath: String, destPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val hadoopPath = new org.apache.hadoop.fs.Path(srcPath)
    val fs = hadoopPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // FS-qualified comparison, not raw URI paths: "warehouse/t" vs
    // "/cwd/warehouse/t" spell the SAME directory, and letting that
    // pair through means the overwrite write deletes the source before
    // the lazy read ever executes.
    require(fs.makeQualified(hadoopPath) !=
      fs.makeQualified(new org.apache.hadoop.fs.Path(destPath)),
      "compact: destPath must differ from srcPath (no in-place rewrite)")
    val totalBytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    graft.Tables.parquet(s, srcPath).coalesce(nFiles)
      .write.mode("overwrite").parquet(destPath)
    nFiles
  }
}
