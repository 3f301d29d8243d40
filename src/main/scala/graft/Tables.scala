package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and
  * [[parquet]], the one reader every non-merge parquet read in the
  * engine goes through.
  *
  * All queries take the scale-factor directory as a parameter so the same
  * code runs on sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and,
  * unchanged, on a real cluster path at 100 TB: [[parquet]] reads one
  * footer on the driver and hands Spark the schema, and the scan is
  * split by Spark's FileSourceScanExec, so nothing here assumes
  * single-node data.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    * Spark's non-merge inference reads exactly one footer, the first
    * data file by path (hidden `_`/`.` names skipped), in a one-task
    * job: a MapReduce round that computes nothing. Here the driver reads
    * that footer itself and converts it as the inference does, with
    * `ParquetFileFormat.readSchemaFromFooter`: a Spark-written file's
    * stored row schema is taken as it stands (field metadata included),
    * any other footer is converted under `s`'s SQLConf (so flags such as
    * `nanosAsLong` hold). The read then takes that schema: one footer
    * read at any scale, no job. Files are listed
    * through the path's Hadoop `FileSystem`, so any scheme Spark reads
    * works.
    *
    * Spark's own read runs instead, errors included, where one footer
    * is not the whole answer: schema merging on in `s`, data files in
    * subdirectories (a `partitionBy` layout, whose partition columns
    * the inference adds), a summary file (`_metadata`,
    * `_common_metadata`, which the inference prefers), no data file, or
    * a path or footer this probe cannot read. */
  def parquet(s: SparkSession, paths: String*): DataFrame =
    footerSchema(s, paths)
      .fold(s.read.parquet(paths: _*))(s.read.schema(_).parquet(paths: _*))

  private def footerSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = s.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try {
      val hadoopConf = s.sessionState.newHadoopConf()
      val files = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hadoopConf)
        val st = fs.getFileStatus(path)
        if (st.isDirectory) fs.listStatus(path).toSeq else Seq(st)
      }.filterNot(f => hidden(f.getPath.getName))
      if (files.exists(f => f.isDirectory || summary(f.getPath.getName))) None
      else files.sortBy(_.getPath.toString).headOption.map { f =>
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(conf))
      }
    }.toOption.flatten
  }

  /** Spark's file-index rule: `_`/`.` names are not data (a `_k=v`
    * partition directory is), nor are in-flight `._COPYING_` copies;
    * the parquet summary files are listed. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summary(name)

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical vintages, and the
    * tables may be regenerated in either, so every events reader (this
    * loader and [[graft.streaming.StreamingOps.readEventsStream]])
    * detects which one it was handed through [[eventsFile]] and
    * normalizes through [[eventsTs]] rather than assuming either:
    *
    *   - TIMESTAMP(NANOS): Spark's parquet reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]) unless the `nanosAsLong` legacy flag is
    *     set, under which it surfaces as LongType;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads natively as
    *     TIMESTAMP_NTZ.
    *
    * The `nanosAsLong` flag is pinned in a child session
    * ([[nanosReader]]), NEVER set on the caller's session; it is a no-op
    * for the micros vintage. The returned frame is rooted in the child;
    * the parquet scan resolves its hadoop conf from the relation's own
    * session, so the flag holds wherever the frame is consumed. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsFile(s, s"$d/events.parquet")
    raw.withColumn("ts", eventsTs(raw.schema("ts").dataType))
  }

  /** The events file at `path` as stored, read under [[NanosFlag]]
    * through [[parquet]]: its schema is the vintage probe — `ts` is
    * LongType for the nanos vintage, TIMESTAMP_NTZ for the micros one —
    * and the probe starts no Spark job. */
  def eventsFile(s: SparkSession, path: String): DataFrame =
    parquet(nanosReader(s), path)

  /** `ts` as TimestampType from its stored type `tsType`: nanos-as-long
    * by integer division (a double-typed `/ 1000` would lose precision
    * on ~1.7e18 ns values); TIMESTAMP_NTZ by a cast, an exact identity on
    * the instant because every session here pins UTC. */
  def eventsTs(tsType: DataType): Column = tsType match {
    case LongType => timestamp_micros(expr("ts div 1000"))
    case TimestampNTZType => col("ts").cast("timestamp")
    case _ => col("ts")
  }

  /** Reads TIMESTAMP(NANOS) parquet columns as longs. */
  val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  /** `s` when it already carries [[NanosFlag]], else a child session
    * that does (shared SparkContext and cache, separate SQLConf). */
  def nanosReader(s: SparkSession): SparkSession =
    if (s.conf.getOption(NanosFlag).contains("true")) s
    else graft.operators.Lineage.child(s, NanosFlag -> "true")

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
