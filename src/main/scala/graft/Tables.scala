package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * code runs on sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and,
  * unchanged, on a real cluster path at 100 TB: `spark.read.parquet` scans
  * are split by Spark's FileSourceScanExec, so nothing here assumes
  * single-node data.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

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

  /** The events file at `path` as stored, read under [[NanosFlag]]: its
    * schema is the vintage probe — `ts` is LongType for the nanos
    * vintage, TIMESTAMP_NTZ for the micros one. The schema comes from one
    * footer read on the driver (the first of
    * [[graft.streaming.StreamingOps.parquetParts]]), converted as Spark's
    * schema inference converts it, and the read takes it explicitly, so
    * the probe starts no Spark job. */
  def eventsFile(s: SparkSession, path: String): DataFrame = {
    val r = nanosReader(s)
    val part = new org.apache.hadoop.fs.Path(
      graft.streaming.StreamingOps.parquetParts(path).head.toString)
    val footer = scala.util.Using.resource(ParquetFileReader.open(
      HadoopInputFile.fromPath(part, r.sessionState.newHadoopConf())))(_.getFooter)
    r.read.schema(new ParquetToSparkSchemaConverter(r.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)).parquet(path)
  }

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
