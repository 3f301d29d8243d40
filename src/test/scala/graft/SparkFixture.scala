package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one lazy session per suite, UTC,
  * small shuffle fan-out (matches build.sbt javaOptions), and the
  * bounded-window warning silenced like Bench and Verify do. */
trait SparkFixture { self: AnyFunSuite =>
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // StreamingSpec's state-eviction assertions (numRowsRemoved > 0)
      // need the watermark-triggered no-data micro-batch to run before
      // processAllAvailable returns; pin the config so the eviction batch
      // is guaranteed by configuration, not by a default that could drift.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      .getOrCreate()
    Logs.suppressBoundedWindowWarning()
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
}
