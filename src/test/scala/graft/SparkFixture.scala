package graft

import org.apache.spark.ListenerBusTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** The start event of every Spark job `body` runs, on any session of
    * this context: the bus is drained before the listener goes on and
    * again before it comes off, so no job of `body` is missed and none
    * from before it is counted. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    ListenerBusTestAccess.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusTestAccess.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.asScala.toSeq
  }
}
