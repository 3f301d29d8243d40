package graft.tools

import graft.{Bench, Scale}
import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev-loop tool (test scope only): repeated isolated runs of the gated
  * exact threshold histogram on a scaled near-dup corpus, with per-run
  * spill / GC / peak-memory task metrics — to attribute the measured
  * 56–101 s run-to-run wall variance (PERF_NOTES r13 cont. 2) to a
  * concrete resource before deciding between a verify-batch cap and a
  * floor raise (r13 verdict item 6).
  *
  *   sbt "Test/runMain graft.tools.ProfileHist [scale] [srcDir] [runs]"
  */
object ProfileHist {

  private class Metrics extends SparkListener {
    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    @volatile var gcMs = 0L
    @volatile var peak = 0L
    @volatile var shuffleWrite = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        gcMs += m.jvmGCTime
        peak = math.max(peak, m.peakExecutionMemory)
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def reset(): Unit = synchronized {
      memSpill = 0; diskSpill = 0; gcMs = 0; peak = 0; shuffleWrite = 0
    }
  }

  def main(args: Array[String]): Unit = {
    val scale = if (args.length > 0) args(0).toInt else 10
    val srcDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 4
    val shufParts = if (args.length > 3) args(3) else "32"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    val work = java.nio.file.Files.createTempDirectory("graft_prof_hist")
    val dir = work.resolve(s"x$scale").toString
    Scale.replicate(spark, srcDir, scale, dir, Seq("documents"), "neardup")
    def gb(b: Long): String = f"${b / 1e9}%7.2f GB"
    for (i <- 1 to runs) {
      m.reset()
      System.gc()
      val load0 = Bench.loadAvg()
      val t0 = System.nanoTime()
      val rows = Dedup.qJaccardHistogram(spark, dir).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROF run$i%-2d wall=$sec%7.2f s  memSpill=${gb(m.memSpill)}" +
        f"  diskSpill=${gb(m.diskSpill)}  shufWrite=${gb(m.shuffleWrite)}" +
        f"  gc=${m.gcMs / 1000.0}%6.1f s  peakTask=${gb(m.peak)}" +
        f"  load=$load0%5.2f  bands=${rows.length}")
    }
    spark.stop()
  }
}
