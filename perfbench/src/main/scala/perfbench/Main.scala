package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark harness's JVM side: one JVM per run, a closed loop on
  * one thread, one operation at a time, through the engine's public
  * entry points only (`graft.facade.MapReduceJob`, `graft.SparkEntry`,
  * `graft.Bench.calibrate`).
  *
  * `perfbench/run.py` generates the inputs, starts this class and checks
  * what it leaves in the work directory:
  *   - `result.json`: timings, host context and (traced) layer counters;
  *   - `results/pass<k>/<query>/` (parquet, as `graft.Verify` writes
  *     it; `<query>.error` when the query threw) or `out/pass<k>/`:
  *     every output, for the oracle and reference-layout checks;
  *   - `oracle_sql.json`: `SparkEntry.oracleSql` for the queries run;
  *   - `trace.jsonl`: spans, written once the run ends (traced runs).
  *
  * Pass 0 is the warm-up and belongs to set-up: it compiles the code
  * paths, fills the engine's on-disk caches and records every output for
  * checking. Timed passes follow until `--seconds` have been measured
  * and at least the workload's [[Workload.minPasses]] have run;
  * each gets a fresh SparkSession, as `graft.Bench` does, so SparkContext
  * state from one pass never taxes the next. Registry results are held
  * in memory and written after the last timed pass, in an untraced
  * session, so writing them is neither timed nor traced.
  */
object Main {

  final case class Opts(kind: String, work: Path, seconds: Double,
      trace: Boolean, cores: Int, data: String, queries: Seq[String],
      text: String, reducers: Int)

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("kind"), Paths.get(kv("work")).toAbsolutePath,
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      kv.getOrElse("data", ""),
      kv.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq,
      kv.getOrElse("text", ""), kv.getOrElse("reducers", "8").toInt)
    val context = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> o.cores,
      "load_start" -> loadAvg())
    val setupStart = System.nanoTime()
    val workload: Workload =
      if (o.kind == "facade") new FacadeWordCount(o) else new Registry(o)
    workload.warmUp()
    val cacheBuilds = countCacheEntries()
    val setupS = (System.nanoTime() - setupStart) / 1e9
    context("calib_start") = calibrate(o.cores)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val timedStart = System.nanoTime()
    while (passes.length < workload.minPasses || (System.nanoTime() - timedStart) / 1e9 < o.seconds)
      passes += workload.timedPass(passes.length + 1)
    context("calib_end") = calibrate(o.cores)
    context("load_end") = loadAvg()
    workload.writeResults()
    if (o.trace)
      Files.writeString(o.work.resolve("trace.jsonl"),
        passes.flatMap(_.spans).map(json).mkString("", "\n", "\n"))
    val result = Map[String, Any](
      "main_entry_ms" -> mainEntryMs,
      "setup_in_jvm_s" -> setupS,
      "cache_builds" -> cacheBuilds,
      "peak_rss_mb" -> peakRssMb(),
      "context" -> context.toMap,
      "passes" -> passes.map(_.toJson).toSeq)
    Files.writeString(o.work.resolve("result.json"), json(result))
  }

  def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  /** One SparkSession per pass, configured like `graft.Bench`'s sessions
    * (parallelism = cores, UTC, bounded UI retention) with the run's own
    * local and warehouse directories. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` in a fresh session, with a [[Tracer]] attached when the
    * run is traced. The session is stopped before returning, which drains
    * the listener bus, so the tracer has seen every event of the pass. */
  def inSession[T](o: Opts)(body: SparkSession => T): (T, Option[Tracer]) = {
    val spark = session(o)
    val tracer = if (o.trace) Some(new Tracer(o.cores)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    try (body(spark), tracer) finally spark.stop()
  }

  /** Outside any timed window: collect the garbage of the previous
    * operation and give the ContextCleaner work that queues a moment to
    * drain, so neither lands inside the next one (the `graft.Bench`
    * discipline). */
  def settle(): Unit = { System.gc(); Thread.sleep(50) }

  /** `graft.Bench.calibrate`, the host-speed probe, in its own session;
    * returns the probe's seconds and how long the call took. */
  private def calibrate(cores: Int): Seq[Double] = {
    val t = System.nanoTime()
    val probe = graft.Bench.calibrate(cores.toString)
    Seq(probe, (System.nanoTime() - t) / 1e9)
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }

  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** Entries of the engine's write-once artifact caches in this run's
    * private java.io.tmpdir: every `graft_*` root holds one directory per
    * cache key, named `{stem}_v{version}..._{bytes}_{mtime}`. The tmpdir
    * is fresh per run, so every entry was built by this run. */
  def countCacheEntries(): Int = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val key = "^.+_v\\d+(_.+)?_\\d+_\\d+$".r
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    list(tmp).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft_"))
      .flatMap(list).count(p => key.matches(p.getFileName.toString))
  }
}

/** What one timed pass reports. `ops` are per-operation latencies (a
  * registry query, or the whole word-count job). */
final case class PassResult(index: Int, wallS: Double, ops: Seq[OpResult],
    layers: Map[String, Double], spans: Seq[Map[String, Any]]) {
  def toJson: Map[String, Any] = Map(
    "pass" -> index, "wall_s" -> wallS, "ops" -> ops.map(_.toJson),
    "layers" -> layers)
}

final case class OpResult(name: String, buildS: Double, actionS: Double,
    error: Option[String]) {
  def toJson: Map[String, Any] = Map("name" -> name, "build_s" -> buildS,
    "action_s" -> actionS, "latency_s" -> (buildS + actionS),
    "error" -> error.orNull)
}

trait Workload {
  /** Every operation is timed at least this often, whatever `--seconds`,
    * so its median drops the passes that a burst of load from elsewhere
    * on the host slowed. */
  def minPasses: Int
  def warmUp(): Unit
  def timedPass(index: Int): PassResult
  /** Writes what the checks read and the timed passes only held. */
  def writeResults(): Unit = ()
}

/** `wordcount_mr`: the reference's one job through the facade's public
  * functions — text file → `MapReduceJob.wordCount` (FirstCharPartitioner)
  * → `MapReduceJob.writeReferenceLayout`. */
final class FacadeWordCount(o: Main.Opts) extends Workload {
  val minPasses = 3
  private def runJob(spark: SparkSession, input: String, out: Path): Unit = {
    val lines = spark.sparkContext.textFile(input)
    graft.facade.MapReduceJob.writeReferenceLayout(
      graft.facade.MapReduceJob.wordCount(lines, o.reducers), out.toString, "wc")
  }

  def warmUp(): Unit =
    Main.inSession(o.copy(trace = false)) { spark =>
      runJob(spark, o.text, o.work.resolve("out").resolve("warm"))
    }

  def timedPass(index: Int): PassResult = {
    Main.settle()
    val out = o.work.resolve("out").resolve(s"pass$index")
    val ((wall, t0, t1), tracer) = Main.inSession(o) { spark =>
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      runJob(spark, o.text, out)
      val w = (System.nanoTime() - t) / 1e9
      (w, startMs, System.currentTimeMillis())
    }
    val op = OpResult("wordcount", 0.0, wall, None)
    val layers = tracer.map(_.summary(t0, t1, wall, Seq(op), facade = true)).getOrElse(Map.empty)
    val spans = tracer.map(_.spans(index, t0, t1, Seq(("wordcount", t0, t0, t1)))).getOrElse(Nil)
    PassResult(index, wall, Seq(op), layers, spans)
  }
}

/** `registry_batch`: registry entries by name, in the order given, each
  * built by its `SparkEntry.queries` function and finished with
  * `collect()` — the result the benchmark then checks. */
final class Registry(o: Main.Opts) extends Workload {
  /** A registry pass is short and spends most of its time planning and
    * scheduling, and slow spells of the host or of the JIT span one or
    * two passes (the first timed pass is often still warming up), so
    * the median needs more passes than the word count's. */
  val minPasses = 5
  private val registry = graft.SparkEntry.queries
  private val unknown = o.queries.filterNot(registry.contains)
  require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")

  /** (pass, query, schema and rows, or the error) of every query run. */
  private val results =
    mutable.ArrayBuffer.empty[(Int, String, Either[String, (StructType, Array[Row])])]

  private def runPass(spark: SparkSession, index: Int,
      windows: mutable.Buffer[(String, Long, Long, Long)]): Seq[OpResult] =
    o.queries.map { name =>
      Main.settle()
      val id = s"p$index:$name"
      spark.sparkContext.setLocalProperty(Tracer.QueryKey, id)
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "build")
      val a = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var b = a
      val res = try {
        val df: DataFrame = registry(name)(spark, o.data)
        t1 = System.nanoTime()
        b = System.currentTimeMillis()
        spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "action")
        val rows = df.collect()
        Right((df.schema, rows))
      } catch { case e: Throwable => Left(e) }
      val t2 = System.nanoTime()
      val c = System.currentTimeMillis()
      if (t1 == t0) { t1 = t2; b = c }
      spark.sparkContext.setLocalProperty(Tracer.QueryKey, null)
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
      windows += ((name, a, b, c))
      val out = res.left.map(e =>
        s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      results += ((index, name, out))
      OpResult(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, out.left.toOption)
    }

  /** Every result as one parquet file, the way `graft.Verify` writes
    * them for `scripts/check_oracle.py`. */
  override def writeResults(): Unit =
    Main.inSession(o.copy(trace = false)) { spark =>
      results.foreach { case (index, name, res) =>
        val dir = o.work.resolve("results").resolve(s"pass$index")
        Files.createDirectories(dir)
        res match {
          case Right((schema, rows)) =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
          case Left(msg) => Files.writeString(dir.resolve(s"$name.error"), msg)
        }
      }
    }

  def warmUp(): Unit = {
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }
    Files.writeString(o.work.resolve("oracle_sql.json"), Main.json(sql))
    Main.inSession(o.copy(trace = false)) { spark =>
      runPass(spark, 0, mutable.Buffer.empty)
    }
  }

  def timedPass(index: Int): PassResult = {
    val windows = mutable.Buffer.empty[(String, Long, Long, Long)]
    val (((ops, wall), t0, t1), tracer) = Main.inSession(o) { spark =>
      val startMs = System.currentTimeMillis()
      val ops = runPass(spark, index, windows)
      // The pass's wall time is its operations' latencies: the settle
      // between operations is the benchmark's, not the engine's.
      ((ops, ops.map(op => op.buildS + op.actionS).sum), startMs, System.currentTimeMillis())
    }
    val layers = tracer.map(_.summary(t0, t1, wall, ops, facade = false)).getOrElse(Map.empty)
    val spans = tracer.map(_.spans(index, t0, t1, windows.toSeq)).getOrElse(Nil)
    PassResult(index, wall, ops, layers, spans)
  }
}
