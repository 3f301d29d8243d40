package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local properties the calling thread sets around each registry query;
    * every job submitted meanwhile (and every thread it starts) carries
    * them, so jobs are attributed to a query and phase exactly. */
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  /** Engine modules ranked by `module.<File>.jobs` / `.job_s`. Spark names
    * each job after its first call site outside Spark and Scala
    * (`zipWithIndex at MapReduceJob.scala:259`), which attributes it to
    * the engine file that submitted it. Only modules that a workload
    * runs are listed. */
  val Modules = Seq("Dedup", "StreamingOps", "CopyOnWrite", "MapReduceJob",
    "SparkEntry")
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  private[perfbench] final case class Job(id: Int, start: Long, query: String,
      phase: String, site: String, stageIds: Seq[Int]) { var end: Long = start }
  private[perfbench] final case class Stage(id: Int, attempt: Int, name: String,
      submitted: Long, completed: Long)
  private[perfbench] final case class Task(stage: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, deserMs: Long, delayMs: Long, peakMem: Long,
      inBytes: Long, inRecs: Long, outBytes: Long, outRecs: Long,
      readBytes: Long, fetchWaitMs: Long, writeBytes: Long, writeRecs: Long,
      writeNs: Long, spillBytes: Long)
  private[perfbench] final case class Phases(analysis: Long,
      optimization: Long, planning: Long)

  def moduleOf(site: String): String = site match {
    case SiteFile(f) => f
    case _ => ""
  }
}

/** Collects one pass's public Spark events: jobs, stages, tasks and block
  * updates from the scheduler bus, SQL executions, adaptive plan updates
  * and streaming progress from `onOtherEvent`, and planning phases from
  * `QueryExecution.tracker`. Everything stays in memory; [[summary]] and
  * [[spans]] read it after the session has stopped. */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val pins = mutable.LinkedHashMap.empty[String, Long]
  private val sqlStarts = mutable.LinkedHashMap.empty[Long, Long]
  private val plans = mutable.Map.empty[Long, SparkPlanInfo]
  private val progress = mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private val phases = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // A job is named after its result stage, whose name is the call site.
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, prop(QueryKey), prop(PhaseKey), site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      val r = m.shuffleReadMetrics
      val w = m.shuffleWriteMetrics
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.executorDeserializeTime, delay, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        r.totalBytesRead, r.fetchWaitTime, w.bytesWritten,
        w.recordsWritten, w.writeTime, m.diskBytesSpilled)
    }
  }

  /** A pin is an RDD block (`localCheckpoint`, `persist`, `cache`) stored
    * for the first time; its size is counted once. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val size = i.memSize + i.diskSize
    if (i.blockId.isRDD && i.storageLevel.isValid && size > 0 && !pins.contains(i.blockId.name))
      pins(i.blockId.name) = size
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts(s.executionId) = s.time
        plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans(u.executionId) = u.sparkPlanInfo
      case p: QueryProgressEvent =>
        progress += ((System.currentTimeMillis(), p.progress))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    phases += Phases(ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def countNodes(p: SparkPlanInfo, names: Set[String]): Int =
    (if (names(p.nodeName)) 1 else 0) + p.children.map(countNodes(_, names)).sum

  /** Length of the union of `[start, end]` intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total + curE - curS else total
  }

  /** Layer counters of one pass. `wallS` is the pass's measured time;
    * `ops` carries the build/action split the calling thread timed. */
  def summary(t0: Long, t1: Long, wallS: Double, ops: Seq[OpResult],
      facade: Boolean): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    def sum(f: Task => Long): Double = tasks.iterator.map(f).sum.toDouble
    val jobSpans = jobs.values.map(j => (j.start, math.max(j.start, j.end))).toSeq
    val runS = sum(_.runMs) / 1e3
    val lastProgress = progress.groupBy(_._2.runId).values.map(_.maxBy(_._1)._2)
    def dur(k: String) = progress.iterator
      .map(p => Option(p._2.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val base = Map(
      "trace.wall_s" -> wallS,
      "entry.build_s" -> ops.map(_.buildS).sum,
      "entry.action_s" -> ops.map(_.actionS).sum,
      "catalyst.analysis_s" -> phases.iterator.map(_.analysis).sum / 1e3,
      "catalyst.optimizer_s" -> phases.iterator.map(_.optimization).sum / 1e3,
      "catalyst.planning_s" -> phases.iterator.map(_.planning).sum / 1e3,
      "catalyst.sql_executions" -> sqlStarts.size.toDouble,
      "catalyst.exchanges" -> plans.values.map(countNodes(_, Set("Exchange"))).sum.toDouble,
      "catalyst.broadcasts" -> plans.values.map(countNodes(_, Set("BroadcastExchange"))).sum.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.driver_s" -> math.max(0.0, wallS - unionMs(jobSpans) / 1e3),
      "scheduler.delay_s" -> sum(_.delayMs) / 1e3,
      "scheduler.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "executor.run_s" -> runS,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "executor.deser_s" -> sum(_.deserMs) / 1e3,
      "executor.peak_mem_mb" -> tasks.iterator.map(_.peakMem).maxOption.getOrElse(0L) / mb,
      "shuffle.write_mb" -> sum(_.writeBytes) / mb,
      "shuffle.read_mb" -> sum(_.readBytes) / mb,
      "shuffle.records" -> sum(_.writeRecs),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.write_s" -> sum(_.writeNs) / 1e9,
      "shuffle.spill_mb" -> sum(_.spillBytes) / mb,
      "scan.input_mb" -> sum(_.inBytes) / mb,
      "scan.input_rows" -> sum(_.inRecs),
      "pins.blocks" -> pins.size.toDouble,
      "pins.mb" -> pins.values.sum / mb,
      "sources.output_mb" -> sum(_.outBytes) / mb,
      "sources.output_rows" -> sum(_.outRecs),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.state_rows" -> lastProgress.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> lastProgress.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / mb)
    val modules = Modules.flatMap { m =>
      val js = jobs.values.filter(j => moduleOf(j.site) == m)
      Seq(s"module.$m.jobs" -> js.size.toDouble,
        s"module.$m.job_s" -> js.map(j => j.end - j.start).sum / 1e3)
    }
    base ++ modules ++ (if (facade) facadeLayers else Map.empty)
  }

  /** The word-count job's own counters: its map stage writes the shuffle,
    * its reduce stage reads it. Ratios over the input are formed by the
    * caller, which knows the input's bytes and tokens. */
  private def facadeLayers: Map[String, Double] = {
    val mapStages = tasks.filter(_.writeBytes > 0).map(_.stage).toSet
    val reduceTasks = tasks.filter(_.readBytes > 0)
    val reduceStages = reduceTasks.map(_.stage).toSet
    def wall(ids: Set[Int]) = stages.filter(s => ids(s.id)).map(s => s.completed - s.submitted).sum / 1e3
    val reads = reduceTasks.map(_.readBytes.toDouble)
    Map(
      "facade.jobs" -> jobs.size.toDouble,
      "facade.input_bytes" -> tasks.iterator.map(_.inBytes).sum.toDouble,
      "facade.shuffle_records" -> tasks.iterator.map(_.writeRecs).sum.toDouble,
      "facade.reducer_skew" -> (if (reads.isEmpty) 0.0 else reads.max / (reads.sum / reads.size)),
      "facade.map_s" -> wall(mapStages),
      "facade.reduce_s" -> wall(reduceStages))
  }

  /** Spans of one pass: pass → query → {build, action} → job → stage.
    * Spans of one query share its id in `query`; counts sit on the span
    * they were measured at. `windows` holds (query, start, build end,
    * action end) in epoch ms, as the calling thread recorded them. */
  def spans(pass: Int, t0: Long, t1: Long,
      windows: Seq[(String, Long, Long, Long)]): Seq[Map[String, Any]] = synchronized {
    val passId = s"p$pass"
    val stageJob = jobs.values.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    def at(t: Long) = windows.find { case (_, a, _, c) => a <= t && t <= c }
      .map(w => s"$passId:${w._1}").getOrElse("")
    val sqlBy = sqlStarts.values.groupBy(at).map { case (k, v) => k -> v.size }
    // (query, phase) of each job; a job the calling thread did not label
    // (the facade sets no local properties) belongs to the window it
    // started in.
    val placed = jobs.values.map { j =>
      j.id -> (if (j.query.nonEmpty) (j.query, j.phase)
        else windows.collectFirst { case (n, a, b, c) if a <= j.start && j.start <= c =>
          (s"$passId:$n", if (j.start < b) "build" else "action") }.getOrElse(("", "")))
    }.toMap
    val out = mutable.ArrayBuffer[Map[String, Any]](Map("id" -> passId,
      "parent" -> null, "kind" -> "pass", "name" -> passId, "query" -> null,
      "start_ms" -> t0, "end_ms" -> t1,
      "counts" -> Map("jobs" -> jobs.size, "sql_executions" -> sqlStarts.size)))
    windows.foreach { case (name, a, b, c) =>
      val q = s"$passId:$name"
      val qJobs = placed.values.filter(_._1 == q)
      out += Map("id" -> q, "parent" -> passId, "kind" -> "query", "name" -> name,
        "query" -> q, "start_ms" -> a, "end_ms" -> c,
        "counts" -> Map("jobs" -> qJobs.size, "sql_executions" -> sqlBy.getOrElse(q, 0)))
      Seq(("build", a, b), ("action", b, c)).foreach { case (ph, s, e) =>
        out += Map("id" -> s"$q/$ph", "parent" -> q, "kind" -> ph, "name" -> ph,
          "query" -> q, "start_ms" -> s, "end_ms" -> e,
          "counts" -> Map("jobs" -> qJobs.count(_._2 == ph)))
      }
    }
    jobs.values.foreach { j =>
      val (q, ph) = placed(j.id)
      val parent = if (q.isEmpty) passId else if (ph.isEmpty) q else s"$q/$ph"
      out += Map("id" -> s"$passId/job${j.id}", "parent" -> parent, "kind" -> "job",
        "name" -> j.site, "query" -> q, "start_ms" -> j.start, "end_ms" -> j.end,
        "counts" -> Map("stages" -> j.stageIds.size))
    }
    stages.foreach { s =>
      val job = stageJob.get(s.id)
      val ts = tasks.filter(_.stage == s.id)
      out += Map("id" -> s"$passId/stage${s.id}.${s.attempt}",
        "parent" -> job.map(j => s"$passId/job$j").getOrElse(passId), "kind" -> "stage",
        "name" -> s.name, "query" -> job.map(j => placed(j)._1).getOrElse(""),
        "start_ms" -> s.submitted, "end_ms" -> s.completed,
        "counts" -> Map("tasks" -> ts.size, "input_bytes" -> ts.map(_.inBytes).sum,
          "shuffle_read_bytes" -> ts.map(_.readBytes).sum,
          "shuffle_write_bytes" -> ts.map(_.writeBytes).sum,
          "shuffle_write_records" -> ts.map(_.writeRecs).sum))
    }
    out.toSeq
  }
}
