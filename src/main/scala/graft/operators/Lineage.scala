package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one seam for pinning frames, making child sessions and moving
  * frames between sessions.
  *
  * Pinning: `localCheckpoint()` stores blocks on executors — fast, but
  * the blocks die with an executor, so on a real cluster one executor
  * loss kills every later read with an unrecoverable "checkpoint block
  * not found". When the caller has configured a RELIABLE checkpoint
  * directory (`sparkContext.setCheckpointDir`, an HDFS/object-store path
  * on a cluster), every pin writes there instead: blocks survive
  * executor loss and recovery re-reads them rather than replaying the
  * lineage. Without a configured dir the fast local path is kept — the
  * right default on local[...] where "executor loss" means the JVM is
  * gone anyway.
  *
  * Child sessions (`newSession`: shared SparkContext, cache and data,
  * separate SQLConf) carry per-query conf — a graph-sized shuffle width,
  * a parquet read flag, an injected strategy — so concurrent queries on
  * the caller's session never observe it.
  */
object Lineage {
  /** Parent-session key that overrides every derived child-session
    * width ([[width]]). It exists for `Verify --perturb`, whose jittered
    * `spark.sql.shuffle.partitions` would otherwise never reach the
    * child sessions (at verification scale every derivation is a
    * constant 1-2), and for deployment tuning. */
  val WidthKey = "graft.child.shufflePartitions"

  /** Truncate `df`'s lineage: reliable `checkpoint(eager)` when the
    * session's context has a checkpoint dir configured,
    * `localCheckpoint(eager)` otherwise. An eager pin materializes now;
    * a lazy one on the first action that reads it.
    *
    * Checkpoint-file hygiene on the reliable path: each pin writes a new
    * rdd-N directory and Spark only deletes superseded ones when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
    * ContextCleaner reclaims them as the RDDs are GC'd); long-running
    * clusters should set that alongside the checkpoint dir. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      df.localCheckpoint(eager)
    else if (eager) {
      // Persist before checkpointing (Spark's own RDD.checkpoint
      // guidance): Dataset.checkpoint materializes with a count job and
      // the ReliableCheckpointRDD write job then REPLAYS the lineage a
      // second time unless the plan is cached. Unpersist after: the
      // returned frame reads from the checkpoint files, not the cache.
      val cached = df.persist()
      try cached.checkpoint() finally cached.unpersist()
    } else df.checkpoint(eager = false)

  /** A child session of `parent` with `confs` set on it. */
  def child(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val s = parent.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Child-session shuffle width: the [[WidthKey]] override when the
    * parent sets it, else the caller's size estimate `derived` capped at
    * the parent's `spark.sql.shuffle.partitions`. */
  def width(parent: SparkSession, derived: Long): Int =
    parent.conf.getOption(WidthKey).filter(_.trim.nonEmpty)
      .map(_.trim.toInt)
      .getOrElse(math.min(derived,
        parent.conf.get("spark.sql.shuffle.partitions").toLong).toInt)

  /** A child session at [[width]], as seen from inside [[withWidth]]. */
  final class Child private[Lineage] (val session: SparkSession,
      val width: Int) {
    private[Lineage] val cached = scala.collection.mutable.Buffer.empty[DataFrame]

    /** Re-root a pinned or persisted parent frame into the child,
      * coalesced to the child width (the parent frame holds the
      * parent's partition count; without the coalesce every child
      * action re-scans all of them as separate tasks). */
    def adopt(df: DataFrame): DataFrame = reroot(df, session).coalesce(width)

    /** Persist a child frame until the body's result is pinned. */
    def persist(df: DataFrame): DataFrame = { cached += df; df.persist() }
  }

  /** Run `body` in a child session whose shuffle width is
    * [[width]]`(parent, derived)` — for work on a graph or record set
    * orders of magnitude smaller than the corpus the parent's width is
    * sized for, where per-partition fixed costs dominate every round.
    * The body's result is pinned eagerly, the child's caches released
    * (also when the body throws), and the result re-rooted in `parent`,
    * so anything a caller chains onto it plans at the parent's width
    * again. */
  def withWidth(parent: SparkSession, derived: Long)(
      body: Child => DataFrame): DataFrame = {
    val n = width(parent, derived)
    val c = new Child(child(parent, "spark.sql.shuffle.partitions" -> n.toString), n)
    val result = try pin(body(c)) finally c.cached.foreach(_.unpersist())
    reroot(result, parent)
  }

  /** Rebuild a materialized frame in session `to` through its rows.
    * The new frame has FRESH attribute ids, so it can be joined back
    * against the frame it was derived from. */
  private[graft] def reroot(df: DataFrame, to: SparkSession): DataFrame =
    to.createDataFrame(df.rdd, df.schema)
}
