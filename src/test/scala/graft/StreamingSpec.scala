package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("streaming tumbling counts equal the batch time-bucket query") {
    val streamed = StreamingOps
      .qStreamTumbling(spark, sf0001)
      .orderBy("bucket", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = operators.Relational.q11TimeBucket(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("a sentinel replay whose query emits no row returns an empty frame") {
    // every window finalizes in the zero-input batch, and the filter
    // drops it: the replay must still see its two micro-batches and end
    val quiet = StreamingOps.replayEventsAppend(spark, sf0001, "quiet")(
      StreamingOps.tumblingCounts(_).filter(col("n") < 0))
    assert(quiet.collect().isEmpty)
    assert(quiet.columns.toSeq === Seq("bucket", "event_type", "n", "sum_value"))
  }

  test("streaming anomaly detector equals the batch z-score query; one stateful op") {
    val streamed = StreamingOps.qStreamAnomaly(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = operators.Sessions.qHourlyAnomalies(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty || batch.isEmpty)
    // monitoring split: the profile is STATIC — the only streaming state
    // is the tumbling count itself (one stateOperators entry; the
    // broadcast profile join adds none).
    val child = spark.newSession()
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val profile = StreamingOps.anomalyProfile(Tables.events(child, sf0001))
    val q = StreamingOps
      .anomalyStream(StreamingOps.readEventsStream(child, sf0001), profile)
      .writeStream.format("memory")
      .queryName(s"anom_state_${System.nanoTime()}").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val progress = q.recentProgress
      assert(progress.nonEmpty)
      assert(progress.forall(_.stateOperators.length == 1),
        "anomaly stream must keep exactly the windowed-agg state")
    } finally q.stop()
  }

  test("parquet file sink: streamed projection equals the batch result") {
    val base = TmpDirs.scratch("graft_fsink")
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val streamed = StreamingOps.readEventsStream(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    StreamingOps.runToParquetSink(streamed, out, ckpt)
    val got = spark.read.parquet(out)
    val expected = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(got.count() === expected)
    assert(got.columns.toSet === Set("event_id", "user_id", "value"))
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = StreamingOps.qStreamStreamJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf0001)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .join(ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id")),
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("p_id", "v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrich equals the batch join and keeps no state") {
    val streamed = StreamingOps.qStreamEnrich(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = Tables.events(spark, sf0001)
      .filter(col("event_id") % 20 === 0)
      .join(Tables.customer(spark, sf0001),
        col("user_id") === col("c_custkey"), "left")
      .select("event_id", "user_id", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // No stateful operator: the static side re-plans per micro-batch —
    // nothing is checkpointed, unlike the stream-stream join above.
    val child = spark.newSession()
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val enriched = StreamingOps.enrichStream(
      StreamingOps.readEventsStream(child, sf0001),
      Tables.customer(child, sf0001)
        .select(col("c_custkey"), col("c_mktsegment")),
      "user_id", "c_custkey")
    val q = enriched.writeStream.format("memory")
      .queryName(s"enr_state_${System.nanoTime()}").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val progress = q.recentProgress
      assert(progress.nonEmpty)
      assert(progress.forall(_.stateOperators.isEmpty),
        "stream-static join must not instantiate state stores")
    } finally q.stop()
  }

  test("session windows merge within gap and split beyond it") {
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      (1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(5), 1L, "click", 2.0, "{}"),   // within 10m → same session
      (3L, ts(30), 1L, "click", 3.0, "{}"),  // 25m gap → new session
      (4L, ts(0), 2L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = StreamingOps.sessionCounts(events).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000, r.getLong(2)))
    assert(got.toSet === Set((1L, 0L, 2L), (1L, 30L, 1L), (2L, 0L, 1L)))
  }

  test("stateful sessionizer (flatMapGroupsWithState) closes sessions by gap") {
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      Event(1L, ts(0), 1L, "click", 1.0),
      Event(2L, ts(5), 1L, "click", 2.0),
      Event(3L, ts(30), 1L, "click", 3.0)).toDS()
    // batch run: sessions closed inline (no watermark progression needed
    // for the closed-by-successor path)
    val got = StreamingOps.statefulSessionize(events).collect()
    // first session (minutes 0-5, 2 events, sum 3.00 = 300 cents) closes
    // when the minute-30 event arrives; the open session is retained in
    // state. The state fold carries exact cent longs (q28 discipline).
    assert(got.map(u => (u.user_id, u.session_start, u.n_events, u.sum_cents))
      .toSet === Set((1L, 0L, 2L, 300L)))
  }

  test("stateful sessionizer carries MICROSECOND event time (gaps-and-islands parity, planted micros)") {
    // VERDICT r19 ask #4: the fixture-level driver gate red for two
    // rounds on session_start microsecond truncation (Timestamp.getTime
    // is epoch millis) while every in-repo check used whole-milli event
    // times. This spec plants sub-milli timestamps and pins BOTH:
    //   (a) full-precision equality of emitted session_start against
    //       the batch gaps-and-islands min(ts) over the same events;
    //   (b) the strict-gap compare running at micros: u2's second event
    //       lands 599_999_955 µs after the first (< 10 min) and MUST
    //       merge — under millis truncation the diff reads exactly
    //       600_000 ms and splits. Fails on pre-fix code both ways.
    def tsU(micros: Long) = {
      val t = new Timestamp(micros / 1000L)
      t.setNanos(((micros % 1000000L) * 1000L).toInt)
      t
    }
    val tenMinU = 600000000L
    val events = Seq(
      Event(1L, tsU(45L), 1L, "click", 1.0),
      Event(2L, tsU(5L * 60000000L + 999L), 1L, "click", 2.0),
      Event(3L, tsU(30L * 60000000L), 1L, "click", 3.0), // closes session 1
      Event(4L, tsU(45L), 2L, "view", 4.0),
      Event(5L, tsU(tenMinU), 2L, "view", 5.0),          // +599_999_955 µs → merge
      Event(6L, tsU(40L * 60000000L), 2L, "view", 6.0))  // closes u2's session
      .toDS()
    val got = StreamingOps.statefulSessionize(events).collect()
      .map(u => (u.user_id, u.session_start, u.n_events)).toSet
    assert(got === Set((1L, 45L, 2L), (2L, 45L, 2L)),
      "session_start must be epoch micros and the gap compare must run at micros")
    // (a) full-precision parity with the batch gaps-and-islands oracle
    // shape over the SAME events — compare as Spark timestamps (micros
    // native), restricted to closed-by-successor sessions (batch-mode
    // fMGWS never fires timeouts, so open tails are not emitted).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val islands = events.toDF()
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk", when(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") >= tenMinU, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))
    val lastIsland = islands.groupBy("user_id")
      .agg(max("island").as("island"))
    val batchClosed = islands.join(lastIsland, Seq("user_id", "island"),
        "left_anti")
      .select(col("user_id"), unix_micros(col("session_start")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchClosed === got,
      "emitted sessions must equal batch gaps-and-islands at FULL precision")
  }

  test("stateful sessionizer: event exactly AT the gap starts a NEW session (session_window boundary)") {
    // session_window's span is [start, lastTs + gap) — an event landing
    // exactly on lastTs + gap belongs to a new session. The fMGWS form
    // merges on strict < for the same boundary, which is what lets
    // stream_sessions_fmgws share the gaps-and-islands oracle verbatim.
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      Event(1L, ts(0), 1L, "click", 1.0),
      Event(2L, ts(10), 1L, "click", 2.0)).toDS() // exactly gap = 10 m later
    val got = StreamingOps.statefulSessionize(events).collect()
    assert(got.map(u => (u.user_id, u.session_start, u.n_events)).toSet ===
      Set((1L, 0L, 1L)))
  }

  test("trending terms: bounded heavy-hitter state per window equals batch counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(3600000L + min * 60000L)
    val mem = MemoryStream[(Timestamp, String)]
    val streamed = StreamingOps.trendingTerms(
      mem.toDF().toDF("ts", "event_type"), "event_type", capacity = 8)
    val name = s"trend_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window 1 (13:00): a×3, b×1; window 2 (14:00): b×2
      mem.addData((ts(0), "a"), (ts(1), "b"), (ts(2), "a"), (ts(3), "a"),
        (ts(61), "b"), (ts(62), "b"))
      q.processAllAvailable()
      // advance the watermark far enough to close both windows
      mem.addData((ts(400), "z"))
      q.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1.getTime, t._2)).toSeq
      assert(got === Seq(
        (ts(0), "a", 3L), (ts(0), "b", 1L),
        (new Timestamp(ts(60).getTime), "b", 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops repeats arriving within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(3600000L + min * 60000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val dedup = StreamingOps.streamingDedup(
      mem.toDF().toDF("event_id", "ts"), Seq("event_id"), "1 hour")
    val name = s"sdedup_${System.nanoTime()}"
    val q = dedup.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0)), (2L, ts(1)), (3L, ts(2)))
      q.processAllAvailable()
      // repeats of 2 and 3 in a later micro-batch, still inside the
      // watermark → suppressed; 4 is new → emitted
      mem.addData((2L, ts(3)), (3L, ts(4)), (4L, ts(5)))
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("session-window append mode evicts session state at the watermark") {
    // The 100 TB scale claim behind stream_sessions_append: session state
    // is EVICTED once the watermark passes a session's close, so state is
    // bounded by open sessions, not by stream history. Pin it via the
    // state-operator metrics: after a far-future event advances the
    // watermark past the first sessions, the store must report removals.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(min * 60000L)
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val sessions = StreamingOps.sessionCountsCore(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withWatermark("ts", "10 minutes"))
    val name = s"sessevict_${System.nanoTime()}"
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(0), 1L, "click", 1.0, "{}"),
        (2L, ts(5), 1L, "click", 2.0, "{}"),
        (3L, ts(0), 2L, "view", 3.0, "{}"))
      q.processAllAvailable()
      // Far-future event: watermark jumps past every open session's
      // close + gap, finalizing and EVICTING them.
      mem.addData((4L, ts(600), 3L, "click", 4.0, "{}"))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0,
        "watermark advance must remove finalized session rows from the " +
          "state store — otherwise session state grows with stream history")
      // The finalized sessions were emitted exactly once, correctly merged.
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getLong(2), r.getDouble(3))).toSet
      assert(got === Set((1L, 0L, 2L, 3.0), (2L, 0L, 1L, 3.0)))
      // Only user 3's still-open session may remain in state.
      val lastRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(lastRows.exists(_ <= 1),
        s"state should hold at most the one open session, got $lastRows")
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes offsets AND window state, exactly once") {
    // The cluster-operations property behind every streaming claim in
    // this library: kill a query mid-stream, restart from the same
    // checkpointLocation, and the result is as if it never stopped —
    // source offsets resume (no reprocessing), the state store recovers
    // partial windows (no loss), and the file sink's commit log
    // deduplicates output (no double-writes).
    val base = TmpDirs.scratch("graft_ckpt")
    val src = base.resolve("src").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP, k BIGINT")

    def feed(ids: Range): Unit = ids
      .map(i => (i.toLong, new Timestamp(i * 60000L), (i % 5).toLong))
      .toDF("id", "ts", "k")
      .write.mode("append").parquet(src)

    // Windowed count in append mode: rows are only emitted once their
    // 10-minute window is finalized by the watermark, so phase-1 leaves
    // the straddling window as in-flight STATE that the restart must
    // recover.
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 minutes"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("k"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }

    feed(1 to 50) // ts 1..50 min; window [50,60) stays open in state
    runOnce()
    val phase1 = spark.read.parquet(out).count()
    assert(phase1 > 0, "phase 1 must finalize some windows")

    feed(51 to 80)   // resumes: only the NEW file may be read
    feed(999 to 999) // far-future sentinel advances the watermark past 80
    runOnce()        // restart from the same checkpoint

    val got = spark.read.parquet(out)
      .filter(col("bucket") < new Timestamp(990 * 60000L))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val want = (1 to 80)
      .groupBy(i => (new Timestamp(i / 10 * 10 * 60000L), (i % 5).toLong))
      .view.mapValues(_.size.toLong).toMap
    // Equality catches every failure mode at once: lost state -> the
    // [50,60) window undercounts; replayed offsets or non-idempotent
    // sink -> phase-1 windows double; wrong resume -> missing windows.
    assert(got === want)
  }

  test("kafka decode maps the wire format onto the events schema") {
    // the batch frame below has the kafka source's (key, value) shape;
    // decodeEventsKafka must produce exactly readEventsStream's schema
    val wire = Seq(
      ("k1", """{"event_id":7,"ts":3600000000000,"user_id":42,"event_type":"view","value":1.5,"props":"{}"}"""),
      ("k2", """{"event_id":8,"ts":7200000000000,"user_id":42,"event_type":"purchase","value":2.0,"props":null}"""))
      .toDF("key", "value")
      .select(col("key").cast("binary"), col("value").cast("binary"))
    val got = StreamingOps.decodeEventsKafka(wire)
    assert(got.schema === StreamingOps.readEventsStream(spark, sf0001).schema)
    val rows = got.orderBy("event_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(7L, 8L))
    assert(rows(0).getTimestamp(1).getTime === 3600000L) // ns → µs → ms
    assert(rows(0).getString(3) === "view" && rows(1).getDouble(4) === 2.0)
  }

  test("kafka wire format end-to-end THROUGH the streaming engine: decode → tumbling agg") {
    // No broker/connector ships in this environment (zero egress, no
    // kafka jars under /opt/spark/jars), so an embedded-broker test
    // cannot even compile here. This is the strongest available
    // substitute: a MemoryStream emitting the kafka source's exact
    // (key, value) binary frame shape, run through decodeEventsKafka and
    // the tumbling aggregation UNDER readStream semantics (watermarks,
    // micro-batches, state) — not the batch shortcut — and compared to
    // the batch computation over the same decoded events.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def rec(id: Long, hour: Long, typ: String, v: Double): (String, String) =
      (s"k$id",
        s"""{"event_id":$id,"ts":${hour * 3600L * 1000000000L},"user_id":1,"event_type":"$typ","value":$v,"props":"{}"}""")
    val records = Seq(
      rec(1, 1, "view", 1.0), rec(2, 1, "view", 2.5), rec(3, 1, "click", 1.0),
      rec(4, 2, "view", 4.0), rec(5, 3, "click", 0.5))
    val mem = MemoryStream[(String, String)]
    val wireStream = mem.toDF().toDF("key", "value")
      .select(col("key").cast("binary"), col("value").cast("binary"))
    val counts = StreamingOps.tumblingCounts(
      StreamingOps.decodeEventsKafka(wireStream))
    val name = s"kafkawire_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      mem.addData(records: _*)
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val wireBatch = records.toDF("key", "value")
        .select(col("key").cast("binary"), col("value").cast("binary"))
      val want = StreamingOps.tumblingCounts(
        StreamingOps.decodeEventsKafka(wireBatch)).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got === want)
      assert(got((3600000L, "view")) === ((2L, 3.5)))
    } finally q.stop()
  }

  test("readEventsKafka requests the kafka source with the given options") {
    // no broker/connector in this environment: the constructor must fail
    // at source RESOLUTION (proving format("kafka") is what's requested),
    // not silently read something else
    val e = intercept[Exception] {
      StreamingOps.readEventsKafka(spark, "broker:9092", "events")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("left-outer interval join: unmatched purchases emit null views only after the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Long) = new Timestamp(h * 3600000L)
    // columns: event_id, ts, user_id, event_type
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val joined = StreamingOps.streamStreamLeftOuterJoin(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type"))
    val name = s"lojoin_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // user 1: view at 9h, purchase at 10h (matched within 1h)
      // user 2: purchase at 10h with NO view → outer row, later
      mem.addData((1L, ts(9), 1L, "view"), (2L, ts(10), 1L, "purchase"),
        (3L, ts(10), 2L, "purchase"))
      q.processAllAvailable()
      val early = spark.table(name).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      // matched pair emits immediately; the unmatched purchase must NOT
      // have emitted yet (watermark still at 10h − 2h = 8h)
      assert(early.toSet === Set((2L, 1L)))
      // the query watermark is the MIN across both watermarked branches
      // (view and purchase filters of the one stream), so BOTH sides
      // need a far-future event to advance it to 40h − 2h = 38h — well
      // past purchase 3's last matchable instant → outer row emits.
      // Distinct users (8 ≠ 9) keep the two advancing events unmatched.
      mem.addData((9L, ts(40), 9L, "view"), (10L, ts(40), 8L, "purchase"))
      q.processAllAvailable()
      val late = spark.table(name).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(late.toSet === Set((2L, 1L), (3L, -1L)))
    } finally q.stop()
  }

  test("sliding windows double-count each event across overlapping windows") {
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq((1L, ts(61), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = events
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1)))
    assert(got.toSet === Set((0L, 1L), (60L, 1L)))
  }

  /** A TIMESTAMP(NANOS) copy of the sf0.001 events table (the older
    * `ts` vintage; every fixture is the micros one), written with
    * parquet-mr so Spark's type mapping plays no part in the copy. */
  private lazy val nanosEventsDir: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("spark_schema")
    val dir = TmpDirs.scratch("graft_nanos_events")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Tables.events(spark, sf0001).collect().foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.append("event_id", r.getLong(0))
      if (!r.isNullAt(1))
        g.append("ts", StreamingOps.tsMicros(r.getTimestamp(1)) * 1000L)
      if (!r.isNullAt(2)) g.append("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.append("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    dir.toString
  }

  test("sentinel replays of a TIMESTAMP(NANOS) events table equal the micros original") {
    val nanosFile = s"$nanosEventsDir/events.parquet"
    assert(Tables.eventsFile(spark, nanosFile).schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    for (q <- Seq[(SparkSession, String) => DataFrame](
        StreamingOps.qStreamTumbling, StreamingOps.qStreamSessionsFmgws)) {
      def rows(dir: String) = q(spark, dir).collect().map(_.toSeq).toSeq
      val micros = rows(sf0001)
      assert(micros.nonEmpty)
      assert(rows(nanosEventsDir) === micros)
    }
  }

  test("the events vintage probe starts no Spark job, on either vintage or layout") {
    import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
    val parts = TmpDirs.scratch("graft_events_probe").resolve("events.parquet")
    Tables.events(spark, sf0001).repartition(2).write.parquet(parts.toString)
    for ((path, want) <- Seq[(String, DataType)](
        s"$sf0001/events.parquet" -> TimestampNTZType,
        s"$nanosEventsDir/events.parquet" -> LongType,
        parts.toString -> TimestampType)) {
      var ts: DataType = null
      assert(jobsDuring { ts = Tables.eventsFile(spark, path).schema("ts").dataType }.isEmpty, path)
      assert(ts === want, path)
    }
  }

  test("the events probe reads a Spark-written table's schema as Spark does, metadata included") {
    val note = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "spark row metadata").build()
    val path = TmpDirs.scratch("graft_events_meta").resolve("events.parquet").toString
    val events = Tables.events(spark, sf0001)
    events.withColumn("event_type", col("event_type").as("event_type", note))
      .repartition(2).write.parquet(path)
    val probed = Tables.eventsFile(spark, path).schema
    assert(probed === Tables.nanosReader(spark).read.parquet(path).schema)
    assert(probed("event_type").metadata === note)
  }

  test("replay children checkpoint through the FileSystem manager, checksums on") {
    import org.apache.spark.sql.execution.streaming.checkpointing.{
      CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val child = StreamingOps.replayChild(spark, sf0001)
    val ckpt = new org.apache.hadoop.fs.Path(
      TmpDirs.scratch("graft_replay_ckpt").toUri)
    assert(CheckpointFileManager.create(ckpt, child.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(CheckpointFileManager.create(ckpt, spark.sessionState.newHadoopConf())
      .getClass.getSimpleName === "FileContextBasedCheckpointFileManager")
    val checksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert(!child.conf.getAll.contains(checksum))
    assert(child.conf.get(checksum) === "true")
    // a sentinel replay through such a child keeps its two-batch shape
    // check (it throws otherwise) and the batch rows
    val streamed = StreamingOps.qStreamTumbling(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === operators.Relational.q11TimeBucket(spark, sf0001)
      .collect().map(_.toSeq).toSeq)
  }

  test("an events table written by Spark (a directory of part files) streams like the single file") {
    val dir = TmpDirs.scratch("graft_events_dir")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "customer.parquet"),
      dir.resolve("customer.parquet"))
    Tables.events(spark, sf0001).repartition(2)
      .write.parquet(dir.resolve("events.parquet").toString)
    for (q <- Seq[(SparkSession, String) => DataFrame](
        StreamingOps.qStreamTumbling, StreamingOps.qStreamEnrich)) {
      def rows(d: String) = q(spark, d).collect().map(_.toSeq).toSeq
      val file = rows(sf0001)
      assert(file.nonEmpty)
      assert(rows(dir.toString) === file)
    }
  }

  test("replay probes read a directory of part files like the single file") {
    val dir = TmpDirs.scratch("graft_events_parts")
    val events = dir.resolve("events.parquet")
    Tables.events(spark, sf0001).repartition(2).write.parquet(events.toString)
    val parts = scala.util.Using.resource(java.nio.file.Files.list(events))(
      _.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq)
    assert(parts.length === 2)
    assert(StreamingOps.replayBytes(dir.toString) ===
      parts.map(java.nio.file.Files.size).sum)
  }

  test("sentinel replays run the same Spark jobs on an INT96 events table as on the fixture") {
    // Spark's default writer: a directory whose `ts` is INT96, a column
    // parquet writes no footer min/max for
    val dir = TmpDirs.scratch("graft_events_int96")
    val events = dir.resolve("events.parquet")
    Tables.events(spark, sf0001).write.parquet(events.toString)
    val footer = scala.util.Using.resource(
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(
            StreamingOps.parquetParts(events.toString).head.toString),
          spark.sparkContext.hadoopConfiguration)))(_.getFooter)
    val schema = footer.getFileMetaData.getSchema
    assert(schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
      .getPrimitiveTypeName.name === "INT96")
    for (q <- Seq[(SparkSession, String) => DataFrame](
        StreamingOps.qStreamTumbling, StreamingOps.qStreamSessionsFmgws)) {
      def jobs(d: String) = jobsDuring { q(spark, d).collect() }.size
      jobs(sf0001) // warm-up
      assert(jobs(dir.toString) === jobs(sf0001))
    }
  }

  test("a sentinel replay throws on an event within 30 days of the sentinel") {
    val dir = TmpDirs.scratch("graft_events_horizon")
    val events = Tables.events(spark, sf0001)
    val first = events.agg(min("event_id")).head().getLong(0)
    events.withColumn("ts", when(col("event_id") === first,
        lit(Timestamp.valueOf("8999-12-15 00:00:00"))).otherwise(col("ts")))
      .write.parquet(dir.resolve("events.parquet").toString)
    val e = intercept[Exception] {
      StreamingOps.qStreamTumbling(spark, dir.toString).collect()
    }
    assert(e.getMessage.contains("is within 30 days of the sentinel"), e.getMessage)
  }

  test("stream_upsert closes every directory handle it opens") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs procfs to count open descriptors")
    StreamingOps.qStreamUpsert(spark, sf0001).collect() // warm-up
    val before = fds.list().length
    (1 to 3).foreach(_ => StreamingOps.qStreamUpsert(spark, sf0001).collect())
    val after = fds.list().length
    info(s"open descriptors $before -> $after")
    // an unclosed listing of each of the 4 staged chunk dirs per call
    // would hold at least 12 handles after 3 calls
    assert(after - before < 8, s"open descriptors $before -> $after")
  }
}
