package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide EMPTY-INPUT sweep: every registered query runs against
  * a zero-row copy of all ten tables and must either return a frame
  * (usually empty) or fail a DOCUMENTED precondition
  * (`require` → IllegalArgumentException with a message naming the op).
  * What must never happen on empty input is the undocumented crash
  * class — NullPointerException from a null driver-side aggregate
  * (the resampleHourly bug the round-11 review caught),
  * NoSuchElementException from a bare head(), or an analysis error
  * from a lit(null) of NullType. A 100 TB pipeline hits empty inputs
  * constantly (an empty partition of a date-partitioned feed, a
  * filter that matched nothing, a fresh table) — this pins the whole
  * registry's behavior at once.
  *
  * Streaming replay queries are excluded: their sentinel harness
  * derives the watermark horizon from max(ts), which is a documented
  * non-empty requirement of the REPLAY HARNESS (not of the streaming
  * operators — StreamingSpec covers those directly on in-memory
  * streams, including empty ones).
  */
class EmptyInputSpec extends AnyFunSuite with SparkFixture {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet must go through Tables.events, never a plain
    * spark.read.parquet: under the TIMESTAMP(NANOS) vintage (which the
    * driver can regenerate at any round) schema inference throws
    * PARQUET_TYPE_ILLEGAL and the whole sweep dies at fixture
    * construction. The loader normalizes ts to TimestampType, so the
    * written copy reads back natively in either vintage. */
  private def loadTable(t: String) =
    if (t == "events") Tables.events(spark, sf0001)
    else spark.read.parquet(s"$sf0001/$t.parquet")

  private lazy val emptyDir: String = {
    val dir = TmpDirs.scratch("graft_empty").toString
    tables.foreach { t =>
      loadTable(t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Replay-harness queries (documented non-empty requirement above). */
  private val streamingReplay = Set("stream_tumbling", "stream_topk",
    "stream_sliding", "stream_sessions_append", "stream_sessions_fmgws",
    "stream_stream_join", "stream_enrich", "stream_anomaly", "stream_dedup")

  test("every registered query returns a frame or fails a documented require on empty tables") {
    val failures = scala.collection.mutable.Buffer.empty[String]
    val requires = scala.collection.mutable.Buffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => streamingReplay(n) }
      .foreach { case (name, fn) =>
        try { fn(spark, emptyDir).collect(): Unit }
        catch {
          case e: IllegalArgumentException =>
            // a deliberate precondition — but it must carry a message
            // (a bare require(cond) on empty input reads as a crash)
            if (e.getMessage == null || e.getMessage.trim.isEmpty ||
                e.getMessage.trim == "requirement failed")
              failures += s"$name: bare require with no message"
            else requires += name
          case e: Throwable =>
            val cause = Option(e.getCause).map(c =>
              s" <- ${c.getClass.getSimpleName}").getOrElse("")
            failures += s"$name: ${e.getClass.getSimpleName}$cause: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(160)
        }
      }
    info(s"documented-precondition failures (OK): ${requires.sorted.mkString(", ")}")
    assert(failures.isEmpty,
      s"undocumented empty-input crashes:\n${failures.mkString("\n")}")
  }

  /** Crawl-reality sweep: the documents table gains a null-text row, an
    * empty-string row, and a whitespace-only row (every real web corpus
    * has all three). Every documents-reading query must still run —
    * null text is data, not an error. */
  private lazy val nullDocsDir: String = {
    val dir = TmpDirs.scratch("graft_nulls").toString
    tables.foreach { t =>
      val base = loadTable(t)
      if (t == "documents") {
        import org.apache.spark.sql.Row
        val extra = spark.createDataFrame(
          java.util.List.of(
            Row(900001L, null, "en", "srcN", 0L),
            Row(900002L, "", "en", "srcN", 0L),
            Row(900003L, "   ", "en", "srcN", 3L)),
          base.schema)
        base.unionByName(extra).write.mode("overwrite")
          .parquet(s"$dir/$t.parquet")
      } else base.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("documents-family queries tolerate null/empty/whitespace text rows") {
    val failures = scala.collection.mutable.Buffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => streamingReplay(n) }
      .filter { case (n, _) =>
        n.startsWith("text_") || n.startsWith("dedup_") ||
          n.startsWith("corpus_") || n.startsWith("q1_") ||
          n == "pack_sequences" || n == "chunk_documents" ||
          n == "shard_assembly" || n == "length_batches" ||
          n == "decon_hits" || n == "decon_bloom" ||
          n == "hh_lang_by_source" || n == "source_overlap" ||
          n == "neg_samples" || n == "token_budget_sample" ||
          n == "split_assign" || n == "quantile_filter" ||
          n == "lang_token_stats" || n == "mixture_weights" }
      .foreach { case (name, fn) =>
        try { fn(spark, nullDocsDir).collect(): Unit }
        catch {
          case e: Throwable =>
            failures += s"$name: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(160)
        }
      }
    assert(failures.isEmpty,
      s"null/empty-text crashes:\n${failures.mkString("\n")}")
  }
}
