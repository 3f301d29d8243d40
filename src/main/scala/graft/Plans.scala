package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `explain("formatted")` for registered queries to
  * `<outDir>/<name>.txt`, one file per query, so a round's physical
  * plans can be audited side by side — pushdown reaching the scans,
  * WholeStageCodegen spans, exchange counts, no stray CartesianProduct.
  * The session comes from [[Bench.makeSession]], so the captured plans
  * are the ones the bench runs.
  *
  * Usage: runMain graft.Plans [sfDir] [outDir] [name,name,...]
  *   - with a name list, dumps those queries;
  *   - without one, dumps every registered query.
  *
  * Building a frame runs the eager harness work of the storage/streaming
  * queries (cow_*, stream_*: table writes, replays), so their plan files
  * show only the final read — a memory-table or table-version scan; the
  * streaming plans themselves are pinned in StreamingSpec.
  * `SPARK_GRAFT_CPUS` sets the session width (default 4). */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = Paths.get(args.lift(1).getOrElse("target/plans"))
    val names = args.lift(2)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = Bench.makeSession(Bench.cpus)
    Files.createDirectories(out)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plans] unknown query: $name")
        case Some(fn) =>
          val plan =
            try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
            catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
          Files.writeString(out.resolve(s"$name.txt"), plan)
      }
    }
    println(s"plans written to $out")
    spark.stop()
  }
}
