package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, FloatType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dev-loop extras (the driver always passes exactly 2 args):
  *   - 3rd arg `name1,name2` — run only the named queries
  *   - 3rd arg `--perturb` (or `--perturb=name1,name2`) — the
  *     accumulation-order perturbation gate (VERDICT r18 ask #4): every
  *     float-outputting registered query is run TWICE, in two sessions
  *     with jittered `spark.sql.shuffle.partitions` / input-split
  *     configs, and the two results are compared bit-exactly. A
  *     registered query ends in `round(x, 4)`, so its rounded output is
  *     bit-stable under re-association EXCEPT when a sum lands within
  *     5e-5 of a rounding boundary — exactly the class that hash-red
  *     `stream_sessions_fmgws` at the r18 driver gate after the builder's
  *     own verify read green. Unstable rows exit nonzero so the class is
  *     caught in-repo before the driver sees it.
  */
object Verify {

  /** Canonical full-precision form of a query result: rows stringified
    * (Row.toString is bit-faithful for doubles — distinct doubles have
    * distinct shortest decimal reprs) and sorted. Column order is fixed
    * by the query itself, identical across the two perturbed runs. */
  private[graft] def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The two jittered config sets the gate compares under. The
    * [[operators.Lineage.WidthKey]] key carries the jitter into the
    * width-sized CHILD sessions — the streaming replay harnesses and the
    * graph/ER/CC iterations — which pin their own
    * `spark.sql.shuffle.partitions` (a derived width that is a constant
    * 1-2 at verification scale). Without it the gate is a no-op for
    * exactly the streaming class whose r18 red row motivated it (r19
    * review finding), and for pageRank's float inflow sums (r21 ADVICE). */
  private[graft] val perturbConfA: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    operators.Lineage.WidthKey -> "4")
  private[graft] val perturbConfB: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "7",
    // smaller splits + zero open cost → more, differently-grouped scan
    // partitions where the parquet row-group layout allows it
    "spark.sql.files.maxPartitionBytes" -> "262144",
    "spark.sql.files.openCostInBytes" -> "0",
    operators.Lineage.WidthKey -> "7")

  private def buildWith(build: (SparkSession, String) => DataFrame,
      base: SparkSession, dir: String,
      conf: Seq[(String, String)]): DataFrame =
    build(operators.Lineage.child(base, conf: _*), dir)

  /** Runs `build` twice — once per jittered config set (different
    * partial-aggregation grouping and merge order) — and reports whether
    * the results are bit-identical. Order-sensitive float accumulation
    * (a double fold whose 4dp rounding straddles a boundary between the
    * two orders) shows up as `false`. */
  private[graft] def perturbStable(
      build: (SparkSession, String) => DataFrame,
      base: SparkSession, dir: String): Boolean =
    canon(buildWith(build, base, dir, perturbConfA)) ==
      canon(buildWith(build, base, dir, perturbConfB))

  /** True when the query's output schema carries a float column — the
    * perturbation gate's scope (integer/string outputs are exact and
    * order-independent by construction). */
  private[graft] def hasFloatColumn(df: DataFrame): Boolean =
    df.schema.exists(f => f.dataType == DoubleType || f.dataType == FloatType)

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev loop only; the driver passes 2): a
    // comma-separated subset of query names, or --perturb[=names]
    val (sfDir, outDir, third) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c))
    }
    val perturb = third.exists(_.startsWith("--perturb"))
    val only: Option[Set[String]] = third.map {
      case p if p.startsWith("--perturb=") =>
        Some(p.stripPrefix("--perturb=").split(',').toSet)
      case p if p == "--perturb" => None
      case names => Some(names.split(',').toSet)
    }.getOrElse(None)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.suppressBoundedWindowWarning()
    if (perturb) { sys.exit(runPerturb(spark, sfDir, only)) }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The gate proper. FAIL-CLOSED: a query that throws anywhere in the
    * probe/compare path is reported and trips the nonzero exit — a gate
    * that silently drops an erroring query reads "all stable" while a
    * gate-eligible row went untested (the check_oracle.py allowlist
    * posture, applied here; r19 review finding). The first jittered run
    * doubles as the float-scope probe, so a non-float query executes
    * once and a float query twice — never three times. */
  private def runPerturb(spark: SparkSession, sfDir: String,
      only: Option[Set[String]]): Int = {
    var unstable = List.empty[String]
    var failed = List.empty[String]
    var checked = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val a = buildWith(fn, spark, sfDir, perturbConfA)
          if (hasFloatColumn(a)) {
            checked += 1
            val ok = canon(a) ==
              canon(buildWith(fn, spark, sfDir, perturbConfB))
            println(s"[perturb] ${if (ok) "STABLE  " else "UNSTABLE"} $name")
            if (!ok) unstable ::= name
          }
        } catch { case e: Throwable =>
          System.err.println(s"[perturb] FAILED   $name: ${e.getMessage}")
          failed ::= name
        }
      }
    println(s"[perturb] $checked float-outputting queries checked; " +
      s"${unstable.size} unstable${
        if (unstable.nonEmpty) ": " + unstable.sorted.mkString(", ") else ""}${
        if (failed.nonEmpty)
          s"; ${failed.size} FAILED to run: " + failed.sorted.mkString(", ")
        else ""}")
    spark.stop()
    if (unstable.nonEmpty || failed.nonEmpty) 1 else 0
  }
}
