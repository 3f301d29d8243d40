package graft

import graft.operators.{Dedup, Lineage, SemanticDedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedicated capture for VERDICT r16 ask #2: measure the semantic
  * prune's CAPPED probe PAST the kCeiling bind point, with the
  * cluster-population histogram and the star guard's engagement counts
  * in the artifact — so "over-populated clusters are the star guard's
  * job" is a measured curve, not a spec assertion.
  *
  * The bind point: k = min(kCeiling, max(16, n/clusterTarget)) stops
  * growing at n = kCeiling·clusterTarget (128·256 = 32,768 with the
  * production defaults). Past it, cluster populations grow as
  * n/kCeiling, so the within-cluster candidate quadratic grows as
  * n²/kCeiling until populations cross the cap, where
  * [[Dedup.splitHotKeysStar]] degrades hot clusters to linear star
  * candidates. Since round 19 the cap is budget-derived
  * ([[SemanticDedup.recommendedCap]] — 512 at the production kCeiling,
  * bounding cold pairs at ~2²⁴ everywhere), so this curve is the
  * rule's DONE criterion: no >3× wall spike anywhere between the bind
  * and full star engagement (the r18 fixed-cap curve spiked 30× —
  * 194 s at n=128k vs 6.5 s at the bind). This harness replicates the
  * sf0.1 embeddings fixture
  * (2,000 × 64-d) with the ScaleSmoke distinct-mode rotation (a rotated
  * dense vector is ~orthogonal to its source, so replicas are distinct
  * content, not mass duplicates) to corpora AT the bind and 2×/4×/8×
  * past it, and reports per scale point:
  *
  *   - fit_sec / probe_sec: the bounded centroid fit (constant-envelope
  *     by construction — the r15 fix) vs the live CAPPED probe
  *     (assign → within-cluster candidates → sketch-prefiltered verify
  *     → CC), timed separately;
  *   - the realized cluster-population histogram (p50/p95/max,
  *     clusters realized);
  *   - n_hot + star_edges (populations past the cap — the guard's
  *     engagement) and cold_pairs (Σ pop·(pop−1)/2 over sub-cap
  *     clusters — the candidate volume the verify actually pays, THE
  *     explanatory variable for the probe curve).
  *
  * One JSON line on stdout (the ScaleSmoke artifact convention), with
  * 1-min load markers so a capture under ambient load self-identifies.
  */
object SemanticStress {

  private val IdStride = 100000000L

  /** Replicate the embeddings fixture `scale`× with the distinct-mode
    * rotation (ScaleSmoke.buildScaledDir's idiom — rep mod dim keeps
    * slice lengths legal past scale > dim; the dim-aligned replicas
    * stay unrotated, yielding small exact-dup groups, realistic for a
    * crawl corpus). */
  private def buildCorpus(s: SparkSession, srcDir: String, scale: Int,
      outPath: String): Unit = {
    val parts = s.sparkContext.defaultParallelism
    Tables.embeddings(s, srcDir)
      .select(col("*"), explode(sequence(lit(0), lit(scale - 1))).as("rep"))
      .repartition(parts)
      .withColumn("vec_id", col("vec_id") + col("rep") * IdStride)
      .withColumn("rot", pmod(col("rep"), size(col("embedding"))))
      .withColumn("embedding",
        when(col("rot") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), col("rot") + 1,
            size(col("embedding")) - col("rot")),
          slice(col("embedding"), lit(1), col("rot")))))
      .drop("rep", "rot")
      .write.mode("overwrite").parquet(outPath)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 2,000-row fixture → scales 16/24/64/128/256: 32k (the bind), 48k
    // (pops ≈ 375 — inside the derived cap 512, the worst surviving
    // cold-quadratic point, budget-bounded by construction), then
    // 128k/256k/512k (pops ≈ 1000/2000/4000, all past the cap: every
    // cluster degrades to linear stars — the regime the old fixed
    // cap=2048 let run cold-quadratic to 64M–183M pairs). The curve
    // brackets the bind window from both sides of the cap boundary.
    val scales = sys.env.getOrElse("SPARK_GRAFT_SEM_SCALES", "16,24,64,128,256")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4× the thread count, NOT the Bench default (= cpus): past the
      // bind point the within-cluster candidate join peaks at ~256M
      // id-pairs (the 128× point), and at 32 partitions each task's
      // build side overruns a 32-thread share of the default heap —
      // measured OOM on the first capture attempt. More, smaller
      // partitions is the standard spill-pressure answer; the harness
      // also runs with SPARK_DRIVER_MEM=24g in the capture script.
      .config("spark.sql.shuffle.partitions", cpus.toInt * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg(): Double = try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(' ')(0).toDouble
      catch { case _: Exception => -1.0 }
    val loadStart = loadAvg()
    val work = TmpDirs.scratch("graft_sem_stress")
    def f(v: Double) = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    val t0All = System.nanoTime()

    // JIT/codegen warm-up on a tiny corpus (the ScaleSmoke warmDir
    // discipline: without it the first scale point absorbs cold-start)
    val warmPath = work.resolve("warm").toString
    buildCorpus(spark, srcDir, 1, warmPath)
    val warmE = spark.read.parquet(warmPath).select("vec_id", "embedding")
    SemanticDedup.semanticPrune(warmE, threshold = 0.95).count()

    val points = scales.map { scale =>
      val path = work.resolve(s"x$scale").toString
      buildCorpus(spark, srcDir, scale, path)
      val e = Lineage.pin(spark.read.parquet(path).select("vec_id", "embedding"))
      val n = e.count()
      // the production derived cap at this point's fitted k (the r19
      // knob rule: cap = sqrt(2·pairBudget/k), so cold candidate volume
      // is budget-bounded everywhere in the bind window)
      val kFit = SemanticDedup.fitK(n)
      val cap = SemanticDedup.recommendedCap(kFit)
      // fit (bounded — constant-envelope past the bind by construction)
      val tFit = System.nanoTime()
      val cents = SemanticDedup.fitCentroidsBounded(e, n)
      val fitSec = (System.nanoTime() - tFit) / 1e9
      // realized cluster populations under that fit: the histogram +
      // guard-engagement accounting (one assign scan + a k-row rollup;
      // NOT part of the timed probe, which re-runs assign internally)
      val pops = graft.operators.Similarity
        .assignCentroids(e, cents)
        .groupBy("cid").agg(count(lit(1)).as("pop"))
        .select(col("pop")).collect().map(_.getLong(0)).sorted
      val nClusters = pops.length
      def pct(p: Double) =
        if (nClusters == 0) 0L else pops(((nClusters - 1) * p).toInt)
      val hot = pops.filter(_ > cap)
      val starEdges = hot.map(_ - 1).sum
      val coldPairs = pops.filter(_ <= cap).map(p => p * (p - 1) / 2).sum
      // the live CAPPED probe — production defaults, end to end
      val tProbe = System.nanoTime()
      val groups = SemanticDedup
        .pruneWithCentroids(e, cents, threshold = 0.95, cap = cap)
        .count()
      val probeSec = (System.nanoTime() - tProbe) / 1e9
      println(s"[semstress] x$scale n=$n k=$kFit cap=$cap fit=${f(fitSec)}s " +
        s"probe=${f(probeSec)}s pop(p50/p95/max)=${pct(0.5)}/${pct(0.95)}/" +
        s"${pops.lastOption.getOrElse(0L)} hot=${hot.length} " +
        s"star_edges=$starEdges cold_pairs=$coldPairs groups=$groups")
      s"""{"scale":$scale,"n":$n,"k":$kFit,"cap":$cap,""" +
        s""""fit_sec":${f(fitSec)},""" +
        s""""probe_sec":${f(probeSec)},"n_clusters":$nClusters,""" +
        s""""pop_p50":${pct(0.5)},"pop_p95":${pct(0.95)},""" +
        s""""pop_max":${pops.lastOption.getOrElse(0L)},""" +
        s""""n_hot":${hot.length},"star_edges":$starEdges,""" +
        s""""cold_pairs":$coldPairs,"group_rows":$groups}"""
    }
    val totalSec = (System.nanoTime() - t0All) / 1e9
    println(s"""{"metric":"semantic_pastbind","value":${f(totalSec)},""" +
      s""""unit":"sec","bind_n":${SemanticDedup.DefaultKCeiling.toLong *
        SemanticDedup.DefaultClusterTarget},"cap":${
        SemanticDedup.recommendedCap(SemanticDedup.DefaultKCeiling)},""" +
      s""""k_ceiling":${SemanticDedup.DefaultKCeiling},""" +
      s""""src":"$srcDir","points":[${points.mkString(",")}],""" +
      s""""load_start":$loadStart,"load_end":${loadAvg()}}""")
    spark.stop()
  }
}
