package graft

import graft.operators.{BinaryQuant, Graph, Lineage, MaterializedCache, SemanticDedup, Similarity}
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale harness: replicate the sf corpus with re-keyed ids
  * ([[replicate]]), run one measurement kind on the replicas, and print
  * one JSON line. A cost curve that grows faster than the input is an
  * engine regression, not "more data". Completion with exit 0 is the
  * no-OOM assertion: an executor OOM surfaces as a failed job.
  *
  *   runMain graft.Scale <family|stream|semantic|binary|graph> [sfDir]
  *
  *   - `family` (`scale_smoke`): the dedup/text family at 1× and N×,
  *     per-query wall, ratio and rows, plus the write-once
  *     [[MaterializedCache]] builds timed apart from their probes.
  *   - `stream` (`stream_scale_smoke`): the streaming family at 1× and
  *     N× with the measured state rows/bytes per stateful operator.
  *     Tumbling/anomaly state should stay flat (same time range, more
  *     rows per window); session and join state grows with live keys.
  *   - `semantic` (`semantic_pastbind`): the semantic prune past the
  *     kCeiling bind point — fit vs capped probe wall, cluster
  *     populations and the star guard's engagement per scale.
  *   - `binary` (`binary_recall_scale`): recall@k of the 1-bit Hamming
  *     prefilter against exact top-k over a pool ladder per scale.
  *   - `graph` (`graph_triangles_attribution`): co-supply stage volumes
  *     and triangle wall on disjoint replica graphs, where every count
  *     grows exactly linearly by construction.
  *
  * Env: `SPARK_GRAFT_SCALES` (comma list; `family`/`stream` compare 1×
  * with one scale), `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` (Bench's
  * default), `SPARK_GRAFT_MODE` (`family`: neardup|distinct),
  * `SPARK_GRAFT_VEC_MULT` (`family`, `binary`) and `SPARK_GRAFT_ONLY`
  * (`family`: name substrings, recorded as `"only"`). Each kind's line
  * carries the 1-min load at start and end, so a capture under ambient
  * load self-identifies. */
object Scale {
  private type Query = (SparkSession, String) => DataFrame

  /** Every id column moves by `rep × idStride`, so replicas are disjoint.
    * IdStride % 50 == 0 keeps a %50 source doc %50 in every replica. Ids
    * reach results (planted media seed on doc_id, centroid fits sample by
    * vec_id hash), so each kind keeps the stride of its committed
    * captures: this one, except `semantic`. */
  private val IdStride = 10_000_000L

  /** One fixed sentence; 9 words → 7 three-word shingles, each reaching
    * df = scale × (nDocs/50), far past the 128 df cap, so the hot-shingle
    * path (Dedup.materializeHot) runs at volume. */
  private val HotSentence =
    " graft hot shingle sentence injected for the df cap"

  /** `distinct` mode: rewrite every 3rd word of replica `rep`. A changed
    * word kills every 3-shingle containing it, so replicas become
    * distinct documents and the family's work grows row-linearly instead
    * of pair-quadratically. */
  private val perturbUdf = udf { (text: String, rep: Int) =>
    if (text == null || rep == 0) text
    else {
      val w = text.split(" ")
      var i = rep % 3
      while (i < w.length) { w(i) = w(i) + "r" + rep; i += 3 }
      w.mkString(" ")
    }
  }

  /** Widen each embedding `mult`× by tiling with a per-segment drift
    * (segment j scaled by 1 + j/1000). Tiling keeps cosine structure, so
    * pair/recall semantics survive while every vector loop runs on real
    * widths (512-d from the 64-d fixtures at mult 8). */
  private val widenUdf = udf { (v: Seq[Float], mult: Int) =>
    if (v == null) null
    else {
      val d = v.length
      Array.tabulate(d * mult)(j => v(j % d) * (1f + (j / d) / 1000f))
    }
  }

  /** Write `scale` re-keyed replicas of each of `tables` (documents,
    * embeddings, customer, lineitem, events) from `srcDir` to `outDir`.
    * `neardup` keeps replicas near-duplicates (a per-replica tail token,
    * exact vector copies, shared customer balances: the hot-block shape
    * dedup and ER guard against); `distinct` makes them distinct content
    * (perturbed text, rotated vectors, shifted balances). Every 50th
    * source doc carries [[HotSentence]] in both modes. Replica `rep`'s ids
    * move by `rep × idStride`.
    *
    * Every table is split across the session's parallelism: the sf
    * testdata is one part file, and one replicated file is one read
    * partition, so every pre-shuffle stage would run on one core (the
    * replays stream either layout in place). `events` keeps `ts` as NTZ
    * (the plain-micros vintage) and the same time range with more users,
    * and `customer` (stream_enrich's static side) is copied as is. */
  def replicate(s: SparkSession, srcDir: String, scale: Int, outDir: String,
      tables: Seq[String], mode: String = "neardup", vecMult: Int = 1,
      idStride: Long = IdStride): Unit = {
    val distinct = mode == "distinct"
    val rep = explode(sequence(lit(0), lit(scale - 1))).as("rep")
    def rekey(c: String) = col(c).cast("long") + col("rep") * idStride
    def write(name: String, df: DataFrame): Unit =
      df.drop("rep").write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def replicas(df: DataFrame) =
      df.select(col("*"), rep).repartition(s.sparkContext.defaultParallelism)
    tables.foreach {
      case "documents" =>
        write("documents", replicas(Tables.documents(s, srcDir))
          .withColumn("doc_id", rekey("doc_id"))
          .withColumn("text",
            if (distinct) perturbUdf(col("text"), col("rep"))
            else when(col("rep") === 0, col("text"))
              .otherwise(concat(col("text"), lit(" rep"), col("rep"))))
          .withColumn("text",
            when(col("doc_id") % 50 === 0, concat(col("text"), lit(HotSentence)))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long")))
      case "embeddings" =>
        // distinct: rotate by `rep mod dim` — a rotated dense vector is
        // ~orthogonal to its source. The modulus keeps slice lengths legal
        // for rep > dim; dim-aligned replicas stay unrotated.
        val rot = pmod(col("rep"), size(col("embedding")))
        val rotated = when(rot === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), rot + 1, size(col("embedding")) - rot),
          slice(col("embedding"), lit(1), rot)))
        val v = if (distinct) rotated else col("embedding")
        write("embeddings", replicas(Tables.embeddings(s, srcDir))
          .withColumn("vec_id", rekey("vec_id"))
          .withColumn("embedding",
            if (vecMult > 1) widenUdf(v, lit(vecMult)) else v))
      case "customer" =>
        // distinct shifts the c_acctbal blocking key far outside the
        // source range, so replicas are distinct entities
        val cust = Tables.customer(s, srcDir)
        val balType = cust.schema("c_acctbal").dataType
        write("customer", replicas(cust)
          .withColumn("c_custkey", rekey("c_custkey"))
          .withColumn("c_acctbal",
            if (distinct) (col("c_acctbal") + col("rep") * lit(100000.0)).cast(balType)
            else col("c_acctbal")))
      case "lineitem" =>
        // both node keys re-keyed: `scale` disjoint copies of the
        // co-supply graph
        write("lineitem", replicas(Tables.lineitem(s, srcDir))
          .withColumn("l_orderkey", rekey("l_orderkey"))
          .withColumn("l_suppkey", rekey("l_suppkey")))
      case "events" =>
        write("events", replicas(Tables.events(s, srcDir))
          .withColumn("event_id", rekey("event_id"))
          .withColumn("user_id", rekey("user_id"))
          .withColumn("ts", col("ts").cast("timestamp_ntz")))
        Files.copy(Paths.get(srcDir, "customer.parquet"),
          Paths.get(outDir, "customer.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private final case class Run(s: SparkSession, src: String, scales: Seq[Int],
      work: java.nio.file.Path, loadStart: Double) {
    def dir(name: String): String = work.resolve(name).toString
    def scale: Int = {
      require(scales.size == 1, s"this kind compares 1× with one scale, got $scales")
      scales.head
    }
  }

  private def f(v: Double, digits: Int = 2): String = BigDecimal(v)
    .setScale(digits, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private final case class Timing(name: String, sec: Double, rows: Long,
      state: Seq[(String, Long, Long)])

  /** One timed pass: wall, rows and streaming state per query. */
  private def pass(s: SparkSession, dir: String, qs: Seq[(String, Query)]): Seq[Timing] =
    qs.map { case (name, fn) =>
      StreamingOps.lastStateOps = Nil
      System.gc()
      val (rows, sec) = timed(fn(s, dir).count())
      Timing(name, sec, rows, StreamingOps.lastStateOps)
    }

  /** The 1× vs N× body of the family and stream lines; `extra` appends
    * per-query fields. */
  private def curve(scale: Int, one: Seq[Timing], big: Seq[Timing],
      extra: (Timing, Timing) => String = (_, _) => ""): String = {
    val oneByName = one.map(t => t.name -> t).toMap
    val items = big.map { b =>
      val a = oneByName(b.name)
      s""""${b.name}":{"x1_sec":${f(a.sec)},"x${scale}_sec":${f(b.sec)},"ratio":${f(b.sec / a.sec)},"x1_rows":${a.rows},"x${scale}_rows":${b.rows}${extra(a, b)}}"""
    }
    val (total1, totalN) = (one.map(_.sec).sum, big.map(_.sec).sum)
    s""""x1_total_sec":${f(total1)},"x${scale}_total_sec":${f(totalN)},"total_ratio":${f(totalN / total1)},"queries":{${items.mkString(",")}}"""
  }

  // ---- family ----

  private val FamilyNames = Set("sim_quantized_topk", "mixture_weights",
    "cow_upsert", "source_overlap", "neg_samples", "hh_lang_by_source",
    "length_batches", "corpus_mix_apply", "cms_term_freq",
    "corpus_domain_caps", "funnel_domain_capped", "bpe_merges", "bpe_encode",
    "lm_logprob", "er_customers", "graph_pagerank", "graph_triangles",
    "pipeline_funnel", "hybrid_retrieval", "sim_mmr", "sim_quantized_probe",
    "sim_quantized_batch", "mm_dedup", "mm_neardup", "mm_neardup_gate")

  /** The documents/embeddings/customer/lineitem family, or with
    * `SPARK_GRAFT_ONLY` any registered query matching a substring. */
  private def family(only: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      if (only.nonEmpty) only.exists(n.contains)
      else (Seq("dedup_", "text_", "emb_").exists(n.startsWith) || FamilyNames(n)) &&
        // text_redact reads events, which the family does not replicate;
        // the recall gate's truth set is exhaustive all-pairs, so it would
        // measure the oracle, quadratic in scale
        n != "text_redact" && n != "dedup_semantic_recall"
    }

  /** Queries whose first call builds a MaterializedCache artifact; timed
    * apart as `prebuild` so the family ratios measure the serving path. */
  private val cacheBacked = Set("sim_ivf_probe", "sim_quantized_probe",
    "dedup_embedding", "dedup_semantic", "emb_cross_decon", "mm_neardup",
    "sim_binary_topk")

  /** Queries reading a cacheBacked query's artifact. Warming them would
    * build it untimed at 1×, so x1_build_sec would time a cache hit. */
  private val sharesArtifact = Set("sim_quantized_batch",
    "dedup_semantic_gate", "mm_neardup_gate", "sim_binary_recall")

  private def runFamily(r: Run): String = {
    val scale = r.scale
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "neardup")
    val vecMult = sys.env.getOrElse("SPARK_GRAFT_VEC_MULT", "1").toInt
    val only = Bench.only
    val qs = family(only)
    val (oneDir, bigDir) = (r.dir("x1"), r.dir(s"x$scale"))
    // 1× through the same writer, so both scales read the same layout
    val tables = Seq("documents", "embeddings", "customer", "lineitem")
    replicate(r.s, r.src, 1, oneDir, tables, mode, vecMult)
    replicate(r.s, r.src, scale, bigDir, tables, mode, vecMult)
    val (cached, plain) = qs.partition { case (n, _) => cacheBacked(n) || sharesArtifact(n) }
    pass(r.s, oneDir, plain)
    // the build paths warm up on a 256-row throwaway corpus at the real
    // vector width, not on oneDir, whose builds prebuild times
    val warmDir = r.dir("warm")
    Tables.embeddings(r.s, oneDir).filter(col("vec_id") < 256)
      .write.mode("overwrite").parquet(s"$warmDir/embeddings.parquet")
    Tables.documents(r.s, oneDir).filter(col("doc_id") < 256)
      .write.mode("overwrite").parquet(s"$warmDir/documents.parquet")
    pass(r.s, warmDir, cached)
    // first call = build + probe, second = cache-hit probe
    def prebuild(dir: String) = qs.collect { case (name, fn) if cacheBacked(name) =>
      (name, timed(fn(r.s, dir).count())._2, timed(fn(r.s, dir).count())._2)
    }
    val (pre1, preN) = (prebuild(oneDir), prebuild(bigDir))
    pass(r.s, oneDir, qs) // untimed: the cache-backed probe paths warm here
    val one = pass(r.s, oneDir, qs)
    val big = pass(r.s, bigDir, qs)
    val loadEnd = Bench.loadAvg()
    val onlyJson =
      if (only.isEmpty) "" else only.map(s => s""""$s"""").mkString(""""only":[""", ",", "],")
    val preJson =
      if (preN.isEmpty) ""
      else pre1.zip(preN).map { case ((name, first1, probe1), (_, firstN, probeN)) =>
        // build_ratio keeps its first-call meaning for cross-round
        // comparability; *_build_only_sec is first − probe, floored at 0
        s""""$name":{"x1_build_sec":${f(first1)},"x${scale}_build_sec":${f(firstN)},"build_ratio":${f(firstN / first1)},"x1_probe_sec":${f(probe1)},"x${scale}_probe_sec":${f(probeN)},"x1_build_only_sec":${f(math.max(0.0, first1 - probe1))},"x${scale}_build_only_sec":${f(math.max(0.0, firstN - probeN))}}"""
      }.mkString(""","prebuild":{""", ",", "}")
    s"""{"metric":"scale_smoke","mode":"$mode","scale":$scale,"vec_mult":$vecMult,${onlyJson}"src":"${r.src}","load":[${f(r.loadStart)},${f(loadEnd)}],${curve(scale, one, big)}$preJson}"""
  }

  // ---- stream ----

  private val StreamNames = Seq("stream_tumbling", "stream_sessions_append",
    "stream_stream_join", "stream_enrich", "stream_anomaly", "stream_upsert",
    "stream_dedup", "stream_sliding", "stream_topk", "stream_sessions_fmgws")

  private def runStream(r: Run): String = {
    val scale = r.scale
    val qs = StreamNames.map(n => n -> SparkEntry.queries(n))
    val (oneDir, bigDir) = (r.dir("x1"), r.dir(s"x$scale"))
    replicate(r.s, r.src, 1, oneDir, Seq("events"))
    replicate(r.s, r.src, scale, bigDir, Seq("events"))
    pass(r.s, oneDir, qs) // untimed warm-up (JIT + state-store init)
    val one = pass(r.s, oneDir, qs)
    val big = pass(r.s, bigDir, qs)
    val loadEnd = Bench.loadAvg()
    def stateJson(ops: Seq[(String, Long, Long)]): String = ops.map {
      case (op, rows, bytes) => s""""$op":{"rows":$rows,"bytes":$bytes}"""
    }.mkString("{", ",", "}")
    val body = curve(scale, one, big, (a, b) =>
      s""","x1_state":${stateJson(a.state)},"x${scale}_state":${stateJson(b.state)}""")
    s"""{"metric":"stream_scale_smoke","scale":$scale,"src":"${r.src}","load":[${f(r.loadStart)},${f(loadEnd)}],$body}"""
  }

  // ---- semantic ----

  /** Distinct-mode embedding replicas at and past the bind point
    * n = kCeiling·clusterTarget (32,768 by default), where k stops
    * growing and cluster populations grow as n/kCeiling until the
    * budget-derived cap ([[SemanticDedup.recommendedCap]]) degrades hot
    * clusters to linear stars. Per scale: fit vs capped-probe wall, the
    * population histogram, n_hot/star_edges (the guard's engagement) and
    * cold_pairs (Σ pop·(pop−1)/2 under the cap, the verify's volume). */
  private def runSemantic(r: Run): String = {
    // 4× the thread count: past the bind the within-cluster candidate
    // join peaks at ~256M id-pairs, and fewer, larger tasks overran the
    // heap on the first capture
    r.s.conf.set("spark.sql.shuffle.partitions", (Bench.cpus.toInt * 4).toString)
    def corpus(name: String, scale: Int): DataFrame = {
      replicate(r.s, r.src, scale, r.dir(name), Seq("embeddings"), "distinct",
        idStride = 100_000_000L)
      Tables.embeddings(r.s, r.dir(name)).select("vec_id", "embedding")
    }
    val (points, totalSec) = timed {
      SemanticDedup.semanticPrune(corpus("warm", 1), threshold = 0.95).count()
      r.scales.map { scale =>
        val e = Lineage.pin(corpus(s"x$scale", scale))
        val n = e.count()
        val kFit = SemanticDedup.fitK(n)
        val cap = SemanticDedup.recommendedCap(kFit)
        val (cents, fitSec) = timed(SemanticDedup.fitCentroidsBounded(e, n))
        // realized populations: an untimed assign scan + k-row rollup
        val pops = Similarity.assignCentroids(e, cents)
          .groupBy("cid").agg(count(lit(1)).as("pop"))
          .select(col("pop")).collect().map(_.getLong(0)).sorted
        def pct(p: Double) = if (pops.isEmpty) 0L else pops(((pops.length - 1) * p).toInt)
        val popMax = pops.lastOption.getOrElse(0L)
        val hot = pops.filter(_ > cap)
        val starEdges = hot.map(_ - 1).sum
        val coldPairs = pops.filter(_ <= cap).map(p => p * (p - 1) / 2).sum
        val (groups, probeSec) = timed(SemanticDedup
          .pruneWithCentroids(e, cents, threshold = 0.95, cap = cap).count())
        println(s"[scale semantic] x$scale n=$n k=$kFit cap=$cap fit=${f(fitSec)}s " +
          s"probe=${f(probeSec)}s pop(p50/p95/max)=${pct(0.5)}/${pct(0.95)}/$popMax " +
          s"hot=${hot.length} star_edges=$starEdges cold_pairs=$coldPairs groups=$groups")
        s"""{"scale":$scale,"n":$n,"k":$kFit,"cap":$cap,"fit_sec":${f(fitSec)},""" +
          s""""probe_sec":${f(probeSec)},"n_clusters":${pops.length},""" +
          s""""pop_p50":${pct(0.5)},"pop_p95":${pct(0.95)},"pop_max":$popMax,""" +
          s""""n_hot":${hot.length},"star_edges":$starEdges,""" +
          s""""cold_pairs":$coldPairs,"group_rows":$groups}"""
      }
    }
    val kc = SemanticDedup.DefaultKCeiling
    s"""{"metric":"semantic_pastbind","value":${f(totalSec)},"unit":"sec",""" +
      s""""bind_n":${kc.toLong * SemanticDedup.DefaultClusterTarget},""" +
      s""""cap":${SemanticDedup.recommendedCap(kc)},"k_ceiling":$kc,""" +
      s""""src":"${r.src}","points":[${points.mkString(",")}],""" +
      s""""load_start":${r.loadStart},"load_end":${Bench.loadAvg()}}"""
  }

  // ---- binary ----

  /** Recall of the binary prefilter at a fixed pool falls as the corpus
    * grows: 1 bit/dim Hamming is a coarse angle proxy, so false Hamming
    * neighbours ahead of a true cosine neighbour grow with N. Holding
    * pool/N constant holds recall ([[BinaryQuant.recommendedPool]]).
    * Distinct-mode replicas are the near-uniform worst case. */
  private def runBinary(r: Run): String = {
    val vecMult = sys.env.getOrElse("SPARK_GRAFT_VEC_MULT", "8").toInt
    val pools = Seq(128, 512, 2048)
    val k = 3
    val qids = 0L to 7L
    def pairs(df: DataFrame) = df.select("query_id", "vec_id").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val points = r.scales.flatMap { scale =>
      val dir = r.dir(s"x$scale")
      replicate(r.s, r.src, scale, dir, Seq("embeddings"), "distinct", vecMult)
      val n = Tables.embeddings(r.s, dir).count()
      val exact = pairs(Similarity.batchTopK(r.s, dir, qids, k))
      // untimed first probe pays the write-once bits build
      BinaryQuant.binaryTopK(r.s, dir, qids, k, pools.head).count()
      (pools :+ BinaryQuant.recommendedPool(n)).distinct.map { pool =>
        val (approx, sec) = timed(pairs(BinaryQuant.binaryTopK(r.s, dir, qids, k, pool)))
        val recall = (approx & exact).size.toDouble / (qids.size * k)
        s"""{"scale":$scale,"n":$n,"pool":$pool,"recall":${f(recall, 3)},"probe_sec":${f(sec, 3)}}"""
      }
    }
    s"""{"metric":"binary_recall_scale","k":$k,"n_queries":${qids.size},"vec_mult":$vecMult,"src":"${r.src}","load":[${f(r.loadStart, 3)},${f(Bench.loadAvg(), 3)}],"points":[${points.mkString(",")}]}"""
  }

  // ---- graph ----

  /** Per scale: n_orderpairs (per-order supplier pairs before the
    * minShared threshold, the stage a skewed order would blow up),
    * n_edges, n_triangles (a<b<c, once each), and the wall of the edge
    * build and of the registered end-to-end query. */
  private def runGraph(r: Run): String = {
    def lineitem(name: String, scale: Int): DataFrame = {
      replicate(r.s, r.src, scale, r.dir(name), Seq("lineitem"))
      Tables.lineitem(r.s, r.dir(name))
    }
    val (points, totalSec) = timed {
      Graph.triangleTopNodes(lineitem("warm", 1)).count()
      r.scales.map { scale =>
        val li = lineitem(s"x$scale", scale)
        // stage volumes: untimed accounting scans
        val so = Lineage.pin(li.select(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
          .distinct())
        val nOrderPairs = so.as("x").join(so.as("y"),
          col("x.o") === col("y.o") && col("x.s") < col("y.s")).count()
        val ((e, nEdges), edgesSec) = timed {
          val e = Lineage.pin(Graph.coSupplyEdges(li))
          (e, e.count())
        }
        val nTriangles = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"), col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
          .count()
        val fullSec = timed(Graph.triangleTopNodes(li).count())._2
        println(s"[scale graph] x$scale orderpairs=$nOrderPairs edges=$nEdges " +
          s"triangles=$nTriangles edges_sec=${f(edgesSec)} full_sec=${f(fullSec)}")
        s"""{"scale":$scale,"n_orderpairs":$nOrderPairs,"n_edges":$nEdges,""" +
          s""""n_triangles":$nTriangles,"edges_sec":${f(edgesSec)},"full_sec":${f(fullSec)}}"""
      }
    }
    s"""{"metric":"graph_triangles_attribution","value":${f(totalSec)},"unit":"sec",""" +
      s""""src":"${r.src}","points":[${points.mkString(",")}],""" +
      s""""load_start":${r.loadStart},"load_end":${Bench.loadAvg()}}"""
  }

  /** kind → (default sf, default scales, body). */
  private val kinds: Map[String, (String, String, Run => String)] = Map(
    "family" -> ("sf0.1", "10", runFamily),
    "stream" -> ("sf0.1", "10", runStream),
    "semantic" -> ("sf0.1", "16,24,64,128,256", runSemantic),
    "binary" -> ("sf0.01", "1,10,100", runBinary),
    "graph" -> ("sf0.01", "1,10,100", runGraph))

  def main(args: Array[String]): Unit = {
    val (defaultSf, defaultScales, body) = kinds.getOrElse(args.headOption.getOrElse(""),
      sys.error(s"usage: graft.Scale <${kinds.keys.toSeq.sorted.mkString("|")}> [sfDir]"))
    val src = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/$defaultSf"))
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", defaultScales)
      .split(',').map(_.trim.toInt).toSeq
    val loadStart = Bench.loadAvg()
    val spark = Bench.makeSession(Bench.cpus)
    // the work dir and the cache entries keyed on it go at JVM exit
    val work = TmpDirs.scratch("graft_scale")
    val line =
      try body(Run(spark, src, scales, work, loadStart))
      finally spark.stop()
    println(line)
  }
}
