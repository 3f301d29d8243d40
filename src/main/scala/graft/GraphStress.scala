package graft

import graft.operators.{Graph, Lineage}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedicated capture for VERDICT r16 ask #3: attribute graph_triangles'
  * stress curve (5.51× wall at 100× data, the steepest non-semantic
  * line) with per-stage row counts, so the curve is explained by
  * measurement instead of carried.
  *
  * The scaled corpus re-keys BOTH node columns per replica (the
  * ScaleSmoke lineitem model), so the graph is `scale` DISJOINT copies
  * of the source graph: edge rows, per-order pair volume, and triangle
  * count all grow EXACTLY linearly by construction — any superlinear
  * WALL ratio therefore has to come from the engine, not graph math,
  * and a sublinear one is fixed-overhead amortization. This harness
  * measures, per scale point:
  *
  *   - n_orderpairs: the per-order supplier pair volume (the o-join
  *     output BEFORE the minShared threshold) — the stage that would
  *     blow up on a skewed order;
  *   - n_edges: thresholded co-supply edges;
  *   - n_triangles: full triangle enumeration count (a<b<c, exactly
  *     once each);
  *   - wall for the edge build and for the registered end-to-end query
  *     (edges + two joins + explode/agg/top-k).
  *
  * One JSON line on stdout (the ScaleSmoke artifact convention), with
  * load markers.
  */
object GraphStress {

  private val IdStride = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scales = sys.env.getOrElse("SPARK_GRAFT_GRAPH_SCALES", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg(): Double = try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(' ')(0).toDouble
      catch { case _: Exception => -1.0 }
    val loadStart = loadAvg()
    val work = TmpDirs.scratch("graft_graph_stress")
    val parts = spark.sparkContext.defaultParallelism
    def f(v: Double) = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    val t0All = System.nanoTime()

    def buildLineitem(scale: Int, outPath: String): Unit =
      Tables(spark, srcDir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          explode(sequence(lit(0), lit(scale - 1))).as("rep"))
        .repartition(parts)
        .withColumn("l_orderkey",
          col("l_orderkey").cast("long") + col("rep") * IdStride)
        .withColumn("l_suppkey",
          col("l_suppkey").cast("long") + col("rep") * IdStride)
        .drop("rep")
        .write.mode("overwrite").parquet(outPath)

    // JIT/codegen warm-up (the ScaleSmoke warmDir discipline)
    val warmPath = work.resolve("warm").toString
    buildLineitem(1, warmPath)
    Graph.triangleTopNodes(spark.read.parquet(warmPath)).count()

    val points = scales.map { scale =>
      val path = work.resolve(s"x$scale").toString
      buildLineitem(scale, path)
      val li = spark.read.parquet(path)
      // stage volumes (untimed accounting scans)
      val so = Lineage.pin(li.select(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
        .distinct())
      val nOrderPairs = so.as("x").join(so.as("y"),
        col("x.o") === col("y.o") && col("x.s") < col("y.s")).count()
      val tEdges = System.nanoTime()
      val e = Lineage.pin(Graph.coSupplyEdges(li))
      val nEdges = e.count()
      val edgesSec = (System.nanoTime() - tEdges) / 1e9
      val nTriangles = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
        .count()
      // the registered end-to-end query, timed
      val tFull = System.nanoTime()
      Graph.triangleTopNodes(li).count()
      val fullSec = (System.nanoTime() - tFull) / 1e9
      println(s"[graphstress] x$scale orderpairs=$nOrderPairs " +
        s"edges=$nEdges triangles=$nTriangles edges_sec=${f(edgesSec)} " +
        s"full_sec=${f(fullSec)}")
      s"""{"scale":$scale,"n_orderpairs":$nOrderPairs,"n_edges":$nEdges,""" +
        s""""n_triangles":$nTriangles,"edges_sec":${f(edgesSec)},""" +
        s""""full_sec":${f(fullSec)}}"""
    }
    val totalSec = (System.nanoTime() - t0All) / 1e9
    println(s"""{"metric":"graph_triangles_attribution",""" +
      s""""value":${f(totalSec)},"unit":"sec","src":"$srcDir",""" +
      s""""points":[${points.mkString(",")}],""" +
      s""""load_start":$loadStart,"load_end":${loadAvg()}}""")
    spark.stop()
  }
}
