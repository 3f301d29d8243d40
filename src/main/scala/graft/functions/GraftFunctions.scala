package graft.functions

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for graft's native expressions: after
  * `GraftFunctions.register(spark)`, `cosine_similarity(a, b)` and
  * `top_k_by_score(score, id, k)` are callable from `spark.sql(...)`
  * exactly like built-ins — the same [[CosineSimilarity]] / bounded
  * [[TopKByScoreAgg]] the Column API uses, no UDF layer.
  *
  * The shared `builders` map also feeds [[graft.GraftExtensions]], the
  * `spark.sql.extensions` builder-time door — one builder definition,
  * two registration paths, identical plans. */
object GraftFunctions {

  /** One SQL function: the expression class its `ExpressionInfo` names,
    * the argument shape its error names, and the builder proper. */
  final class Builder(name: String, val docClass: Class[_], shape: String,
      build: PartialFunction[Seq[Expression], Expression])
      extends (Seq[Expression] => Expression) {
    def apply(args: Seq[Expression]): Expression =
      build.applyOrElse(args, (other: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $shape, got ${other.map(_.sql).mkString(", ")}"))
  }

  private def builder(name: String, docClass: Class[_], shape: String)(
      build: PartialFunction[Seq[Expression], Expression]): (String, Builder) =
    name -> new Builder(name, docClass, shape, build)

  val builders: Map[String, Builder] = Map(
    builder("cosine_similarity", classOf[CosineSimilarity], "(a, b)") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    // k must be a literal int: it sizes the aggregation buffer at
    // planning time, so a column-valued k cannot exist.
    builder("top_k_by_score", classOf[TopKByScoreAgg], "(score, id, k literal int)") {
      case Seq(score, id, Literal(k: Int, IntegerType)) =>
        TopKByScoreAgg(score, id, k).toAggregateExpression()
    },
    builder("nfc_normalize", classOf[NfcNormalize], "(text)") {
      case Seq(s) => NfcNormalize(s)
    },
    // n must be a literal int: it is part of the expression's shape.
    builder("hashed_shingles", classOf[HashedShingles], "(text, n literal int)") {
      case Seq(s, Literal(n: Int, IntegerType)) => HashedShingles(s, n)
    },
    // capacity must be a literal int: it sizes the summary at planning
    // time, like top_k_by_score's k.
    builder("heavy_hitters", classOf[HeavyHittersAgg], "(term, capacity literal int)") {
      case Seq(term, Literal(capacity: Int, IntegerType)) =>
        HeavyHittersAgg(term, capacity).toAggregateExpression()
    },
    // depth/width are literal ints: they size the sketch table at
    // planning time, like heavy_hitters' capacity.
    builder("count_min", classOf[CountMinAgg],
        "(term, depth literal int, width literal int)") {
      case Seq(term, Literal(d: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        CountMinAgg(term, d, w).toAggregateExpression()
    },
    builder("count_min_estimate", classOf[CountMinEstimate],
        "(sketch, term, depth literal int, width literal int)") {
      case Seq(sk, term, Literal(d: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        CountMinEstimate(sk, term, d, w)
    })

  /** Idempotent: a name already bound to its own builder is skipped (a
    * re-bind logs a WARN); a name bound to anything else is replaced. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      if (!GraftColumnBridge.functionBuilder(spark, name).exists(_ eq b))
        GraftColumnBridge.registerFunction(spark, name, b)
    }
}
