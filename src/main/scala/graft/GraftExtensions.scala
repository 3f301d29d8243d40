package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.{RewriteRankLimit, TopKPerGroupStrategy}

/** Spark-native deployment entry point: graft's custom Catalyst
  * expressions as a session EXTENSION, so a cluster user enables the
  * whole function surface with configuration only —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — and every session built afterwards resolves `cosine_similarity(a,
  * b)` and `top_k_by_score(score, id, k)` in SQL. This is the
  * builder-time complement of [[graft.functions.GraftFunctions.register]]
  * (which post-hoc registers the same builders on an EXISTING session —
  * the library-import path); both consume
  * [[graft.functions.GraftFunctions.builders]], so plans are identical
  * whichever door registered the function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(builder.docClass.getName, name),
        builder))
    }
    // Whole-operator extension (graft.plans.TopKPerGroup): rewrite
    // row_number-limit windows into the bounded-heap top-k operator.
    ext.injectOptimizerRule(_ => RewriteRankLimit)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}
