package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters, for
  * exposing custom Catalyst expressions (graft.functions.CosineSimilarity)
  * through the public Column API. Placing the accessor inside
  * `org.apache.spark.sql` is the standard extension-library pattern for
  * these converters (the supported alternative, SparkSessionExtensions
  * function injection, requires a session at registration time — our
  * function API is session-free Column combinators). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a SQL-callable function
    * in this session's registry — the session-scoped complement to
    * SparkSessionExtensions.injectFunction (which requires hooking
    * session CREATION; graft is a library loaded into an existing
    * session, so it registers the same builder post-hoc). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    registry(spark).createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The builder `name` is bound to in this session's registry, if any. */
  def functionBuilder(spark: SparkSession, name: String)
      : Option[Seq[Expression] => Expression] =
    registry(spark).lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  private def registry(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Apply a SparkSessionExtensions' injected functions to a fresh
    * registry — lets a spec verify a `spark.sql.extensions` entry point
    * (graft.GraftExtensions) without building a second SparkSession
    * (whose builder would return the suite's existing one).
    * `registerFunctions` is private[sql], hence bridged here. */
  def freshRegistryWith(ext: SparkSessionExtensions)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry()
    ext.registerFunctions(reg)
  }
}
