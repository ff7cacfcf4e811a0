package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Expression converters.
  *
  * Spark 4.x wraps classic Column internals behind `ColumnNode`; building a
  * [[Column]] from a custom Catalyst [[Expression]] (and back) goes through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is package-private.
  * This object lives in the `org.apache.spark.sql` package tree solely to
  * re-export those two converters for graft's custom expressions.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed LogicalPlan (classic
    * `Dataset.ofRows` is package-private). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(classic, plan)
  }

  /** Append a planner strategy once (idempotent). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraStrategies.contains(strategy))
      classic.experimental.extraStrategies =
        classic.experimental.extraStrategies :+ strategy
  }

  /** Append an optimizer rule once (idempotent) — the running-session
    * counterpart of `GraftExtensions`' injectOptimizerRule. */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraOptimizations.contains(rule))
      classic.experimental.extraOptimizations =
        classic.experimental.extraOptimizations :+ rule
  }

  /** Build a DataFrame straight from an InternalRow RDD
    * (`internalCreateDataFrame` is `private[sql]`): no Row/Catalyst
    * converter pass — the producer hands over rows already in Catalyst
    * physical form (UTF8String, epoch micros, epoch days). */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Register a temp SQL function on an existing session (the
    * `FunctionRegistry` lives behind `sessionState`, also package-private).
    * For session-construction-time registration use
    * [[graft.GraftExtensions]] with `spark.sql.extensions` instead. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** True when the session's CacheManager holds no pinned plans — the
    * cache-hygiene probe (`sharedState` is package-private). Checkpoint
    * blocks don't register here; only `cache()`/`persist()` pins do, so
    * an operator that leaks its cached artifact fails this check while
    * the GC-lifetime localCheckpoint discipline passes. */
  def cacheManagerEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Names of the session's local temp views, read from the session
    * catalog (`sessionState` is package-private): unlike
    * `spark.catalog.listTables()`, this launches no Spark job. */
  def tempViewNames(spark: org.apache.spark.sql.SparkSession): Seq[String] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempViewNames()

  /** Blocks until every listener has processed every event posted so far
    * (`listenerBus` is `private[spark]`). A timeout is reported on stderr,
    * never silent: the caller's listener counters may then be short. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long = 10000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException =>
      System.err.println(s"[graft] WARNING listener bus not drained within $timeoutMs ms")
    }
}
