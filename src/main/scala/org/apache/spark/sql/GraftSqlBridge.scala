package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into private[sql] helpers for building Columns from custom
  * Catalyst expressions (the supported pattern for native extensions:
  * live inside the sql package like every Spark connector/extension
  * does). Keep this file minimal — only plumbing, no logic. */
object GraftSqlBridge {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression under a SQL function name. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Blocks until every listener-bus event posted so far has been
    * delivered (`listenerBus` is private[spark]). Job and SQL-execution
    * events are posted before the action that caused them returns, so
    * after this a listener has seen all of that action's events — no
    * fixed sleep or poll-until-stable loop needed. */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The persisted RDD behind a checkpointed/pinned DataFrame — lets
    * iterative operators release superseded rounds DETERMINISTICALLY
    * instead of waiting for the ContextCleaner's GC-driven reaping.
    * Deliberately matches ONLY a frame that IS a bare pin (the direct
    * result of localCheckpoint/checkpoint): digging for a LogicalRDD
    * nested under projections could release a pinned SOURCE some
    * caller still needs through a derived frame. */
  def pinnedRddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** `key` in the active SparkContext's conf (`getActive` is
    * private[spark]); None when no context is running or it is unset. */
  def activeContextConf(key: String): Option[String] =
    org.apache.spark.SparkContext.getActive.flatMap(_.conf.getOption(key))
}
