package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge to Spark internals that are `private[sql]` at the Scala level
 * (public in bytecode). Same technique the reference uses by placing its
 * UDTs in org.apache.spark.sql.rf
 * (/root/reference/core/src/main/scala/org/apache/spark/sql/rf/).
 */
object shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  /** Eager ColumnNode→Expression conversion. `expression` wraps the node
    * in a lazy ColumnNodeExpression, which the Dataset API resolves but
    * the SQL function-registry path hands to codegen unconverted; this
    * produces plain (possibly Unresolved*) Catalyst nodes the analyzer
    * handles in any path. */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.GraftColumnConverter.eager(c.node)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
  /** Session-level planner hooks (`experimental` lives on the classic
    * session only). */
  def experimental(spark: SparkSession): org.apache.spark.sql.ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
  /** Block until every queued SparkListener event is delivered —
    * deterministic metric collection in tests (listenerBus is
    * private[spark]). */
  def waitForListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
  /** The session's own `SQLConf`. Unlike `RuntimeConfig.set`, its
    * `setConfString` does not refuse static confs. */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
}
