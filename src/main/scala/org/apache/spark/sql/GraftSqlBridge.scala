package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** Thin bridge into the `private[sql]` classic APIs that a whole-operator
  * extension needs: wrapping a custom [[LogicalPlan]] node back into a
  * DataFrame and unwrapping a [[Column]] to its Catalyst [[Expression]].
  * This is the standard pattern for libraries that inject custom plans
  * (the injection points themselves — `SparkSessionExtensions` — are
  * public, but plan construction helpers are package-private). Kept to
  * these conversions; everything else in graft uses public APIs.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's own SQL conf (the one its queries analyze under). */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Eagerly convert a Column to its Catalyst expression with the
    * session-bound converter (the static `ExpressionUtils.expression`
    * wraps lazily in a `ColumnNodeExpression`, which never resolves
    * inside a hand-built logical node and is not task-serializable).
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Inverse of [[expression]]: wrap a Catalyst expression into a Column.
    * Needed for built-in expressions Spark ships but does not register in
    * the SQL function registry (e.g. the bloom-filter aggregate pair that
    * powers runtime filtering).
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A Column as an expression that is resolved later, when a session
    * converts the Column that encloses it (a `select` over a
    * [[column]]-wrapped custom expression built from Columns). Unlike
    * [[expression]] it needs no session; use it only for children of an
    * expression that goes back into a Column.
    */
  def deferred(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The error a map builder raises for a duplicate string key under
    * `spark.sql.mapKeyDedupPolicy=EXCEPTION`.
    */
  def duplicateMapKey(key: String): RuntimeException =
    QueryExecutionErrors.duplicateMapKeyFoundError(UTF8String.fromString(key))
}
