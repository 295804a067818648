package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` constructors the public API does not expose
  * (the accepted ecosystem pattern is a one-function shim compiled into
  * the `org.apache.spark.sql` package):
  *
  *  - building a DataFrame from a hand-constructed [[LogicalPlan]] (the
  *    entry point every custom-logical-operator library needs — Spark's
  *    own `Dataset.ofRows` is `private[sql]`);
  *  - converting between a [[Column]] and a Catalyst [[Expression]], so
  *    native expressions can be used as typed Columns without a
  *    function-registry lookup.
  *
  * Nothing else may live here: all graft logic stays under `graft.*`,
  * this file only re-exports the constructors.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
