package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Three `private[sql]`/`private[spark]` access shims the graft SQL
  * surface needs — the standard connector pattern (Delta/Hudi ship the
  * same bridge): build a DataFrame from a parsed-but-unresolved
  * LogicalPlan (the MERGE source subquery), wrap a Catalyst Expression as
  * a user-facing Column (the translated MERGE action expressions), and
  * relax a schema the way a file scan does (the catalog's table schema).
  * Nothing else from the internal surface is touched.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `s` with every field, element and value nullable, at every depth. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
