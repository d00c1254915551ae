package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column <-> Expression
  * conversions (Spark 4.x moved `Column` onto ColumnNode; the classic
  * converter lives at `org.apache.spark.sql.classic.ExpressionUtils`). This
  * is the standard pattern third-party Catalyst extensions use to expose a
  * custom Expression as a user-facing `Column`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
