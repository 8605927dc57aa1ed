package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Spark 4 routes
  * Column through ColumnNode for Connect compatibility; extension
  * libraries shipping native Catalyst expressions need this one hop.
  * It and `org.apache.spark.ListenerBusDrain` are the only files
  * outside the `graft` package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
