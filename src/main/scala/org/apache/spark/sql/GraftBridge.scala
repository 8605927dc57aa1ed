package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Spark 4 routes
  * Column through ColumnNode for Connect compatibility; extension
  * libraries shipping native Catalyst expressions need this one hop.
  * Also the one hop to `private[spark]` `RDD.doCheckpoint`, for
  * `graft.util.Stage`'s eager checkpoint. It and
  * `org.apache.spark.ListenerBusDrain` are the only files outside the
  * `graft` package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Writes now the checkpoint that a lazy `checkpoint(eager = false)` or
    * `localCheckpoint(eager = false)` marked under `ds`: the one job over
    * every partition that `checkpoint(eager = true)` runs. */
  def checkpointNow(ds: Dataset[_]): Unit = ds.queryExecution.toRdd.doCheckpoint()
}
