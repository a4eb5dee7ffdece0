package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for the engine's native kernels.
  *
  * Spark 4 routes the public Column API through ColumnNodes and keeps
  * the classic converters `private[sql]`; this one-file shim lives in
  * an `org.apache.spark.sql` subpackage purely to re-export the two
  * conversions `graft.functions.Kernel` needs. No Spark
  * internals are modified or shadowed.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
