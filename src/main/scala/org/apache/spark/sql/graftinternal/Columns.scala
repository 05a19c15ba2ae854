package org.apache.spark.sql.graftinternal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for expressions that cannot
  * go through the function registry (graft.functions.ArrayKernels: each
  * carries its own kernel closure, as `ScalaUDF` does). `ExpressionUtils`
  * is `private[sql]`, hence this one-object shim next to PinnedLayout. */
object Columns {

  def of(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
