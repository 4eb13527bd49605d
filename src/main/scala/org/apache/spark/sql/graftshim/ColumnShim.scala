package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between catalyst `Expression` and the public `Column` API.
  * `ExpressionUtils` is `private[sql]` in Spark 4, so this shim lives under
  * `org.apache.spark.sql` — the standard pattern for libraries shipping
  * custom catalyst expressions.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
