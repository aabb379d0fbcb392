package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `org.apache.spark.sql` package: Spark 4 made the
  * Column-from-Expression constructor private[sql]
  * (`classic.ExpressionUtils.column`), the supported extension seam for
  * libraries shipping custom Catalyst expressions.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been handled —
    * after it, the status tracker has seen every job submitted before
    * the call.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
