package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]`, so the one place that needs it (wrapping our custom
  * codegen [[graft.functions.DotScaledExpr]] as a user-facing Column)
  * goes through this shim living under the sql package namespace — the
  * standard extension-point pattern for libraries that add native
  * expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The session's UUID — `private[sql]` on the classic session, read
  * through the same shim. Unlike an identity hash it is never reused by
  * a later session, so caches keyed on it cannot alias across sessions. */
object SessionBridge {
  def uuid(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
