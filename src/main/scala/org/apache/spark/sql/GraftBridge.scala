package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge.
  *
  * Spark 4 moved the Expression-backed Column constructor behind
  * `private[sql]` converters (`classic.ExpressionUtils`); extension
  * libraries reach them from inside the `org.apache.spark.sql`
  * package. The one other file outside the `graft` namespace is
  * `org.apache.spark.JobCounter`, for the same reason.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The name of a plain column reference, or None for any computed
    * expression. Spark 4 Columns wrap ColumnNodes (conversion to
    * Catalyst expressions is deferred to analysis), so the reference
    * check must read the node, not the expression.
    */
  def attributeName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
      Some(a.nameParts.mkString("."))
    case _ => None
  }

  /** Non-blocking read of an Observation's metrics row
    * (`Observation.getRowOrEmpty` is `private[spark]`); returns None
    * until the listener delivers the metrics. Unlike `Observation.get`
    * this can never hang the caller on a dropped listener event.
    */
  def observationRow(o: Observation): Option[Row] = o.getRowOrEmpty
}
