package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A Column over an expression Spark's parser produced — a routed DML
  * statement's WHERE, SET values and RETURNING items. Lives in an
  * `org.apache.spark.sql` subpackage for the `private[sql]` wrapper. */
object ParsedColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
