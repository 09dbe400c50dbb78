package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 decoupled Column from catalyst Expressions; the converters live
  * in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * private[sql]. This bridge (in a subpackage of org.apache.spark.sql, the
  * standard pattern for library-side custom expressions) re-exports just
  * the two conversions graft needs to expose native expressions as
  * Columns, plus the one private[sql] error constructor a native kernel
  * raises to match a built-in's error class.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** element_at's ANSI out-of-range error (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). */
  def invalidElementAtIndexError(index: Int, numElements: Int): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidElementAtIndexError(index, numElements, null)
}
