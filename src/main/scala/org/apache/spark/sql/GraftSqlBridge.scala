package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions}

/** Bridge to the classic Column ↔ catalyst Expression converters, which
  * are package-private to org.apache.spark.sql in Spark 4. Compiling this
  * one object into that package is the standard extension-library pattern
  * for exposing custom Catalyst expressions as user-facing Columns.
  */
object GraftSqlBridge {

  def column(e: Expression): Column =
    ClassicConversions.ColumnConstructorExt(Column).apply(e)

  def expression(c: Column): Expression =
    ColumnConversions.expression(c)
}
