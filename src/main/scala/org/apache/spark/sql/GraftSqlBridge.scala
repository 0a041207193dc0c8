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

  /** Register a SQL function on an existing session (sessionState is
    * private[sql]; for new sessions prefer graft.GraftExtensions via
    * `spark.sql.extensions`). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
