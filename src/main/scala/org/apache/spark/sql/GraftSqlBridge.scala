package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** Bridge to the classic Column ↔ catalyst Expression converters and
  * `Dataset.ofRows`, package-private to org.apache.spark.sql in Spark 4.
  * Compiling this one object into that package is the standard
  * extension-library pattern for exposing custom Catalyst expressions as
  * user-facing Columns.
  */
object GraftSqlBridge {

  def column(e: Expression): Column =
    ClassicConversions.ColumnConstructorExt(Column).apply(e)

  def expression(c: Column): Expression =
    ColumnConversions.expression(c)

  /** The files a file stream lists now, as one batch DataFrame: each
    * file `StreamingRelation` becomes the batch relation over the same
    * files with the same output attributes. None when it lists no file.
    * Only plans that mean the same as a batch pass — file sources under
    * projections, filters, generators, unions and inner stream–static
    * joins; any other node (non-file source, aggregate, dedup, watermark,
    * `*GroupsWithState`, stream–stream join) fails with an
    * IllegalArgumentException naming it. */
  def boundedFileBatch(stream: DataFrame): Option[DataFrame] = {
    val ds = ClassicConversions.castToImpl(stream)
    val plan = ds.queryExecution.analyzed
    plan.foreach {
      case p if !p.isStreaming =>
      case r: StreamingRelation
        if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
      case _: Project | _: Filter | _: SubqueryAlias | _: Generate | _: Union =>
      case j: Join if j.joinType == Inner && !(j.left.isStreaming && j.right.isStreaming) =>
      case p => throw new IllegalArgumentException(
        s"not a bounded file stream: cannot land ${p.nodeName} as one batch " +
          s"(${p.simpleString(5)})")
    }
    var files = 0
    val batch = plan.transform { case r: StreamingRelation =>
      val rel = r.dataSource.resolveRelation(checkFilesExist = false)
      files += rel.asInstanceOf[HadoopFsRelation].inputFiles.length
      LogicalRelation(rel, r.output.map(_.asInstanceOf[AttributeReference]),
        None, false, None)
    }
    if (files == 0) None else Some(classic.Dataset.ofRows(ds.sparkSession, batch))
  }
}
