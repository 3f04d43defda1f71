package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}

/** Bridge to `private[sql]` Spark internals: the Column↔Expression
  * converters — the sanctioned pattern for libraries that define
  * custom Catalyst expressions against Spark 4's column-node API —
  * and the internal-row DataFrame factory.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` with a driver-held leaf (a LocalRelation once optimized) cut
    * to an RDD-backed leaf over the same internal rows, so expressions
    * above it run in tasks: on a LocalRelation, Spark's
    * ConvertToLocalRelation rule evaluates them at optimization time,
    * single-threaded on the driver. Any other frame is returned as is.
    */
  def onExecutors(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming =>
        val spark = df.sparkSession.asInstanceOf[SparkSession]
        spark.internalCreateDataFrame(
          spark.sparkContext.parallelize(l.data), l.schema)
      case _ => df
    }
}
