package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}

/** Bridge to `private[sql]` Spark internals: the Column↔Expression
  * converters — the sanctioned pattern for libraries that define
  * custom Catalyst expressions against Spark 4's column-node API —
  * and the internal-row DataFrame factory, for the two leaves below.
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

  /** `df` as a leaf over the internal rows of its executed plan: a
    * lineage cut. Plans over the result stop at an RDD leaf instead of
    * re-analysing and re-optimizing `df`'s whole tree, while the RDD
    * keeps its recompute lineage (it reads `df`'s cache when `df` is
    * persisted). Unlike `createDataFrame(df.rdd, df.schema)` it runs
    * no SQL execution of its own and never converts a row to an
    * external `Row` and back. Not `ops.Materialize.cut`, which
    * materializes eagerly and drops the lineage.
    */
  def lineageLeaf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }
}
