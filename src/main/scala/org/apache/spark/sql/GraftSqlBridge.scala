package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's `private[sql]` plan→Dataset constructor, the standard
  * technique third-party Catalyst extensions (Sedona, Delta, …) use to
  * surface custom logical operators as DataFrames. This is the only file in
  * the repo living inside Spark's namespace, and it contains no logic.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → Catalyst Expression (Spark 4 moved `.expr` behind the
    * ColumnNode decoupling).
    */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Catalyst Expression → Column, the inverse of [[expr]] — lets internal
    * helpers build Columns over custom expressions without a session-bound
    * function-registry round-trip.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A frame over already-materialized rows: one `LogicalRDD` leaf bound to
    * `spark`. The attributes keep their ids, so a plan over it is the plan
    * over the frame the rows were checkpointed from.
    */
  def ofRdd(spark: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow], partitioning: Partitioning,
      ordering: Seq[SortOrder], stats: Statistics,
      constraints: ExpressionSet): DataFrame =
    ofRows(spark, LogicalRDD(output, rdd, partitioning, ordering)(
      spark.asInstanceOf[classic.SparkSession], Some(stats), Some(constraints)))
}
