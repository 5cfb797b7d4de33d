package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset, SparkSession => CSparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` surface needed to hand a custom
  * `LogicalPlan`, or an RDD of catalyst rows, back to the public
  * `DataFrame` API — the standard
  * technique for third-party whole-operator extensions (a planner
  * strategy can PLAN a custom node, but only `Dataset.ofRows` can
  * wrap one into a DataFrame). This is the only file in the repo
  * living outside the `graft` namespace, and it contains no logic.
  */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[CSparkSession], plan): CDataFrame

  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[CSparkSession].internalCreateDataFrame(rows, schema): CDataFrame
}
