package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan -> DataFrame interop and session cloning (Dataset.ofRows and
  * SparkSession.cloneSession are private[sql]; this shim lives in the sql
  * package tree like ColumnBridge). */
object PlanBridge {
  /** A session sharing `spark`'s state, cache and conf values, whose conf
    * changes stay its own. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
