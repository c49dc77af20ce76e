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
    classic(spark).cloneSession()

  /** Make `to`'s session conf exactly `from`'s plus `extra`, static and
    * core keys included, as `cloneSession` does (`conf.set` rejects those). */
  def copyConf(from: SparkSession, to: SparkSession, extra: Seq[(String, String)]): Unit = {
    val want = classic(from).sessionState.conf.getAllConfs ++ extra
    val conf = classic(to).sessionState.conf
    (conf.getAllConfs.keySet -- want.keySet).foreach(conf.unsetConf)
    want.foreach { case (k, v) => conf.setConfString(k, v) }
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)
}
