package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Session-scoped planning the engine needs without writing its own
  * session's conf. `cloneSession` and `Dataset.ofRows` are private[sql].
  */
object SessionBridge {

  /** `df.localCheckpoint(false)` with the checkpointed subtree planned
    * on a clone of `df`'s session that has AQE off, returned on `df`'s
    * own session. Without AQE the physical plan's output partitioning is
    * known at planning time, and the checkpoint records it, so
    * consumers keyed on the same columns plan no exchange. The caller's
    * session conf is never written: concurrent planning on it is
    * unaffected.
    */
  def localCheckpointKeepingLayout(df: DataFrame): DataFrame = {
    val own = df.sparkSession.asInstanceOf[SparkSession]
    val planner = own.cloneSession()
    planner.sessionState.conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED,
      false)
    val checkpointed = Dataset.ofRows(planner,
      df.asInstanceOf[Dataset[_]].logicalPlan).localCheckpoint(false)
    Dataset.ofRows(own, checkpointed.logicalPlan)
  }
}
