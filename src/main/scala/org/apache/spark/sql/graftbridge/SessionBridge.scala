package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
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
  def localCheckpointKeepingLayout(df: DataFrame): DataFrame =
    withConf(df.sparkSession, SQLConf.ADAPTIVE_EXECUTION_ENABLED.key,
      "false") { planner =>
      Dataset.ofRows(planner.asInstanceOf[SparkSession],
        df.asInstanceOf[Dataset[_]].logicalPlan).localCheckpoint(false)
    }

  /** The frame `mk` builds on a clone of `spark` whose conf also holds
    * `key = value`, returned on `spark` itself. Reads planned on the
    * clone carry the setting into their scans; `spark`'s conf is never
    * written. `mk` should end in a checkpoint, so that nothing under it
    * is re-planned on `spark`.
    */
  def withConf(spark: ApiSession, key: String, value: String)(
      mk: ApiSession => DataFrame): DataFrame = {
    val own = spark.asInstanceOf[SparkSession]
    val planner = own.cloneSession()
    planner.sessionState.conf.setConfString(key, value)
    Dataset.ofRows(own, mk(planner).asInstanceOf[Dataset[_]].logicalPlan)
  }
}
