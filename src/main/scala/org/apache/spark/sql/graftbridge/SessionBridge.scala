package org.apache.spark.sql.graftbridge

import java.lang.ref.SoftReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession => ApiSession}
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
    * is re-planned on `spark`. The clone is reused as in
    * [[collectWithConf]].
    */
  def withConf(spark: ApiSession, key: String, value: String)(
      mk: ApiSession => DataFrame): DataFrame = {
    val own = spark.asInstanceOf[SparkSession]
    Dataset.ofRows(own,
      mk(reusedClone(own, key, value)).asInstanceOf[Dataset[_]].logicalPlan)
  }

  /** `df.collect()`, planned and run on a clone of `df`'s session whose
    * conf also holds `key = value`; `df`'s session conf is never written.
    * There is one clone per (session, key, value), reused while the
    * session's conf stays the same: a fresh clone plans its first query
    * about 0.1 s slower than one that has planned before.
    */
  def collectWithConf(df: DataFrame, key: String, value: String): Array[Row] =
    Dataset.ofRows(
      reusedClone(df.sparkSession.asInstanceOf[SparkSession], key, value),
      df.asInstanceOf[Dataset[_]].logicalPlan).collect()

  /** A session's clones by setting, each with the session conf it was
    * cloned from.
    */
  private type Planners =
    Map[(String, String), (Map[String, String], SparkSession)]

  /** The clones per session. A clone reaches its parent session, so
    * they are held softly: the session can still be collected once
    * memory runs short.
    */
  private val planners =
    new java.util.WeakHashMap[SparkSession, SoftReference[Planners]]

  private def reusedClone(own: SparkSession, key: String,
      value: String): SparkSession = planners.synchronized {
    val confs = own.sessionState.conf.getAllConfs
    val memo: Planners = Option(planners.get(own)).flatMap(r => Option(r.get))
      .getOrElse(Map.empty)
    memo.get((key, value)) match {
      case Some((`confs`, planner)) => planner
      case _ =>
        val planner = own.cloneSession()
        planner.sessionState.conf.setConfString(key, value)
        planners.put(own,
          new SoftReference(memo.updated((key, value), (confs, planner))))
        planner
    }
  }
}
