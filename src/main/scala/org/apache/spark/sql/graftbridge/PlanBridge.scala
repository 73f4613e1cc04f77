package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.classic

/** Spark 4 made building a DataFrame from a logical plan `private[sql]`
  * (`classic.Dataset.ofRows`). This object lives under the sql package
  * only to re-export the one plan rewrite the engine needs; no Spark
  * internals are modified. */
object PlanBridge {
  /** `df` without its `observe` nodes: the same rows, but an action on it
    * binds none of the `Observation`s that `df` carries. An Observation
    * keeps the metrics of the first action that runs its node, so a side
    * job over a prefix of a plan whose write should report them runs on
    * this. */
  def unobserved(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transformUp {
      case c: CollectMetrics => c.child
    }
    classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }
}
