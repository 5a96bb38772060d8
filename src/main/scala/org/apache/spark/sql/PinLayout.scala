package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge for [[graft.operators.Materialize]]: the hash layout of an eager
  * pin. Lives in `org.apache.spark.sql` because `classic.Dataset.ofRows`
  * is `private[sql]`.
  *
  * With adaptive execution on, `checkpoint` and `localCheckpoint` record
  * `UnknownPartitioning(0)` on the pin's `LogicalRDD`, because the plan's
  * layout is only known once its final adaptive plan has run. A join of the
  * pin on its hash key then re-shuffles it. After an eager pin the final
  * plan is known, so its layout can be kept.
  */
object PinLayout {

  /** `pin` (an eager checkpoint of `source`) with the hash partitioning of
    * `source`'s final plan when that is a plain `HashPartitioning` over the
    * pin's columns with the pinned RDD's partition count; `pin` unchanged
    * otherwise (coalesced, range and unknown layouts, and pins that already
    * carry a partitioning). Row statistics and constraints are kept. */
  def keepHashLayout(source: DataFrame, pin: DataFrame): DataFrame = {
    val finalLayout: Partitioning = source.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning
      case p => p.outputPartitioning
    }
    (pin.queryExecution.logical, finalLayout) match {
      case (r: LogicalRDD, h: HashPartitioning)
          if r.outputPartitioning != h &&
            h.numPartitions == r.rdd.getNumPartitions &&
            h.references.subsetOf(r.outputSet) =>
        val session = pin.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, r.copy(outputPartitioning = h)(
          session, Some(r.computeStats()), Some(r.constraints)))
      case _ => pin
    }
  }
}
