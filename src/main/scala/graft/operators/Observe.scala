package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Job-metric observation (reference SURVEY §2 row "Accumulator metrics" —
  * the reference threads Spark accumulators through transformers to count
  * hits/misses; the modern Spark surface is `Dataset.observe`, which
  * attaches aggregate metrics to the SAME job instead of a second action
  * and is exactly-once under task retries, which accumulators are not). */
object Observe {

  /** Attach metrics to `df`, run `action` (exactly one Spark action), and
    * return (action result, observed metric values by name). The values are
    * published asynchronously after the action returns; they are waited for
    * at most 5 s, and the map is empty when they did not arrive (the caller
    * falls back to computing them with a job of its own).
    *
    * Example:
    * {{{
    * val (cnt, m) = Observe.withMetrics(joined,
    *   avg(col("hit").cast("double")).as("hit_ratio"))(_.count())
    * }}} */
  def withMetrics[T](df: DataFrame, metrics: Column*)
                    (action: DataFrame => T): (T, Map[String, Any]) = {
    val obs = Observation()
    val result = action(df.observe(obs, metrics.head, metrics.tail: _*))
    (result, Try(Await.result(obs.future, 5.seconds))
      .fold(_ => Map.empty, r => r.getValuesMap[Any](r.schema.fieldNames.toSeq)))
  }
}
