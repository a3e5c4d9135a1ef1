package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.util.AccumulatorContext

/** Whether an observation node's accumulator ever received a task
  * update. `CollectMetricsExec.accumulatorId` is `private[sql]` and
  * `AccumulatorContext` is `private[spark]`, so the lookup lives inside
  * the `org.apache.spark.sql` namespace (the same bridge pattern as
  * [[ColumnBridge]]). An id that is no longer registered reads as not run.
  */
object ObservationBridge {
  def ran(c: CollectMetricsExec): Boolean =
    AccumulatorContext.get(c.accumulatorId).exists(!_.isZero)
}
