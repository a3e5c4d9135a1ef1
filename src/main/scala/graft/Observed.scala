package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.ObservationBridge

/** Reader for `Dataset.observe` metrics on BATCH queries.
  *
  * `QueryExecution.observedMetrics` misses `CollectMetricsExec` nodes that
  * end up inside an AQE `ResultQueryStageExec` (Spark 4 wraps the whole
  * final plan in one; query stages are leaf nodes, so the stock traversal
  * never descends into them). This walker recurses through adaptive plans,
  * query stages, cached relations, and subqueries — so library metrics like
  * the LSH hot-bucket trim counters ([[graft.operators.Dedup]]) are
  * readable after any action on the very DataFrame that ran.
  *
  * Streaming queries don't need this: `StreamingQueryProgress
  * .observedMetrics` already surfaces per-batch observations.
  */
object Observed {

  /** All observation results reachable from the dataset's executed plan,
    * keyed by observation name. Call AFTER an action has run on this very
    * dataset. An observation whose node never ran is left out rather than
    * read as zeros: `count()` executes a separate `groupBy().count()`
    * plan, so after it the frame's own nodes report nothing. A node that
    * ran but saw no rows is left out the same way. */
  def metrics(ds: Dataset[_]): Map[String, Row] = {
    var out = Map.empty[String, Row]
    def visit(p: SparkPlan): Unit = {
      p match {
        case c: CollectMetricsExec =>
          if (ObservationBridge.ran(c)) out += (c.name -> c.collectedMetrics)
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case t: InMemoryTableScanExec => visit(t.relation.cachedPlan)
        case _ => ()
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(ds.queryExecution.executedPlan)
    out
  }
}
