package ptx.tools

import java.lang.ref.WeakReference
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability surface: a QueryExecutionListener that records per-query
  * physical-plan metrics (output rows, scan/shuffle activity) so plan
  * regressions — a lost pushdown, an unexpected exchange — can be asserted
  * programmatically, not just eyeballed in explain output.
  *
  * Scale note: listeners run on the driver on query completion; recording
  * is O(plan size), never touches executor data paths.
  */
class MetricsListener extends QueryExecutionListener {
  /** `plan` is a weak reference to the recorded execution's executedPlan:
    * enough to match an execution by identity (see [[recordOf]]) without
    * pinning whole physical plans for the listener's lifetime. */
  case class QueryMetrics(name: String, durationNs: Long, numExchanges: Int,
                          numScans: Int, outputRows: Option[Long],
                          plan: WeakReference[AnyRef])

  private val recorded = mutable.ArrayBuffer.empty[QueryMetrics]

  def snapshot: Seq[QueryMetrics] = recorded.synchronized(recorded.toSeq)
  def clear(): Unit = recorded.synchronized(recorded.clear())

  /** The record of `df`'s own execution, polled for up to 5 s.
    * Listener delivery is async on a shared bus, so a freshly installed
    * listener can still receive a lagging event from an earlier query;
    * matching `plan eq df.queryExecution.executedPlan` attributes the
    * record to the exact execution measured, never to a neighbor. */
  def recordOf(df: DataFrame): Option[QueryMetrics] = {
    val plan = df.queryExecution.executedPlan
    val deadline = System.nanoTime() + 5_000_000_000L
    var hit = snapshot.find(_.plan.get eq plan)
    while (hit.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      hit = snapshot.find(_.plan.get eq plan)
    }
    hit
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    // AdaptiveSparkPlanExec hides its subtree from TreeNode.collect, but its
    // rendered tree (with the final adaptive plan) includes every node —
    // count node lines, which is stable across plan wrappers.
    // AQE renders "== Final Plan ==" followed by "== Initial Plan ==";
    // count only the final plan or every node would be counted twice
    val full = qe.executedPlan.toString
    val rendered = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    val lines = rendered.linesIterator.toSeq
    val exchanges = lines.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    val scans = lines.count(_.contains("Scan "))
    val rows = qe.executedPlan.metrics.get("numOutputRows").map(_.value)
    recorded.synchronized {
      recorded += QueryMetrics(funcName, durationNs, exchanges, scans, rows,
        new WeakReference(qe.executedPlan))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
}

object Metrics extends AdaptiveSparkPlanHelper {
  /** Installs and returns a listener on the session. */
  def install(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.listenerManager.register(l)
    l
  }

  /** The most rows any one broadcast of `df`'s final adaptive plan was
    * built from, by its stage's runtime statistics; 0 when nothing was
    * broadcast. Read after `df` has run: only materialized stages exist. */
  def maxBroadcastRows(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BroadcastQueryStageExec => b.getRuntimeStatistics.rowCount.fold(0L)(_.toLong)
    }.foldLeft(0L)(math.max)
}
