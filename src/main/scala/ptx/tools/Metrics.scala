package ptx.tools

import java.util.{Collections, IdentityHashMap}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one execution record tests and tools share: what a body ran, read
  * from the listener bus ([[during]]), and the shape of a physical plan,
  * read from its tree ([[shape]]). Record fields carry the names of
  * perfbench's trace, so a Probe line and a trace line diff directly.
  *
  * This is the only place that listens to Spark: a GuardrailSpec source
  * scan fails on a listener declared or registered anywhere else.
  */
object Metrics extends AdaptiveSparkPlanHelper {
  /** One job a window saw start, with its wall time from the start and end
    * events' timestamps (-1 when it had not ended by the window's close). */
  final case class Job(id: Int, wallMs: Long)

  /** What one window's body ran: every job on the context, their stages and
    * tasks, and the executed plans of the SQL executions of the window's
    * session that finished in it. */
  final case class Record(jobs: Seq[Job], stages: Int, tasks: Int, taskRunMs: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, plans: Seq[SparkPlan]) {
    def fields: Seq[(String, Any)] = Seq(
      "jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks, "task_run_ms" -> taskRunMs,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes)
  }

  /** Runs `body` and returns its value with the record of what it ran.
    *
    * The bus is drained before listening starts, so no event of earlier
    * work lands here, and again once `body` has returned: the scheduler
    * posts a job's, stage's and task's events before the action waiting on
    * them returns, and a SQL execution posts its end before its action
    * returns, so after the drain the record is complete, with no poll.
    * Jobs are counted context-wide, on whatever thread started them
    * (`Jobs.par` runs bodies on pool threads, which carry no job group). */
  def during[A](spark: SparkSession)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val window = new Window
    org.apache.spark.MetricsBus.drain(sc)
    sc.addSparkListener(window)
    spark.listenerManager.register(window)
    try {
      val a = body
      org.apache.spark.MetricsBus.drain(sc)
      (a, window.record)
    } finally {
      sc.removeSparkListener(window)
      spark.listenerManager.unregister(window)
    }
  }

  private final class Window extends SparkListener with QueryExecutionListener {
    private val jobStarts = mutable.LinkedHashMap.empty[Int, Long]
    private val jobEnds = mutable.HashMap.empty[Int, Long]
    private var stages, tasks = 0
    private var taskRunMs, shuffleWriteBytes, shuffleReadBytes = 0L
    private val plans = mutable.ArrayBuffer.empty[SparkPlan]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobStarts(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(jobEnds(e.jobId) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskRunMs += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(plans += qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()

    def record: Record = synchronized {
      val jobs = jobStarts.toSeq.map { case (id, t0) => Job(id, jobEnds.get(id).fold(-1L)(_ - t0)) }
      Record(jobs, stages, tasks, taskRunMs, shuffleWriteBytes, shuffleReadBytes, plans.toSeq)
    }
  }

  /** Shuffle exchanges, broadcast exchanges and file scans of a plan. */
  final case class Shape(exchanges: Int, broadcasts: Int, scans: Int)

  /** The shape of `df`'s executed plan: after an action on `df`, its final
    * adaptive plan. */
  def shape(df: DataFrame): Shape = shape(df.queryExecution.executedPlan)

  /** Counts by tree walk, as perfbench's `PlanWalk.shape` does: through
    * adaptive wrappers, query stages and subqueries, skipping reused
    * exchanges. The one difference: each distinct cached relation's plan is
    * walked once (keyed on its cache builder), as if it ran inside the
    * query. Read on a cleared cache, where the query builds its own pins,
    * that counts the work the query caused; a pin some earlier query filled
    * is counted too. */
  def shape(root: SparkPlan): Shape = {
    var ex, bc, sc = 0
    val cached = Collections.newSetFromMap(new IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => return
        case m: InMemoryTableScanExec =>
          val builder = m.relation.cacheBuilder
          if (cached.add(builder)) walk(builder.cachedPlan)
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _: FileSourceScanExec | _: BatchScanExec => sc += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    Shape(ex, bc, sc)
  }

  /** The most rows any one broadcast of `df`'s final adaptive plan was
    * built from, by its stage's runtime statistics; 0 when nothing was
    * broadcast. Read after `df` has run: only materialized stages exist. */
  def maxBroadcastRows(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BroadcastQueryStageExec => b.getRuntimeStatistics.rowCount.fold(0L)(_.toLong)
    }.foldLeft(0L)(math.max)
}
