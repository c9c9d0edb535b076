package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}

/** Execution counts of one attribution key (a job group, or a streaming
  * query's run id plus batch id). */
final class ExecCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var spillBytes = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one running stage (union of intervals). */
  def stageBusyMs: Long = {
    var busy = 0L; var curS = -1L; var curE = -1L
    stageIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
    "task_gc_ms" -> taskGcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "stage_busy_ms" -> stageBusyMs)
}

/** SparkListener that attributes jobs, stages and tasks to the job group (or
  * streaming batch) that submitted them, never to arrival order. It holds
  * ids and numbers only: no plan, RDD or DataFrame is retained. */
final class ExecTracker extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, ExecCounts]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def counts(key: String): ExecCounts =
    byKey.computeIfAbsent(key, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    group.foreach { g =>
      val key = batch.fold(g)(b => s"$g#$b")
      val c = counts(key)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageKey.put(_, key))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageKey.get(info.stageId)).foreach { key =>
      val c = counts(key)
      c.synchronized {
        c.stages += 1
        for (s <- info.submissionTime; f <- info.completionTime) c.stageIntervals += ((s, f))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { key =>
      val c = counts(key)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Remove and return the counts of `key`, after draining the bus so every
    * event posted before this call has been delivered. */
  def take(sc: SparkContext, key: String): ExecCounts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val c = Option(byKey.remove(key)).getOrElse(new ExecCounts)
    stageKey.values().removeIf(_ == key)
    c
  }

  /** Remove and return every key with the given prefix. */
  def takePrefix(sc: SparkContext, prefix: String): Map[String, ExecCounts] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val keys = byKey.keySet().asScala.filter(_.startsWith(prefix)).toSeq
    stageKey.values().removeIf(_.startsWith(prefix))
    keys.flatMap(k => Option(byKey.remove(k)).map(k -> _)).toMap
  }
}

/** Exchange, broadcast and scan counts of a physical plan, by tree walk
  * through adaptive wrappers, query stages and subqueries. */
object PlanWalk {
  final case class Shape(exchanges: Int, broadcasts: Int, scans: Int)

  def shape(root: SparkPlan): Shape = {
    var ex = 0; var bc = 0; var sc = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => return
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
}

/** JVM-level readings: GC time and old-generation occupancy after GC. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads), in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Old-gen bytes in use after its most recent collection. */
  def oldGenAfterGcMb: Double =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0).getOrElse(0.0)

  /** Full GC, then a short pause so the ContextCleaner can reap what it
    * freed before the next timed window. */
  def collect(): Unit = { System.gc(); Thread.sleep(100) }

  /** Old-gen MB still reachable at the end of a run: a full GC, time for the
    * ContextCleaner to drop the broadcasts and shuffles it found dead, and
    * a second full GC. Readings between queries still hold that pending
    * garbage and vary with which query ran last. */
  def retainedMb(): Double = { System.gc(); Thread.sleep(500); System.gc(); oldGenAfterGcMb }
}
