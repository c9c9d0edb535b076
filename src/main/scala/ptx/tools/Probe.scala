package ptx.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The measurement harness for registered queries, plus the session and
  * timing helpers every `ptx.tools` main shares.
  *
  *   sbt "runMain ptx.tools.Probe [--explain] [query...]"   (all keys if none)
  *
  * SPARK_GRAFT_SF_DIR picks the fixture dir (default sf0.1) and
  * SPARK_GRAFT_CPUS the local core count (default: every available core).
  * Per query it runs graft.Bench's loop — one untimed warm run, a blocking
  * `releaseAll`, a GC tick, then three timed full-materialization runs
  * (`toRdd.count`, every output column evaluated) with `releaseAll` after
  * each — and prints one line: every run time, the median and the minimum;
  * the last run's Catalyst phase times; the jobs, stages, tasks and summed
  * task time that run scheduled (frame construction included); and the
  * exchanges of its own execution, matched by plan identity; and the rows
  * of its largest broadcast build (`maxBroadcastRows`), so a fact table
  * under a broadcast shows without the plan.
  * `--explain` adds the formatted final plan and the top planner rules by
  * time.
  *
  * Config variations need no flag: SparkConf reads `spark.*` system
  * properties, so `SPARK_GRAFT_EXTRA_JAVA_OPTS="-Dspark.x=y"` reaches
  * every session built here.
  */
object Probe {
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cpus] with shuffle partitions = cpus, UTC, UI off, WARN logs;
    * `extraConf` is applied last, so it can override any of these. */
  def session(extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full materialization, the graft.Bench action: unlike `count()` it
    * evaluates every output column, so Catalyst cannot prune the work. */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Wall seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` with a `tmpDir(prefix)` maker, then deletes every
    * directory it made, recursively, however `body` ends. */
  def withTempDirs[A](body: (String => String) => A): A = {
    val made = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try body { prefix =>
      val p = java.nio.file.Files.createTempDirectory(prefix)
      made += p
      p.toString
    } finally made.foreach { p =>
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Runs `body` and prints `label: <seconds> s`, plus the row count when
    * the body returns one. */
  def timed[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    val rows = r match { case n: Long => s" ($n rows)"; case _ => "" }
    println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s$rows")
    r
  }

  private class Counters extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val taskMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val names = args.filterNot(_ == "--explain").toSeq match {
      case Seq() => ptx.QueryRegistry.all.keys.toSeq.sorted
      case given => given
    }
    val spark = session()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val listener = Metrics.install(spark)
    // Each run is its own SQL execution, so the metrics listener sees it.
    // The counters share the listener bus's queue with the execution
    // listener, and that queue delivers in order: once a run's own record
    // has arrived, every job, stage and task event of that run has too.
    def run(df: DataFrame): Long =
      SQLExecution.withNewExecutionId(df.queryExecution, Some("probe"))(materialize(df))
    try run(graft.SparkEntry.entry(spark)) catch { case _: Throwable => () }
    names.foreach { name =>
      try {
        val fn = ptx.QueryRegistry.all(name)
        listener.clear()
        try run(fn(spark, sfDir)) catch { case _: Throwable => () } // warm
        ptx.Caching.releaseAll()
        System.gc()
        Thread.sleep(250)
        var last: DataFrame = null
        val times = (1 to 3).map { i =>
          if (i == 3) counters.reset() // the counters cover the last run only
          val s = seconds { last = fn(spark, sfDir); run(last) }
          ptx.Caching.releaseAll()
          listener.recordOf(last) // its events are all delivered past this
          s
        }
        val sorted = times.sorted
        val exchanges = listener.recordOf(last).map(_.numExchanges).getOrElse(-1)
        val tracker = last.queryExecution.tracker
        val phases = Seq("analysis", "optimization", "planning").map { p =>
          s"$p=${tracker.phases.get(p).map(_.durationMs).getOrElse(0L)}ms"
        }.mkString(" ")
        println(f"[probe] $name%-34s runs=${times.map(t => f"$t%.3f").mkString(",")} " +
          f"med=${sorted(1)}%.3f min=${sorted.head}%.3f $phases " +
          f"jobs=${counters.jobs.get} stages=${counters.stages.get} " +
          f"tasks=${counters.tasks.get} taskTime=${counters.taskMs.get / 1000.0}%.2fs " +
          s"exchanges=$exchanges maxBroadcastRows=${Metrics.maxBroadcastRows(last)}")
        if (explain) {
          last.explain("formatted")
          tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(8).foreach { case (rule, m) =>
            println(f"[probe]   ${m.totalTimeNs / 1e6}%8.2fms inv=${m.numInvocations}%4d " +
              f"eff=${m.numEffectiveInvocations}%4d ${rule.split('.').last}")
          }
        }
      } catch { case e: Throwable =>
        ptx.Caching.releaseAll()
        println(s"[probe] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
