package ptx.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * each — and prints one line, `[probe] ` and a JSON object: `key`, every
  * run time (`runs`), `med` and `min`; the last run's Catalyst phase times
  * (`analysis_ms`, `optimization_ms`, `physical_ms`); the [[Metrics.during]]
  * record of that run, frame construction included (`jobs`, `stages`,
  * `tasks`, `task_run_ms`, `shuffle_write_bytes`, `shuffle_read_bytes`);
  * its plan's [[Metrics.shape]] (`exchanges`, `broadcasts`, `scans`); and
  * the rows of its largest broadcast build (`max_broadcast_rows`), so a fact
  * table under a broadcast shows without the plan.
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

  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val names = args.filterNot(_ == "--explain").toSeq match {
      case Seq() => ptx.QueryRegistry.all.keys.toSeq.sorted
      case given => given
    }
    val spark = session()
    try materialize(graft.SparkEntry.entry(spark)) catch { case _: Throwable => () }
    names.foreach { name =>
      try {
        val fn = ptx.QueryRegistry.all(name)
        try materialize(fn(spark, sfDir)) catch { case _: Throwable => () } // warm
        ptx.Caching.releaseAll()
        System.gc()
        Thread.sleep(250)
        var last: DataFrame = null
        val runs = (1 to 3).map { _ =>
          val run = Metrics.during(spark)(seconds { last = fn(spark, sfDir); materialize(last) })
          ptx.Caching.releaseAll()
          run
        }
        val times = runs.map(_._1)
        val sorted = times.sorted
        val tracker = last.queryExecution.tracker
        val phases = Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms",
          "planning" -> "physical_ms").map { case (p, field) =>
          field -> tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
        }
        val shape = Metrics.shape(last)
        println("[probe] " + json(Seq("key" -> name, "runs" -> times.map(secs), "med" -> secs(sorted(1)),
          "min" -> secs(sorted.head)) ++ phases ++ runs.last._2.fields ++ Seq(
          "exchanges" -> shape.exchanges, "broadcasts" -> shape.broadcasts, "scans" -> shape.scans,
          "max_broadcast_rows" -> Metrics.maxBroadcastRows(last))))
        if (explain) {
          last.explain("formatted")
          tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(8).foreach { case (rule, m) =>
            println(f"[probe]   ${m.totalTimeNs / 1e6}%8.2fms inv=${m.numInvocations}%4d " +
              f"eff=${m.numEffectiveInvocations}%4d ${rule.split('.').last}")
          }
        }
      } catch { case e: Throwable =>
        ptx.Caching.releaseAll()
        println("[probe] " + json(Seq("key" -> name, "failed" -> String.valueOf(e.getMessage))))
      }
    }
    spark.stop()
  }

  private def secs(t: Double): BigDecimal = BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  /** One JSON object of numbers, number lists and strings. */
  private def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val value = v match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case x => x.toString
    }
    s"\"$k\":$value"
  }.mkString("{", ",", "}")
}
