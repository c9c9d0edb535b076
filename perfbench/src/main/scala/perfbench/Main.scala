package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line settings; run.py passes every one of them explicitly. */
final case class Args(m: Map[String, String]) {
  def s(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def i(k: String): Int = s(k).toInt
  def d(k: String): Double = s(k).toDouble
  def workload: String = s("workload")
  def seed: Long = s("seed").toLong
  def trace: Boolean = s("trace") == "1"
  def data: String = s("data")
  def work: Path = Paths.get(s("work"))
  def keys: Seq[String] = s("keys").split(",").toSeq.filter(_.nonEmpty)
}

/** Raw measurement records, kept in memory and written once at the end. */
final class Records {
  private val lines = mutable.ArrayBuffer.empty[String]
  def add(kv: (String, Any)*): Unit = synchronized(lines += Json.obj(kv: _*))
  def fail(what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] FAILED $what: $e")
    add("type" -> "fail", "what" -> what, "msg" -> String.valueOf(e))
  }
  def write(p: Path): Unit = synchronized(Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8")))
}

/** Measurement engine of the benchmark. It drives the engine only through
  * its public calls (`ptx.QueryRegistry`, `ptx.Tables`, `ptx.Caching`,
  * `ptx.stream.Pipelines`) and times each call from outside. It writes raw
  * records (one JSON object per line) to `--out`; perfbench/run.py turns
  * them into metrics and checks the outputs. */
object Main {
  /** Set-up rounds per run; `setup_s` is the median of their times. */
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val main0 = System.nanoTime()
    val a = Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    val rec = new Records
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    Files.createDirectories(a.work)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      // same session guards as graft.Bench: many executions in one JVM
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      // transformWithState needs RocksDB; the three pipelines share it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.add("type" -> "env", "cpus" -> cpus.toInt,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "session_s" -> (System.nanoTime() - main0) / 1e9)
    var code = 0
    try {
      s"${a.s("kind")}" match {
        case "batch" => Batch.run(spark, a, rec, main0)
        case "stream" => Stream.run(spark, a, rec, main0)
        case k => sys.error(s"unknown kind $k")
      }
    } catch {
      case e: Throwable =>
        rec.fail("workload", e); e.printStackTrace(); code = 2
    } finally {
      rec.add("type" -> "heap", "old_gen_after_gc_mb" -> Jvm.retainedMb())
      rec.write(Paths.get(a.s("out")))
      spark.stop()
    }
    sys.exit(code)
  }

  /** Runs the workload's set-up `SetupRounds` times, each round in a fresh
    * session (`newSession()`: its own `ptx.Tables` memo and temp views, the
    * same SparkContext), and returns the last round's session and result.
    * The first round also pays class loading and JIT, so the median of the
    * round times is the per-session set-up cost with the cold start
    * outvoted; `cold_setup_s` (main() entry to the first timed operation)
    * is recorded beside it. */
  def setup[R](spark: SparkSession, rec: Records, main0: Long)(round: SparkSession => R): (SparkSession, R) = {
    val runs = (0 until SetupRounds).map { i =>
      val s = if (i == 0) spark else spark.newSession()
      val t0 = System.nanoTime()
      val r = round(s)
      (s, r, (System.nanoTime() - t0) / 1e6)
    }
    val ms = runs.map(_._3)
    rec.add("type" -> "setup", "setup_s" -> ms.sorted.apply(ms.size / 2) / 1000.0, "rounds_ms" -> ms,
      "cold_setup_s" -> (System.nanoTime() - main0) / 1e9)
    (runs.last._1, runs.last._2)
  }
}
