package ptx

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  val SF = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("ptx-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("ptx-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `body` starts. Two marker jobs bracket it; the listener bus
    * delivers in order, so every job between them has arrived once the
    * second marker has, and a lagging job of an earlier test is never
    * counted. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.put(Option(j.properties).map(_.getProperty("spark.job.description", ""))
          .getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("jobsDuring:before"); body; marker("jobsDuring:after")
      Iterator.continually(Option(seen.poll(10, TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError("marker job never reached the listener")))
        .takeWhile(_ != "jobsDuring:after").dropWhile(_ != "jobsDuring:before")
        .size - 1
    } finally sc.removeSparkListener(l)
  }
}
