package ptx

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local session for the whole test run, and the run's temp dirs. */
object TestSpark {
  val SF = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("ptx-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmpDir("ptx-wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every test temp dir lives under this one root, deleted with all it
    * holds when the test JVM exits, together with the paths handed to
    * [[removeWithRoot]]. */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("ptx-test")
    sys.addShutdownHook((root.toFile +: alsoRemoved.asScala.toSeq)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    root
  }
  private val alsoRemoved = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** `path`, made by the run outside its root, to be deleted with the root
    * (an artifact the engine publishes for one of the run's corpora). */
  def removeWithRoot(path: String): String = {
    tmpRoot
    alsoRemoved.add(new java.io.File(path))
    path
  }

  /** A new, empty directory under the run's temp root; its absolute path. */
  def tmpDir(prefix: String): String = Files.createTempDirectory(tmpRoot, prefix).toString
}
