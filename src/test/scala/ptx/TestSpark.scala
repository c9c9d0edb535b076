package ptx

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

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
    * holds when the test JVM exits. */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("ptx-test")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A new, empty directory under the run's temp root; its absolute path. */
  def tmpDir(prefix: String): String = Files.createTempDirectory(tmpRoot, prefix).toString
}
