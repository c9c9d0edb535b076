package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The multi-file copy of a fixture: every table of at least `MinRows` rows
  * becomes `FilesPerTable` parquet files of several row groups each, rows
  * assigned to files by a seeded hash; smaller tables are copied as they
  * are. Column types are copied raw (no `ptx.Tables` normalization), so
  * the engine's loaders see the same physical encodings as on the fixture. */
object Corpus {
  val MinRows = 10000L
  val FilesPerTable = 4
  /** parquet row-group target: small enough that every split file holds
    * several row groups at sf0.1 */
  val RowGroupBytes = 128 * 1024

  def write(spark: SparkSession, src: String, dst: Path, seed: Long, rec: Records): String = {
    val t0 = System.nanoTime()
    Files.createDirectories(dst)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Batch.TableNames.foreach { t =>
      val from = s"$src/$t.parquet"
      val to = dst.resolve(s"$t.parquet")
      val raw = spark.read.parquet(from)
      if (raw.count() < MinRows) Files.copy(Paths.get(from), to)
      else {
        val h = xxhash64(lit(seed) +: raw.columns.toSeq.map(col): _*)
        raw.withColumn("_pb_h", h)
          .repartition(FilesPerTable, pmod(col("_pb_h"), lit(FilesPerTable.toLong)))
          .sortWithinPartitions("_pb_h")
          .drop("_pb_h")
          .write.option("parquet.block.size", RowGroupBytes.toString)
          .parquet(to.toString)
      }
    }
    rec.add("type" -> "corpus", "write_ms" -> (System.nanoTime() - t0) / 1e6)
    dst.toString
  }
}
