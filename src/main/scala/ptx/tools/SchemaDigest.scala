package ptx.tools

/** Pre-flight fixture-drift canary: load the two
  * regen-prone binding tables through the schema-asserted `ptx.Tables`
  * loaders and print ONE digest line per table. A fixture regeneration
  * that flips a physical encoding (the round-8 events ts ns→µs failure
  * mode) either normalizes silently — and the digest line shows the
  * post-normalization schema it mapped onto — or fails here with the
  * loader's loud fixture-drift message, making the diagnosis a one-line
  * read instead of a 49-query crater.
  *
  *   sbt "runMain ptx.tools.SchemaDigest <sfDir>"
  */
object SchemaDigest {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Probe.session()
    Seq("events", "documents").foreach { t =>
      val df = ptx.Tables.t(spark, sfDir, t)
      // row count proves the file is readable past the footer, not just
      // schema-well-formed; one digest line per table for the log grep
      println(s"[schema-digest] $t rows=${df.count()} ${df.schema.simpleString}")
    }
    spark.stop()
  }
}
