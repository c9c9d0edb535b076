package ptx.tools

import org.apache.spark.sql.functions._

/** Focused admission-pipeline stream timer: StreamBench's exact
  * admission method (the shared Probe session, the %10 shard split, fresh
  * index per timed run, build outside the window) for JUST the three
  * admission pipelines, repeated `SPARK_GRAFT_RUNS` times (default 5)
  * with one untimed warm pass — so an admission-path change can be
  * gauged against the STREAMBENCH bars in ~2 min instead of a full
  * suite run. Prints per-run seconds and the median docs/s per
  * pipeline; the committed numbers still come from the full
  * StreamBench × streambench_median.py protocol.
  *
  * Runs drift up within one JVM from garbage accumulated by earlier
  * runs (docs/SCALE.md, "within-JVM drift"), so a full `System.gc()`
  * runs before each run, outside its timing window. Compare against the
  * STREAMBENCH bars with that in mind: the committed separate-JVM
  * protocol pays no such collection.
  *
  *   sbt "runMain ptx.tools.AdmStreamTime [sfDir]"
  */
object AdmStreamTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    val spark = Probe.session()

    Probe.withTempDirs { tmpDir => try {
      val docs = ptx.Tables.documents(spark, sfDir)
      val docStaged = tmpDir("ptx-ast-docs")
      docs.write.mode("overwrite").parquet(docStaged)
      val base = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
      val shard = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val shardStaged = tmpDir("ptx-ast-shard")
      shard.write.mode("overwrite").parquet(shardStaged)
      val shardRows = spark.read.parquet(shardStaged).count()
      val ref = docs.groupBy(expr("n_chars div 50").as("b"))
        .agg(count(lit(1)).as("gn"))
      val sketch = ptx.stream.Pipelines.evalGramSketch(
        docs.filter(col("doc_id") % 10 === 5))

      def shardSrc = spark.readStream.schema(shard.schema).parquet(shardStaged)

      def time(f: => org.apache.spark.sql.streaming.StreamingQuery): Double =
        Probe.seconds(f.awaitTermination())
      def series(name: String)(run: () => Double): Unit = {
        val once = () => { System.gc(); Thread.sleep(200); run() }
        once() // warm
        val secs = Seq.fill(runs)(once()).sorted
        // fair median on even sizes: the upper-middle alone skews
        // pessimistic when runs is even
        val med =
          if (secs.size % 2 == 1) secs(secs.size / 2)
          else (secs(secs.size / 2 - 1) + secs(secs.size / 2)) / 2.0
        val list = secs.map(s => f"$s%.3f").mkString(", ")
        println(f"[ast] $name%-18s median ${med}%.3f s = ${shardRows / med}%.1f docs/s  (runs: $list)")
      }

      series("shard_admission") { () =>
        val idx = tmpDir("ast-didx"); ptx.sources.DedupIndex.write(base, idx)
        time(ptx.stream.Pipelines.shardAdmission(
          shardSrc, idx, tmpDir("ast-dout"), tmpDir("ast-dcp")))
      }
      series("contain_admission") { () =>
        val idx = tmpDir("ast-cidx"); ptx.sources.ContainIndex.write(base, idx)
        time(ptx.stream.Pipelines.containAdmission(
          shardSrc, idx, tmpDir("ast-cout"), tmpDir("ast-ccp")))
      }
      series("ingest_admission") { () =>
        val idx = tmpDir("ast-iidx"); ptx.sources.DedupIndex.write(base, idx)
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
          .filter(col("doc_id") % 10 === 0)
        time(ptx.stream.Pipelines.ingestAdmission(
          src, ref, sketch, idx, tmpDir("ast-iout"), tmpDir("ast-icp")))
      }
    } finally spark.stop() }
  }
}
