package ptx.tools

import java.nio.file.Files
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
  * CAVEAT (measured at introduction): runs DRIFT UP within one JVM
  * (shard_admission read 2.97 → 3.90 s across 5 in-JVM repeats while
  * separate-JVM StreamBench runs of the same code read ~2.5-2.8 s), so
  * this tool's median skews pessimistic vs the committed protocol —
  * compare its FIRST timed run to the STREAMBENCH bars, and treat the
  * spread as the machine's, not the change's.
  *
  *   sbt "runMain ptx.tools.AdmStreamTime [sfDir]"
  */
object AdmStreamTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    val spark = Probe.session()

    val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmpDir(prefix: String): String = {
      val p = Files.createTempDirectory(prefix)
      tmpDirs += p
      p.toString
    }
    try {
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
      // drift root-cause probe: under
      // SPARK_GRAFT_DRIFT_PROBE, print per-run deltas of the candidate
      // terms behind the documented in-JVM upward drift — cumulative GC
      // wall (heap pressure), Janino compilations + generated bytecode
      // (codegen-cache misses: admission plans embed fresh temp paths
      // and In(...) literal sets per run, so the cross-run cache hit
      // rate is structurally ~0), and heap in use. Under
      // SPARK_GRAFT_DRIFT_GC, additionally force a full System.gc()
      // between runs — if drift survives forced collection, it is not
      // collectible-garbage pressure.
      val driftProbe = sys.env.contains("SPARK_GRAFT_DRIFT_PROBE")
      val forceGc = sys.env.contains("SPARK_GRAFT_DRIFT_GC")
      def gcMillis: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      def instrumented(name: String, once: () => Double): () => Double =
        if (!driftProbe) once
        else () => {
          if (forceGc) { System.gc(); Thread.sleep(200) }
          val gc0 = gcMillis
          val comp0 = org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_SOURCE_CODE_SIZE.getCount
          val bytes0 = org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
          val sec = once()
          val rt = Runtime.getRuntime
          println(f"[astdrift] $name sec=$sec%.3f gc_ms=+${gcMillis - gc0}" +
            f" janino_compiles=+${org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_SOURCE_CODE_SIZE.getCount - comp0}" +
            f" gen_bytecode=+${org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - bytes0}" +
            f" heap_used_mb=${(rt.totalMemory - rt.freeMemory) / 1024 / 1024}")
          sec
        }
      def series(name: String)(once0: () => Double): Unit = {
        val once = instrumented(name, once0)
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
    } finally {
      spark.stop()
      tmpDirs.foreach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }
    }
  }
}
