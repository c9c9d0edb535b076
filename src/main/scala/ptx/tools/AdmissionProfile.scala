package ptx.tools

import org.apache.spark.sql.functions._

/** Dev probe: phase-level wall times of one shard-admission batch
  * ([[ptx.stream.Pipelines.admitShardBatch]]'s exact sequence, run in
  * batch mode so each phase can be timed without streaming-machinery
  * noise). Prints one line per phase; use it to see WHERE an admission
  * batch spends its time before optimizing it. Each TOTAL line of the
  * shard, containment and composed-ingest bodies is followed by its
  * per-job trace (`[job] <id> <wall>`), one line per Spark job the body
  * ran: the body's job count and where its wall goes between scheduled
  * jobs (incl. broadcast builds) and driver-side gaps.
  *
  *   sbt "runMain ptx.tools.AdmissionProfile <sfDir>"
  *
  * With AQE off: SPARK_GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.adaptive.enabled=false".
  */
object AdmissionProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Probe.session()

    Probe.withTempDirs { tmpDir =>
      val docs = ptx.Tables.documents(spark, sfDir).select("doc_id", "text")
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val shard = docs.filter(col("doc_id") % 10 === 0)
      def t[A](name: String)(f: => A): A = Probe.timed(s"[adm] $name")(f)
      val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, System.nanoTime())
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = starts.remove(je.jobId)
          if (t0 != 0L) jobLog.add(
            f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
      // the listener bus delivers JobEnd asynchronously: the action's
      // JobWaiter can return while the last events are still queued, and an
      // immediate remove+drain would truncate the committed trace. Drain
      // DETERMINISTICALLY: poll until the log has been stable for 500 ms,
      // bounded at 10 s — a fixed sleep silently truncates on a loaded
      // machine.
      def drainJobLog(): Unit = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = -1
        var stableSince = System.nanoTime()
        while (System.nanoTime() < deadline &&
          (jobLog.size != last ||
            System.nanoTime() - stableSince < 500L * 1000 * 1000)) {
          if (jobLog.size != last) { last = jobLog.size; stableSince = System.nanoTime() }
          Thread.sleep(50)
        }
        if (System.nanoTime() >= deadline)
          println("[job] WARNING: drain hit the 10 s bound; trace may be truncated")
      }
      /** `t(name)(body)`, then the per-job trace of the jobs `body` ran. */
      def traced(name: String)(body: => Unit): Unit = {
        jobLog.clear()
        spark.sparkContext.addSparkListener(listener)
        try t(name)(body) finally {
          drainJobLog()
          spark.sparkContext.removeSparkListener(listener)
        }
        jobLog.forEach(println(_))
      }
      // one untimed full pass absorbs codegen/classload
      val warmIdx = tmpDir("adm-warm")
      ptx.sources.DedupIndex.write(base, warmIdx)
      val warmOut = tmpDir("adm-warmout")
      ptx.stream.Pipelines.admitShardBatch(shard, 0L, warmIdx, warmOut, 0.4)

      val idx = tmpDir("adm-idx")
      t("index build (untimed in streambench)") {
        ptx.sources.DedupIndex.write(base, idx)
      }
      val outDir = tmpDir("adm-out")
      // phase view: sign, probe (micro-batch broadcast shape), sinks
      val sig = ptx.Caching.pin(ptx.sources.DedupIndex.signatures(shard))
      t("  sig materialize") { sig.count() }
      val pairsRaw = ptx.sources.DedupIndex.probeSigned(
        spark, idx, sig, 0.4, microBatch = true)
      t("  probe execute (count)") { println("    n=" + pairsRaw.count()) }
      t("  probe re-execute (cands/sets cached)") { pairsRaw.count() }
      ptx.Caching.release(spark)

      val idx2 = tmpDir("adm-idx2")
      ptx.sources.DedupIndex.write(base, idx2)
      traced("TOTAL admitShardBatch") {
        ptx.stream.Pipelines.admitShardBatch(shard, 0L, idx2, outDir, 0.4)
      }

      // containment admission: the admitContainBatch core in batch mode —
      // phase view of the suite's slowest pipeline, so its job-round budget
      // is a measured breakdown, not an estimate. Fresh index per timed pass (admission mutates it).
      val cwarmIdx = tmpDir("cadm-warm")
      ptx.sources.ContainIndex.write(base, cwarmIdx)
      val cwarmOut = tmpDir("cadm-warmout")
      ptx.stream.Pipelines.admitContainBatch(shard, 0L, cwarmIdx, cwarmOut, 0.8)
      val cidx = tmpDir("cadm-idx")
      t("contain index build (untimed in streambench)") {
        ptx.sources.ContainIndex.write(base, cidx)
      }
      val sh2 = ptx.Caching.pin(
        ptx.functions.TextShingles.shingles(shard)
          .select(col("doc_id"), col("shingle").as("h")))
      t("  contain shingle materialize") { sh2.count() }
      val cpairs = t("  contain probe construct (eager collects)") {
        ptx.sources.ContainIndex.probeSh(spark, cidx, sh2, 0.8, microBatch = true)
      }
      t("  contain probe execute (count)") { println("    n=" + cpairs.count()) }
      t("  contain probe re-execute (cands/sets cached)") { cpairs.count() }
      ptx.Caching.release(spark)
      val cidx2 = tmpDir("cadm-idx2")
      ptx.sources.ContainIndex.write(base, cidx2)
      val coutDir = tmpDir("cadm-out")
      traced("TOTAL admitContainBatch") {
        ptx.stream.Pipelines.admitContainBatch(shard, 0L, cidx2, coutDir, 0.8)
      }

      // composed ingest: the full drift → decon → near-dup batch core
      // in batch mode — what one ingestAdmission micro-batch costs without
      // streaming machinery. The gate prologue is timed separately so the
      // "gates are cheap next to the probe" claim stays a measured number.
      val full = ptx.Tables.documents(spark, sfDir)
      // localized like ingestAdmission does at stream construction: the
      // reference is static, so the per-batch plans see a LocalRelation
      val psiRefPlan = full.groupBy(expr("n_chars div 50").as("b"))
        .agg(count(lit(1)).as("gn"))
      val psiRefRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      psiRefPlan.collect().foreach(psiRefRows.add)
      val psiRef = spark.createDataFrame(psiRefRows, psiRefPlan.schema)
      val sketch = ptx.stream.Pipelines.evalGramSketch(
        full.filter(col("doc_id") % 10 === 5))
      val ingShard = full.filter(col("doc_id") % 10 === 0)
      for (pass <- Seq("cold", "warm")) {
        t(s"  driftVerdict alone ($pass)") {
          ptx.stream.Pipelines.driftVerdict(ingShard, psiRef).count()
        }
        t(s"  deconVerdict alone ($pass)") {
          ptx.stream.Pipelines.deconVerdict(ingShard, sketch).count()
        }
        t(s"  gate verdicts (union frame, one job, $pass)") {
          ptx.stream.Pipelines.driftVerdict(ingShard, psiRef)
            .withColumn("gate", lit("drift"))
            .unionByName(
              ptx.stream.Pipelines.deconVerdict(ingShard, sketch)
                .withColumn("gate", lit("decon")),
              allowMissingColumns = true)
            .count()
        }
      }
      // a first pass absorbs the gate shapes' codegen, then the TOTAL pass
      // measures the steady-state batch cost (fresh index each time —
      // admission mutates it) and how many scheduled rounds it pays
      for (round <- Seq("warm (untimed shapes)", "TOTAL ingestAdmitBatch (gates + admit)")) {
        val idx3 = tmpDir("adm-idx3")
        ptx.sources.DedupIndex.write(base, idx3)
        val outDir3 = tmpDir("adm-out3")
        traced(round) {
          ptx.stream.Pipelines.ingestAdmitBatch(ingShard, 0L, psiRef, sketch,
            idx3, outDir3, 0.4)
        }
      }
    }
    spark.stop()
  }
}
