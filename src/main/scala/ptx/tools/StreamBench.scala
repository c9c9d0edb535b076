package ptx.tools

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput probe: replays the events
  * fixture through representative G10 pipelines with
  * `Trigger.AvailableNow` and reports rows/s, so streaming performance
  * regressions become a visible number instead of a correctness-only
  * property. Two pipelines bracket the cost spectrum:
  *   - `tumbling`  — stateless-shuffle windowed aggregation (HDFS-backed
  *     window state, the cheap common case);
  *   - `sessions`  — native session windows (merging window state, the
  *     middle case);
  *   - `funnel`    — per-user `transformWithState` machine on RocksDB (a
  *     state-store round-trip per event, the expensive stateful case).
  *
  * Method: the fixture is staged once to a plain parquet dir (the raw
  * fixture is TIMESTAMP(NANOS); `Tables.events` normalizes to µs on
  * load), then each pipeline runs a file-source → noop-sink stream to
  * completion. Wall time covers the whole micro-batch execution; rows/s =
  * fixture rows / wall. One untimed warm pass absorbs codegen/classload,
  * mirroring graft.Bench's method.
  *
  * Output: one JSON line (and $SPARK_GRAFT_STREAMBENCH_OUT, default
  * docs/STREAMBENCH.json) — committed per round so the number is diffable.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Probe.sfDir
    // transformWithState requires the RocksDB provider
    val spark = Probe.session("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    // every temp dir (staged fixture + per-run RocksDB checkpoints) is
    // deleted when the run ends: a probe that leaks the full fixture plus
    // its checkpoint trees per invocation grows the disk by gigabytes
    Probe.withTempDirs { tmpDir => try {
      val staged = tmpDir("ptx-streambench")
      val ev = ptx.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      ev.write.mode("overwrite").parquet(staged)
      val rows = spark.read.parquet(staged).count()

      def runOnce(mode: String, from: String = staged)(
          build: DataFrame => DataFrame): Double = {
        val cp = tmpDir("ptx-sb-cp")
        val src = spark.readStream.schema(ev.schema).parquet(from)
        Probe.seconds(build(src).writeStream
          .format("noop")
          .option("checkpointLocation", cp)
          .outputMode(mode) // session windows accept append only
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination())
      }

      def bench(name: String, mode: String, from: String = staged)(
          build: DataFrame => DataFrame): (String, Double) = {
        runOnce(mode, from)(build) // warm: codegen + state-store provider load
        name -> runOnce(mode, from)(build)
      }

      // hot-key replay corpus: same rows, 80%
      // remapped onto ONE user — ProbeData's --hot-events construction at
      // the streaming grain. The per-user transformWithState pipelines
      // hash-partition by user_id into the state store, so the hot user's
      // 80% of the corpus serializes through ONE state partition; the
      // `ewma_hotkey` row makes that bound a measured, diffable number
      // next to the uniform `ewma` row (SCALE.md's segmented-scan
      // paragraph reads the pair).
      val hotStaged = tmpDir("ptx-sb-hotev")
      spark.read.parquet(staged).selectExpr(
        "event_id", "ts",
        "CASE WHEN event_id % 5 < 4 THEN CAST(1 AS BIGINT) ELSE user_id END AS user_id",
        "event_type", "value")
        .write.mode("overwrite").parquet(hotStaged)

      val results = Seq(
        bench("tumbling", "update")(ptx.stream.Pipelines.tumbling),
        bench("sessions", "append")(ptx.stream.Pipelines.sessions),
        bench("funnel", "append")(df => ptx.stream.Pipelines.funnel(
          df.as[ptx.stream.Event]).toDF()),
        bench("ewma", "append")(df => ptx.stream.Pipelines.ewma(
          df.as[ptx.stream.Event]).toDF()),
        bench("ewma_hotkey", "append", hotStaged)(
          df => ptx.stream.Pipelines.ewma(df.as[ptx.stream.Event]).toDF()))

      // documents-side ingest gate: the foreachBatch PSI drift gate
      // against a static reference — a different modality from the
      // events pipelines above (batch-side plan per micro-batch + parquet
      // verdict write, zero streaming state), so it gets its own staged
      // source and row base.
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      val docStaged = tmpDir("ptx-sb-docs")
      val docs = ptx.Tables.documents(spark, sfDir)
      docs.write.mode("overwrite").parquet(docStaged)
      val docRows = spark.read.parquet(docStaged).count()
      val ref = docs.groupBy(expr("n_chars div 50").as("b"))
        .agg(count(lit(1)).as("gn"))
      def runGate(): Double = {
        val cp = tmpDir("ptx-sb-gatecp"); val outDir = tmpDir("ptx-sb-gateout")
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
        Probe.seconds(ptx.stream.Pipelines.driftGate(src, ref, outDir, cp)
          .awaitTermination())
      }
      runGate() // warm
      val gateSec = runGate()

      // TTL'd content dedup: the bounded-state ingest dedup — a
      // RocksDB ValueState round-trip per doc plus the TTL bookkeeping.
      // TimeMode.ProcessingTime streams never quiesce (Pipelines scaladoc),
      // so the run polls the sink for the full admission count (every
      // fixture text is distinct → all docs admit) and then stops.
      import org.apache.spark.sql.functions.md5
      val expectedAdmits = docs.select(md5(col("text"))).distinct().count()
      def runTtl(): Double = {
        val cp = tmpDir("ptx-sb-ttlcp"); val outDir = tmpDir("ptx-sb-ttlout")
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
        val t0 = System.nanoTime()
        val q = ptx.stream.Pipelines.contentDedupTtl(
            src, java.time.Duration.ofMinutes(10))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(Trigger.ProcessingTime(10))
          .start()
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        def admitted(): Long =
          scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)
        while (admitted() < expectedAdmits && System.nanoTime() < deadline)
          Thread.sleep(25)
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        require(admitted() >= expectedAdmits,
          s"ttl dedup probe timed out: ${admitted()}/$expectedAdmits admitted")
        sec
      }
      runTtl() // warm
      val ttlSec = runTtl()

      // Bloom decontamination gate: eval-gram sketch built once
      // (every 10th doc as the stand-in benchmark suite), then each
      // micro-batch is a pure scan-side probe + per-doc agg — the
      // cheapest documents-side gate by construction (no join, no state).
      val evalSketch = ptx.stream.Pipelines.evalGramSketch(
        docs.filter(col("doc_id") % 10 === 0))
      def runDecon(): Double = {
        val cp = tmpDir("ptx-sb-deconcp"); val outDir = tmpDir("ptx-sb-deconout")
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
        Probe.seconds(ptx.stream.Pipelines.decontaminationGate(
          src, evalSketch, outDir, cp)
          .awaitTermination())
      }
      runDecon() // warm
      val deconSec = runDecon()

      // ingest-volume gate: events-side count gate — one per-batch
      // day-count agg + broadcast 1-row moment reference; the cheapest
      // events-side gate by construction.
      val volRef = ptx.ops.Extras.volumeMoments(ptx.ops.Extras.dailyCounts(ev))
      def runVol(): Double = {
        val cp = tmpDir("ptx-sb-volcp"); val outDir = tmpDir("ptx-sb-volout")
        val src = spark.readStream.schema(ev.schema).parquet(staged)
        Probe.seconds(ptx.stream.Pipelines.volumeGate(src, volRef, outDir, cp)
          .awaitTermination())
      }
      runVol() // warm
      val volSec = runVol()

      // near-dup shard admission: probe/filter/admit a 10% shard
      // against the persisted 90% index. The index build runs per
      // invocation (admission MUTATES the index, so each timed run needs
      // a fresh one) but OUTSIDE the timed window — amortizing the build
      // is the index's whole point.
      val admBase = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
      val admShard = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val shardStaged = tmpDir("ptx-sb-shard")
      admShard.write.mode("overwrite").parquet(shardStaged)
      val shardRows = spark.read.parquet(shardStaged).count()
      def runAdm(): Double = {
        val idx = tmpDir("ptx-sb-admidx")
        ptx.sources.DedupIndex.write(admBase, idx)
        val cp = tmpDir("ptx-sb-admcp"); val outDir = tmpDir("ptx-sb-admout")
        val src = spark.readStream.schema(admShard.schema).parquet(shardStaged)
        Probe.seconds(ptx.stream.Pipelines.shardAdmission(src, idx, outDir, cp)
          .awaitTermination())
      }
      runAdm() // warm
      val admSec = runAdm()

      // containment admission: the same 10% shard through the
      // persisted ContainIndex — the directed quote/verbatim duplicate
      // class Jaccard banding cannot route. Fresh index per timed run
      // (admission mutates it), build outside the window, like runAdm.
      def runContain(): Double = {
        val idx = tmpDir("ptx-sb-cadmidx")
        ptx.sources.ContainIndex.write(admBase, idx)
        val cp = tmpDir("ptx-sb-cadmcp"); val outDir = tmpDir("ptx-sb-cadmout")
        val src = spark.readStream.schema(admShard.schema).parquet(shardStaged)
        Probe.seconds(ptx.stream.Pipelines.containAdmission(src, idx, outDir, cp)
          .awaitTermination())
      }
      runContain() // warm
      val cadmSec = runContain()

      // composed ingest admission: the full drift → decon →
      // near-dup stack over the same shard — its cost vs the bare
      // admission above is what the two scan-side gates add. The eval
      // sketch here is DISJOINT from the shard (%10==5 vs %10==0 —
      // the StreamingSpec split): the decon-gate probe above reuses the
      // %10==0 sketch deliberately (worst-case hit rate), but composing
      // THAT here would decontaminate away the whole shard and time the
      // dedup stage on an empty frame, voiding the comparison with the
      // bare shard_admission number.
      val ingSketch = ptx.stream.Pipelines.evalGramSketch(
        docs.filter(col("doc_id") % 10 === 5))
      def runIngest(): Double = {
        val idx = tmpDir("ptx-sb-ingidx")
        ptx.sources.DedupIndex.write(admBase, idx)
        val cp = tmpDir("ptx-sb-ingcp"); val outDir = tmpDir("ptx-sb-ingout")
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
          .filter(col("doc_id") % 10 === 0)
        Probe.seconds(ptx.stream.Pipelines.ingestAdmission(
          src, ref, ingSketch, idx, outDir, cp)
          .awaitTermination())
      }
      runIngest() // warm
      val ingSec = runIngest()

      // the same admission at 5× the shard (50%/50% split): per-batch
      // wall is dominated by FIXED plan-barrier cost at 500 docs, so the
      // honest throughput statement needs a second point showing docs/s
      // scaling with shard size (the amortization the index design buys)
      val adm5Base = docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text")
      val adm5Shard = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val shard5Staged = tmpDir("ptx-sb-shard5")
      adm5Shard.write.mode("overwrite").parquet(shard5Staged)
      val shard5Rows = spark.read.parquet(shard5Staged).count()
      def runAdm5(): Double = {
        val idx = tmpDir("ptx-sb-adm5idx")
        ptx.sources.DedupIndex.write(adm5Base, idx)
        val cp = tmpDir("ptx-sb-adm5cp"); val outDir = tmpDir("ptx-sb-adm5out")
        val src = spark.readStream.schema(adm5Shard.schema).parquet(shard5Staged)
        Probe.seconds(ptx.stream.Pipelines.shardAdmission(src, idx, outDir, cp)
          .awaitTermination())
      }
      runAdm5() // warm
      val adm5Sec = runAdm5()

      // containment admission at the same 5× shard: the README/
      // SCALE.md claim that contain_admission's floor amortizes like the
      // others needs its own measured point, not an analogy
      def runContain5(): Double = {
        val idx = tmpDir("ptx-sb-cadm5idx")
        ptx.sources.ContainIndex.write(adm5Base, idx)
        val cp = tmpDir("ptx-sb-cadm5cp"); val outDir = tmpDir("ptx-sb-cadm5out")
        val src = spark.readStream.schema(adm5Shard.schema).parquet(shard5Staged)
        Probe.seconds(ptx.stream.Pipelines.containAdmission(src, idx, outDir, cp)
          .awaitTermination())
      }
      runContain5() // warm
      val cadm5Sec = runContain5()

      // composed ingest at the same 5× shard: the amortization
      // point for the FULL gate+dedup stack — per-batch fixed cost
      // (driver jobs, broadcast builds, single-file sinks) dominates at
      // 500 docs, so docs/s must scale with shard size here too. Same
      // disjoint eval sketch as the 1× ingest row (%10==5 is odd, the
      // 5× shard is even ids).
      def runIngest5(): Double = {
        val idx = tmpDir("ptx-sb-ing5idx")
        ptx.sources.DedupIndex.write(adm5Base, idx)
        val cp = tmpDir("ptx-sb-ing5cp"); val outDir = tmpDir("ptx-sb-ing5out")
        val src = spark.readStream.schema(docs.schema).parquet(docStaged)
          .filter(col("doc_id") % 2 === 0)
        Probe.seconds(ptx.stream.Pipelines.ingestAdmission(
          src, ref, ingSketch, idx, outDir, cp)
          .awaitTermination())
      }
      runIngest5() // warm
      val ing5Sec = runIngest5()

      // indexed ANN serving: 500 streamed probes against the
      // persisted index + full-corpus cells path — the scan-pruned
      // foreachBatch serving shape (annServe), measured per probe row
      val emb = ptx.Tables.embeddings(spark, sfDir)
      val annIdx = tmpDir("ptx-sb-annidx")
      ptx.sources.VectorIndex.write(emb, annIdx)
      val annCells = tmpDir("ptx-sb-anncells")
      emb.select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(annCells)
      val probeStaged = tmpDir("ptx-sb-annprobes")
      emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
        .write.mode("overwrite").parquet(probeStaged)
      val probeRows = spark.read.parquet(probeStaged).count()
      def runServe(): Double = {
        val cp = tmpDir("ptx-sb-annsrvcp"); val outDir = tmpDir("ptx-sb-annsrvout")
        val src = spark.readStream
          .schema(spark.read.parquet(probeStaged).schema).parquet(probeStaged)
        Probe.seconds(ptx.stream.Pipelines.annServe(src, annIdx, annCells, outDir, cp)
          .awaitTermination())
      }
      runServe() // warm
      val serveSec = runServe()

      // ANN serving amortization points: the
      // 100-probe row is dominated by the per-trigger driver-job +
      // collect + single-file-write floor, so two larger probe batches
      // show probes/s scaling as that floor amortizes — 10× = every 2nd
      // corpus vector; 50× = the full corpus replicated 2.5× under fresh
      // probe ids (identical per-probe work, distinct keys).
      def stageProbes(name: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
        val dir = tmpDir(name)
        df.write.mode("overwrite").parquet(dir)
        (dir, spark.read.parquet(dir).count())
      }
      def runServeOn(staged: String): Double = {
        val cp = tmpDir("ptx-sb-annsrvcp"); val outDir = tmpDir("ptx-sb-annsrvout")
        val src = spark.readStream
          .schema(spark.read.parquet(staged).schema).parquet(staged)
        Probe.seconds(ptx.stream.Pipelines.annServe(src, annIdx, annCells, outDir, cp)
          .awaitTermination())
      }
      val (probe10Staged, probe10Rows) = stageProbes("ptx-sb-annprobes10",
        emb.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p")))
      runServeOn(probe10Staged) // warm
      val serve10Sec = runServeOn(probe10Staged)
      val (probe50Staged, probe50Rows) = stageProbes("ptx-sb-annprobes50",
        emb.crossJoin(spark.range(3).select(col("id").as("rep")))
          .filter(col("rep") < 2 || col("vec_id") % 2 === 0)
          .select((col("vec_id") * lit(10) + col("rep")).as("probe_id"),
            col("embedding").as("p")))
      runServeOn(probe50Staged) // warm
      val serve50Sec = runServeOn(probe50Staged)

      // semantic admission: the embedding-grain admission — a 10%
      // vector shard assigned, within-cell cosine-probed against the
      // persisted seed index, policy-filtered, and admitted — plus the
      // 5× amortization point (the standing two-grain bar discipline).
      // Index build is outside the timed window, like every admission.
      val semBase = emb.filter(col("vec_id") % 10 =!= 0)
      val semShard = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val semStaged = tmpDir("ptx-sb-semshard")
      semShard.write.mode("overwrite").parquet(semStaged)
      val semRows = spark.read.parquet(semStaged).count()
      def runSem(staged: String, base: org.apache.spark.sql.DataFrame): Double = {
        val idx = tmpDir("ptx-sb-semidx")
        ptx.sources.VectorIndex.write(base, s"$idx/centroids")
        ptx.sources.VectorIndex.assign(base.select("vec_id", "embedding"),
            ptx.sources.VectorIndex.read(spark, s"$idx/centroids"))
          .write.parquet(s"$idx/cells/batch=-1")
        val cp = tmpDir("ptx-sb-semcp"); val outDir = tmpDir("ptx-sb-semout")
        val src = spark.readStream
          .schema(spark.read.parquet(staged).schema).parquet(staged)
        Probe.seconds(ptx.stream.Pipelines.semanticAdmission(src, idx, outDir, cp)
          .awaitTermination())
      }
      runSem(semStaged, semBase) // warm
      val semSec = runSem(semStaged, semBase)
      val sem5Base = emb.filter(col("vec_id") % 2 =!= 0)
      val sem5Staged = tmpDir("ptx-sb-semshard5")
      emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(sem5Staged)
      val sem5Rows = spark.read.parquet(sem5Staged).count()
      runSem(sem5Staged, sem5Base) // warm
      val sem5Sec = runSem(sem5Staged, sem5Base)

      def fmt(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val body = (results.map { case (n, sec) =>
        s""""$n":{"sec":${fmt(sec)},"rows_per_sec":${fmt(rows / sec)}}"""
      } :+ s""""drift_gate":{"sec":${fmt(gateSec)},"rows_per_sec":${fmt(docRows / gateSec)},"rows":$docRows}"""
        :+ s""""ttl_dedup":{"sec":${fmt(ttlSec)},"rows_per_sec":${fmt(docRows / ttlSec)},"rows":$docRows}"""
        :+ s""""decon_gate":{"sec":${fmt(deconSec)},"rows_per_sec":${fmt(docRows / deconSec)},"rows":$docRows}"""
        :+ s""""volume_gate":{"sec":${fmt(volSec)},"rows_per_sec":${fmt(rows / volSec)}}"""
        :+ s""""shard_admission":{"sec":${fmt(admSec)},"rows_per_sec":${fmt(shardRows / admSec)},"rows":$shardRows}"""
        :+ s""""shard_admission_5x":{"sec":${fmt(adm5Sec)},"rows_per_sec":${fmt(shard5Rows / adm5Sec)},"rows":$shard5Rows}"""
        :+ s""""contain_admission":{"sec":${fmt(cadmSec)},"rows_per_sec":${fmt(shardRows / cadmSec)},"rows":$shardRows}"""
        :+ s""""contain_admission_5x":{"sec":${fmt(cadm5Sec)},"rows_per_sec":${fmt(shard5Rows / cadm5Sec)},"rows":$shard5Rows}"""
        :+ s""""ann_serve":{"sec":${fmt(serveSec)},"rows_per_sec":${fmt(probeRows / serveSec)},"rows":$probeRows}"""
        :+ s""""ann_serve_10x":{"sec":${fmt(serve10Sec)},"rows_per_sec":${fmt(probe10Rows / serve10Sec)},"rows":$probe10Rows}"""
        :+ s""""ann_serve_50x":{"sec":${fmt(serve50Sec)},"rows_per_sec":${fmt(probe50Rows / serve50Sec)},"rows":$probe50Rows}"""
        :+ s""""ingest_admission":{"sec":${fmt(ingSec)},"rows_per_sec":${fmt(shardRows / ingSec)},"rows":$shardRows}"""
        :+ s""""ingest_admission_5x":{"sec":${fmt(ing5Sec)},"rows_per_sec":${fmt(shard5Rows / ing5Sec)},"rows":$shard5Rows}"""
        :+ s""""semantic_admission":{"sec":${fmt(semSec)},"rows_per_sec":${fmt(semRows / semSec)},"rows":$semRows}"""
        :+ s""""semantic_admission_5x":{"sec":${fmt(sem5Sec)},"rows_per_sec":${fmt(sem5Rows / sem5Sec)},"rows":$sem5Rows}""")
        .mkString(",")
      val json =
        s"""{"metric":"stream_throughput","rows":$rows,"sf":"$sfDir","cpus":${Probe.cpus},"pipelines":{$body}}"""
      println(json)
      val out = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "docs/STREAMBENCH.json")
      try Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[streambench] write $out failed: ${e.getMessage}") }
    } finally spark.stop() }
  }
}
