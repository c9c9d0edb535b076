package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

/** The telemetry_stream workload: three `ptx.stream.Pipelines` over the
  * first events in ts order, split into files of a fixed row count, with a
  * seeded share of rows moved to a later file so the late-drop and
  * out-of-order paths run.
  *
  *  - set-up (`Main.setup`, timed per round): table load, file staging and
  *    a warm pass of the three pipelines over the first file.
  *  - drain: closed loop. Each pipeline alone consumes the staged files at
  *    one file per trigger (`AvailableNow`) on its own checkpoint.
  *  - live: open loop. The three pipelines run together while one generator
  *    thread moves files into the source directory on a fixed schedule. A
  *    file's latency runs from when it was due to the end of the batch that
  *    consumed it, read from the queries' progress.
  *
  * Outputs go to memory sinks and are checked: ewma must emit one row per
  * event, the same in drain and live;
  * tumbling must match a batch recomputation over the same files less the
  * rows lost to lateness; sessions may hold no event that was dropped. */
object Stream {
  private def pipeline(name: String, src: DataFrame): (DataFrame, String) = {
    import src.sparkSession.implicits._
    name match {
      case "tumbling" => (ptx.stream.Pipelines.tumbling(src), "update")
      case "sessions" => (ptx.stream.Pipelines.sessions(src), "append")
      case "ewma" => (ptx.stream.Pipelines.ewma(src.as[ptx.stream.Event]).toDF(), "append")
    }
  }

  /** Progress of every query, collected by a listener in the traced run
    * and read from `recentProgress` otherwise. */
  private final class ProgressLog extends StreamingQueryListener {
    val byRun = new ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = byRun.computeIfAbsent(e.progress.runId.toString, _ => mutable.ArrayBuffer.empty)
      b.synchronized(b += e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  /** Index of the (single) file a batch consumed, from its source offset. */
  private def fileIndex(p: StreamingQueryProgress): Option[Int] =
    if (p.numInputRows <= 0) None
    else Option(p.sources.head.endOffset).flatMap(o => LogOffset.findFirstMatchIn(o)).map(_.group(1).toInt)

  /** What one set-up round leaves for the timed phases. */
  private final case class Staged(drain: Seq[Path], live: Seq[Path], movedLate: Long, totalRows: Long,
                                  schema: org.apache.spark.sql.types.StructType)

  def run(spark0: SparkSession, a: Args, rec: Records, main0: Long): Unit = {
    val sc = spark0.sparkContext
    val names = a.s("pipelines").split(",").toSeq
    require(names.sorted == Seq("ewma", "sessions", "tumbling"), s"the output checks need tumbling, sessions and ewma, got $names")
    val tracker = if (a.trace) { val t = new ExecTracker; sc.addSparkListener(t); Some(t) } else None
    val plog = if (a.trace) Some(new ProgressLog) else None
    val work = a.work.resolve("stream")
    var spark = spark0
    var cpSeq = 0
    var rounds = 0
    def source(dir: Path, schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)
    /** Starts one pipeline in the current session; returns the query and
      * its builder-call time. */
    def start(name: String, dir: Path, schema: org.apache.spark.sql.types.StructType, tag: String,
              trigger: Trigger): (StreamingQuery, Double) = {
      cpSeq += 1
      val b0 = System.nanoTime()
      val (df, mode) = pipeline(name, source(dir, schema))
      val buildMs = (System.nanoTime() - b0) / 1e6
      val q = df.writeStream.format("memory").queryName(s"${tag}_$name").outputMode(mode)
        .option("checkpointLocation", work.resolve(s"cp-$cpSeq").toString)
        .trigger(trigger).start()
      (q, buildMs)
    }
    try {
      // set-up round, each in its own session and directory: table load,
      // file staging, and a warm pass of the three pipelines at once over
      // the first file (codegen, state-store provider and RocksDB load)
      val (s, staged) = Main.setup(spark0, rec, main0) { s =>
        spark = s
        rounds += 1
        val dir = work.resolve(s"setup-$rounds")
        val tl0 = System.nanoTime()
        val ev = ptx.Tables.events(s, a.data).select("event_id", "ts", "user_id", "event_type", "value")
        val tablesLoadMs = (System.nanoTime() - tl0) / 1e6
        val st0 = System.nanoTime()
        val (drainFiles, movedLate, totalRows) =
          stage(ev, dir.resolve("drain"), a.i("files"), a.i("rows-per-file"), a.seed, a.d("late-share"))
        val liveStaged = Files.createDirectories(dir.resolve("live-staged"))
        val liveFiles = drainFiles.map(f => Files.copy(f, liveStaged.resolve(f.getFileName),
          StandardCopyOption.COPY_ATTRIBUTES))
        val warmDir = Files.createDirectories(dir.resolve("warm"))
        Files.copy(drainFiles.head, warmDir.resolve(drainFiles.head.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
        val stageMs = (System.nanoTime() - st0) / 1e6
        val w0 = System.nanoTime()
        names.map(n => n -> start(n, warmDir, ev.schema, "warm", Trigger.AvailableNow())._1).foreach { case (n, q) =>
          q.awaitTermination()
          q.exception.foreach(e => rec.fail(s"warm $n", e))
          s.catalog.dropTempView(s"warm_$n")
        }
        rec.add("type" -> "setup_round", "tables_load_ms" -> tablesLoadMs, "stage_ms" -> stageMs,
          "warm_ms" -> (System.nanoTime() - w0) / 1e6)
        Staged(drainFiles, liveFiles, movedLate, totalRows, ev.schema)
      }
      spark = s
      plog.foreach(spark.streams.addListener)
      val Staged(drainFiles, liveFiles, movedLate, totalRows, schema) = staged
      val drainDir = drainFiles.head.getParent
      Jvm.collect()
      rec.add("type" -> "heap_sample", "heap_mb" -> Jvm.oldGenAfterGcMb)
      def progress(q: StreamingQuery): Seq[StreamingQueryProgress] = plog match {
        case Some(l) =>
          org.apache.spark.PerfbenchBus.drain(sc)
          Option(l.byRun.get(q.runId.toString)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
        case None => q.recentProgress.toSeq
      }
      def finish(q: StreamingQuery, tag: String, name: String): (Long, Long) = {
        q.exception.foreach(e => rec.fail(s"$tag $name", e))
        Batch.digest(spark.table(s"${tag}_$name"))
      }

      // drain phase: each pipeline alone, closed loop
      val drained = names.map { n =>
        val gc0 = Jvm.gcMs
        val cpu0 = Jvm.cpuMs
        val t0 = System.nanoTime()
        val (q, buildMs) = start(n, drainDir, schema, "drain", Trigger.AvailableNow())
        q.awaitTermination()
        val wallMs = (System.nanoTime() - t0) / 1e6
        val cpuMs = Jvm.cpuMs - cpu0
        val gcMs = Jvm.gcMs - gc0
        val ps = progress(q)
        val (rowsOut, digest) = finish(q, "drain", n)
        batches(rec, "drain", n, q, ps, tracker, sc)
        rec.add("type" -> "drain", "pipeline" -> n, "wall_ms" -> wallMs, "build_ms" -> buildMs,
          "rows_in" -> ps.map(_.numInputRows).sum, "rows_out" -> rowsOut, "digest" -> digest.toString,
          "dropped_late" -> dropped(ps), "gc_ms" -> gcMs, "cpu_ms" -> cpuMs)
        n -> (rowsOut, digest, dropped(ps))
      }.toMap
      Jvm.collect()
      rec.add("type" -> "heap_sample", "heap_mb" -> Jvm.oldGenAfterGcMb)

      // live phase: the three pipelines together, open loop
      val liveDir = Files.createDirectories(work.resolve("live"))
      val rate = a.d("live-rate")
      val periodMs = 1000.0 / rate
      val gc0 = Jvm.gcMs
      val started = names.map { n =>
        val (q, buildMs) = start(n, liveDir, schema, "live", Trigger.ProcessingTime(0L))
        n -> (q, buildMs)
      }
      // the first file warms the three new queries (state-store instances,
      // first-batch planning) and is not timed; the schedule for the rest
      // starts once all three have consumed it
      Files.move(liveFiles.head, liveDir.resolve(liveFiles.head.getFileName), StandardCopyOption.ATOMIC_MOVE)
      started.foreach { case (_, (q, _)) => q.processAllAvailable() }
      val t0 = System.currentTimeMillis() + 200
      // due time of file i (i >= 1)
      val due = liveFiles.indices.map(i => t0 + math.round((i - 1) * periodMs))
      var maxLateMs = 0L
      val gen = new Thread(() => liveFiles.zipWithIndex.drop(1).foreach { case (f, i) =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(f, liveDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        maxLateMs = math.max(maxLateMs, System.currentTimeMillis() - due(i))
      }, "perfbench-generator")
      gen.start(); gen.join()
      // stop only after each query has committed the last file and has no
      // batch in flight: processAllAvailable returns once a trigger found
      // nothing to run, so stop() cannot interrupt a state-store commit
      started.foreach { case (n, (q, _)) =>
        try q.processAllAvailable() catch { case e: Throwable => rec.fail(s"live $n", e) }
      }
      val liveEnd = System.currentTimeMillis()
      val gcMs = Jvm.gcMs - gc0
      started.foreach { case (_, (q, _)) => q.stop() }
      val lived = started.map { case (n, (q, buildMs)) =>
        val ps = progress(q)
        val (rowsOut, digest) = finish(q, "live", n)
        batches(rec, "live", n, q, ps, tracker, sc)
        ps.foreach(p => fileIndex(p).filter(_ > 0).foreach { i =>
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
          rec.add("type" -> "latency", "pipeline" -> n, "file" -> i, "latency_ms" -> (end - due(i)))
        })
        val seen = ps.flatMap(fileIndex).toSet
        if (seen.size != liveFiles.size)
          rec.fail(s"live $n", new IllegalStateException(s"consumed ${seen.size} of ${liveFiles.size} files"))
        rec.add("type" -> "live", "pipeline" -> n, "rows_in" -> ps.map(_.numInputRows).sum,
          "rows_out" -> rowsOut, "digest" -> digest.toString, "build_ms" -> buildMs, "gc_ms" -> gcMs,
          "dropped_late" -> dropped(ps))
        n -> (rowsOut, digest, dropped(ps))
      }.toMap
      rec.add("type" -> "generator", "late_ms" -> maxLateMs, "live_ms" -> (liveEnd - t0).toDouble)
      Jvm.collect()
      rec.add("type" -> "heap_sample", "heap_mb" -> Jvm.oldGenAfterGcMb)

      // checks against the batch recomputation over the same files. Drain
      // and live may differ where a no-data batch evicted state between two
      // files, so each output is checked on its own; ewma has no watermark
      // and must match exactly.
      val all = spark.read.schema(schema).parquet(drainDir.toString)
      val batchT = ptx.stream.Pipelines.tumbling(all).select(col("hour"), col("event_type"), col("n").as("n_b"))
      Seq("drain" -> drained, "live" -> lived).foreach { case (tag, out) =>
        val (ewRows, ewDigest, _) = out("ewma")
        if (ewRows != totalRows || ewDigest != drained("ewma")._2)
          rec.fail(s"check $tag ewma", new IllegalStateException(
            s"ewma emitted $ewRows rows (digest $ewDigest) for $totalRows events (drain digest ${drained("ewma")._2})"))
        // tumbling: every window at most its batch count, and the rows it
        // lacks are no fewer than those dropped late and no more than those
        // moved late
        val streamed = spark.table(s"${tag}_tumbling").groupBy("hour", "event_type").agg(max("n").as("n_s"))
        val cmp = batchT.join(streamed, Seq("hour", "event_type"), "full_outer")
          .agg(sum(coalesce(col("n_b"), lit(0L)) - coalesce(col("n_s"), lit(0L))).as("missing"),
            sum(when(col("n_b").isNull || col("n_s") > col("n_b"), 1).otherwise(0)).as("bad"))
          .collect().head
        val (missing, bad, droppedT) = (cmp.getLong(0), cmp.getLong(1), out("tumbling")._3)
        if (bad != 0 || missing < droppedT || missing > movedLate)
          rec.fail(s"check $tag tumbling", new IllegalStateException(s"batch recomputation: $bad bad windows, " +
            s"$missing missing rows vs $droppedT dropped and $movedLate moved late"))
        val sessRows = spark.table(s"${tag}_sessions").agg(sum("n_events")).collect().head
        val sessN = if (sessRows.isNullAt(0)) 0L else sessRows.getLong(0)
        if (sessN > totalRows - out("sessions")._3)
          rec.fail(s"check $tag sessions", new IllegalStateException(
            s"sessions hold $sessN events of $totalRows less ${out("sessions")._3} dropped"))
        rec.add("type" -> "stream_check", "phase" -> tag, "events" -> totalRows, "moved_late" -> movedLate,
          "tumbling_missing" -> missing, "tumbling_dropped" -> droppedT, "sessions_events" -> sessN)
      }
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      for (n <- names; t <- Seq("live", "drain")) spark.catalog.dropTempView(s"${t}_$n")
    }
  }

  private def dropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** One record per micro-batch: phase durations, state, and (traced) the
    * jobs, stages and tasks it ran. */
  private def batches(rec: Records, phase: String, name: String, q: StreamingQuery,
                      ps: Seq[StreamingQueryProgress], tracker: Option[ExecTracker],
                      sc: org.apache.spark.SparkContext): Unit = {
    val counts = tracker.map(_.takePrefix(sc, q.runId.toString)).getOrElse(Map.empty)
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val st = p.stateOperators
      val c = counts.get(s"${q.runId}#${p.batchId}").map(_.fields).getOrElse(Nil)
      rec.add(Seq("type" -> "batch", "phase" -> phase, "pipeline" -> name, "batch" -> p.batchId,
        "rows" -> p.numInputRows, "file" -> fileIndex(p), "duration_ms" -> d,
        "state_rows" -> st.map(_.numRowsTotal).sum, "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_dropped_late" -> st.map(_.numRowsDroppedByWatermark).sum) ++ c: _*)
    }
  }

  /** How many files later a late row arrives. Two, because a window still
    * in state when its late rows arrive absorbs them in the same batch;
    * only rows behind an already-evicted window take the late-drop path. */
  val LateBy = 2

  /** Writes the first `k` × `rowsPerFile` events in ts order as `k` parquet
    * files of `rowsPerFile` rows (file i holds the i-th slice), with a seeded
    * `lateShare` of rows moved `LateBy` files later. File modification
    * times increase with i, which is the order the file source reads them
    * in. */
  def stage(ev: DataFrame, out: Path, k: Int, rowsPerFile: Int, seed: Long,
            lateShare: Double): (Seq[Path], Long, Long) = {
    val tmp = out.resolveSibling(out.getFileName.toString + "-tmp")
    val late = pmod(xxhash64(lit(seed), col("event_id")), lit(1000000L)) < lit((lateShare * 1e6).toLong)
    val stats = Observation("staged")
    ev.withColumn("_f", ((row_number().over(Window.orderBy("ts", "event_id")) - 1) / rowsPerFile).cast("int"))
      .where(col("_f") < k)
      .withColumn("_m", late && col("_f") < k - LateBy)
      .observe(stats, count(lit(1)).as("rows"), sum(col("_m").cast("long")).as("moved"))
      .withColumn("_f", when(col("_m"), col("_f") + LateBy).otherwise(col("_f")))
      .drop("_m")
      .repartition(k, col("_f")).sortWithinPartitions("ts", "event_id")
      .write.partitionBy("_f").parquet(tmp.toString)
    val observed = stats.get
    require(observed("rows") == k.toLong * rowsPerFile,
      s"events hold ${observed("rows")} rows, fewer than $k files of $rowsPerFile (lower --seconds)")
    Files.createDirectories(out)
    val base = System.currentTimeMillis() - 3600L * 1000
    val files = (0 until k).map { i =>
      val part = Files.list(tmp.resolve(s"_f=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"slice $i has ${part.size} files")
      val f = out.resolve(f"events-$i%03d.parquet")
      Files.move(part.head, f)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      f
    }
    (files, observed("moved").asInstanceOf[Long], observed("rows").asInstanceOf[Long])
  }
}
