package ptx.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** A telemetry event — the streaming-side row type (events table schema
  * after the ns→µs load fix; `props` omitted where not needed). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Per-user running state for the stateful pipeline. */
case class UserState(runningMax: Double, consecErrors: Int)

/** Emitted by the stateful pipeline: a new per-user running max, or a
  * burst of ≥3 consecutive error events. */
case class Alert(user_id: Long, event_id: Long, kind: String, value: Double)

/** G10 — Structured Streaming pipelines (SURVEY.md §2 G10).
  *
  * Every transform takes the (possibly streaming) events frame as input and
  * is usable unchanged on a batch frame — that is the "batch twin" property
  * the StreamingSpec asserts (same result from MemoryStream replay as from
  * the batch DataFrame). Declared batch twins in ops.Telemetry/SetOps cover
  * the t2 surface; these run under MicroBatchExecution with state stores.
  *
  * Scale notes (100 TB/day streams): state is partitioned by the grouping
  * key (user_id / window), so state stores shard across executors; the
  * watermark bounds state size (eviction after 10 min of event time);
  * dropDuplicatesWithinWatermark keeps only the watermark-width id window
  * rather than all-time ids.
  */
object Pipelines {

  /** Epoch-µs of a Timestamp: ms base + sub-ms micros. Shared by every
    * stateful processor — the (getNanos/1000)%1000 decomposition carries a
    * subtle invariant (it assumes non-negative epoch), so there is exactly
    * ONE copy to fix if pre-1970 timestamps ever matter. */
  private def usOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Tumbling 1 h window counts with a 10 min watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_val"))

  /** Hopping 1 h / 15 min window counts. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hop_start"), col("event_type"), col("n"))

  /** Native session windows (30 min gap) per user — streaming twin of the
    * lag+cumsum batch sessionization (`pt_sessionize`). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_val"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_val"))

  /** Approx distinct users per tumbling hour. Distinct counting in a
    * stream needs a sketch: exact per-window distinct state grows with the
    * id universe, while the HLL buffer is fixed-width per window and
    * merges across micro-batches like any other partial aggregate.
    */
  def distinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("hour"), col("approx_users"))

  /** Streaming twin of `pt_hourly_percentiles` (r9): windowed hourly
    * p50/p95 via the approx-percentile sketch — exact percentile is
    * impossible in a stream (it would buffer every value per open
    * window), while the sketch is fixed-width per window and merges
    * across micro-batches like any partial aggregate. The batch op's
    * exact result is the accuracy oracle. Note the sketch carries no RNG
    * but its summary-merge tree is order-dependent once compression
    * triggers, so a multi-batch replay is only guaranteed equal to the
    * batch run within the sketch's rank-error bound — the spec pins exact
    * equality only for the single-batch, sub-compression case.
    */
  def hourlyPercentiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("pcts"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        round(col("pcts")(0), 6).as("p50"), round(col("pcts")(1), 6).as("p95"))

  /** Streaming twin of `dq_freshness` (r9): per-stream newest event time.
    * A plain un-windowed max per type — state is one timestamp per
    * event_type (bounded by the type domain), the cheapest liveness
    * monitor a stream can carry. Lag-vs-global is left to the reader of
    * the 5-row result (a cross-stream max would force a single-partition
    * agg every micro-batch).
    */
  def freshness(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))

  /** Streaming twin of `dq_drift_psi` (r9): a per-micro-batch drift GATE.
    * Each batch's per-source document-length distribution is scored
    * (Laplace-smoothed PSI, exact e6-integer summation — the shared
    * `ops.Extras.psiAgainst` core) against a STATIC reference bucket
    * distribution `ref(b, gn)` from a trusted snapshot, and the per-source
    * verdict lands in `dir/batch=<id>` (overwrite — idempotent on retried
    * batches, the writeBatch discipline). This is the ingest-time
    * admission gate: a crawl shard whose batch drifts past PSI 0.25 is
    * flagged BEFORE it reaches the lake. Zero streaming state by design —
    * the gate is per-batch; cumulative drift is the batch audit's job —
    * and the reference is a broadcast-sized static frame.
    */
  /** One batch's PSI drift verdict frame — the [[driftGate]] per-batch
    * core, shared with the composed [[ingestAdmission]] pipeline.
    * PSI grid = the UNION of reference and batch buckets: a batch doc
    * landing in a length bucket the reference never saw must enter the
    * sum as a +1-Laplace cell with gn=0 (mirroring how source-missing
    * buckets are smoothed), not silently drop out — otherwise drift INTO
    * genuinely novel buckets (the strongest drift signal a gate can see)
    * is understated. Batch-side distinct buckets are
    * micro-batch-bounded, so the anti-join stays broadcast-sized. */
  private[ptx] def driftVerdict(batch: DataFrame, ref: DataFrame): DataFrame = {
    val cells = batch
      .groupBy(col("source"), expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("n"))
    val novel = cells.select(col("b")).distinct()
      .join(ref.select(col("b")), Seq("b"), "left_anti")
      .withColumn("gn", lit(0L))
    ptx.ops.Extras.psiAgainstUnsorted(cells, ref.unionByName(novel))
  }

  /** Re-root a BROADCAST-SIZED static reference frame as a local
    * relation: one collect at stream-construction time, so the per-batch
    * plans that broadcast it stop re-running its upstream aggregation
    * (and re-scanning its source) on EVERY micro-batch — the reference
    * is static by contract, the rows are identical (r13). */
  private def localized(df: DataFrame): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    df.collect().foreach(rows.add)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  def driftGate(docs: DataFrame, ref: DataFrame, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refLocal = localized(ref)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        driftVerdict(batch, refLocal)
          .write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming composed drift-REPORT gate (r10): the full per-batch drift
    * panel — Laplace-smoothed PSI, Kolmogorov–Smirnov, and Welch-t — of
    * each batch source's document-length distribution against a STATIC
    * reference snapshot, in ONE foreachBatch pass over one (source,
    * bucket) cell aggregate (the batch `dq_drift_report` share-the-apex
    * discipline applied at ingest). `ref` carries the snapshot's bucket
    * frame `(b, gn, gsx, gsxx)`: count + exact DECIMAL(38,0) n_chars
    * moment sums per bucket. Differences vs the batch audit trio: the
    * comparison population is the REFERENCE (an admission gate asks "does
    * this shard look like the lake?"), not same-corpus rest-of-global;
    * and the PSI/KS grids take the union of reference and batch buckets
    * so novel-bucket drift scores (the [[driftGate]] r10 fix). Zero
    * streaming state; per-batch overwrite of `dir/batch=<id>` keeps
    * retried batches idempotent. Scale: everything after the one corpus
    * scan is sources×buckets-grid-sized with the reference broadcast.
    */
  def driftReportGate(docs: DataFrame, refIn: DataFrame, dir: String,
                      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = localized(refIn) // static + broadcast-sized: collect once
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cells = batch
          .groupBy(col("source"), expr("n_chars div 50").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars").cast("decimal(38,0)")).cast("decimal(38,0)").as("sxc"),
            sum(col("n_chars").cast("decimal(38,0)") * col("n_chars"))
              .cast("decimal(38,0)").as("sxxc"))
        val refN = ref.select(col("b"), col("gn"))
        val novel = cells.select(col("b")).distinct()
          .join(refN.select(col("b")), Seq("b"), "left_anti")
          .withColumn("gn", lit(0L))
        val g = refN.unionByName(novel)
        val counts = cells.select(col("source"), col("b"), col("n"))
        val psi = ptx.ops.Extras.psiAgainst(counts, g)
          .select(col("source"), col("n_docs"), col("psi_e6"),
            col("drifted").as("drifted_psi"))
        // KS: max |batch cdf − reference cdf| over the union bucket grid,
        // exact cross-multiplied integers (the dq_drift_ks recipe)
        val st = counts.groupBy(col("source")).agg(sum(col("n")).as("ns"))
        val tot = g.agg(sum(col("gn")).as("ng"))
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("b"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val ks = counts.select(col("source")).distinct()
          .crossJoin(broadcast(g))
          .join(broadcast(counts), Seq("source", "b"), "left_outer")
          .withColumn("sn", coalesce(col("n"), lit(0L)))
          .withColumn("cs", sum(col("sn")).over(wb))
          .withColumn("cg", sum(col("gn")).over(wb))
          .join(broadcast(st), Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("dnum", abs(
            col("cs").cast("decimal(38,0)") * col("ng") -
              col("cg").cast("decimal(38,0)") * col("ns")))
          .groupBy(col("source"), col("ns"), col("ng"))
          .agg(max(col("dnum")).as("dmax"))
          .select(col("source"),
            expr("(2 * dmax * 1000000 + cast(ns as decimal(38,0)) * ng)" +
              " div (2 * cast(ns as decimal(38,0)) * ng)").as("ks_e6"),
            expr("(dmax * 1e0) / (ns * 1e0 * ng) >" +
              " 1.36 * sqrt((ns + ng) * 1e0 / (ns * 1e0 * ng))").as("drifted_ks"))
        // Welch t of the batch source's mean length vs the REFERENCE
        // population (its moments arrive pre-aggregated in ref)
        val m = cells.groupBy(col("source"))
          .agg(sum(col("n")).as("n"), sum(col("sxc")).as("sx"),
            sum(col("sxxc")).as("sxx"))
        val gm = ref.agg(sum(col("gn")).as("n2"),
          sum(col("gsx")).cast("decimal(38,0)").as("sx2"),
          sum(col("gsxx")).cast("decimal(38,0)").as("sxx2"))
        val tt = m.crossJoin(broadcast(gm))
          .select(col("source"),
            expr("""CASE WHEN n >= 2 AND n2 >= 2 AND
              |  ((sxx * 1e0 - (sx * 1e0) * (sx * 1e0) / n) / (n - 1)) / n +
              |  ((sxx2 * 1e0 - (sx2 * 1e0) * (sx2 * 1e0) / n2) / (n2 - 1)) / n2 > 0
              |THEN round(
              |  ((sx * 1e0) / n - (sx2 * 1e0) / n2) / sqrt(
              |    ((sxx * 1e0 - (sx * 1e0) * (sx * 1e0) / n) / (n - 1)) / n +
              |    ((sxx2 * 1e0 - (sx2 * 1e0) * (sx2 * 1e0) / n2) / (n2 - 1)) / n2),
              |  6) END""".stripMargin).as("t_stat"))
          .withColumn("significant",
            when(col("t_stat").isNotNull, abs(col("t_stat")) > 1.96))
        psi.join(ks, Seq("source")).join(tt, Seq("source"))
          .orderBy(col("source"))
          .write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming ingest-VOLUME gate (r11): the per-micro-batch twin of the
    * `dq_volume_anomaly` batch audit — each batch's per-day event counts
    * are z-scored against a STATIC reference moment frame (`(nd, sx,
    * sxx)` from [[ptx.ops.Extras.volumeMoments]] over the historical
    * corpus), the count-grain member of the admission-gate family (the
    * PSI/KS/t gates score a shard's SHAPE; a feed that dies or
    * double-delivers moves the COUNT first, often with the shape
    * intact). Shares the batch audit's exact z core
    * (`Extras.volumeVerdict`), so a one-batch replay with the corpus's
    * own moments is row-identical to the declared audit. Verdicts land
    * per `(batch, day)` in `dir/batch=<id>` (overwrite — idempotent on
    * retried batches); zero streaming state, reference broadcast, one
    * count agg per batch. A deployment scores CLOSED days (a partial
    * day's count reads low by construction) — the gate scores whatever
    * days the batch carries and leaves closing policy to the feed. */
  def volumeGate(events: DataFrame, refIn: DataFrame, dir: String,
                 checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = localized(refIn) // static + broadcast-sized: collect once
    events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ptx.ops.Extras.volumeVerdict(
            ptx.ops.Extras.dailyCounts(batch).crossJoin(broadcast(ref)))
          .write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Builds the eval-set gram sketch [[decontaminationGate]] probes: one
    * pass over the benchmark/eval corpus inserting every word-8-gram hash
    * into a 2^23-bit Bloom filter (`bloom_filter_agg` — duplicate
    * insertions are idempotent, partials OR-merge). Eval suites are small,
    * so the fixed 1 MB sketch holds fpp ≪ 1%; returns null-safe empty
    * bytes when the eval frame has no grams. */
  def evalGramSketch(evalDocs: DataFrame): Array[Byte] = {
    ptx.functions.TextGrams.register(evalDocs.sparkSession)
    ptx.functions.Blooms.register(evalDocs.sparkSession)
    val row = evalDocs
      .select(explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
      .agg(call_function("bloom_filter_agg", col("h"),
        lit(1000000L), lit(8388608L)).as("bf")).head()
    if (row.isNullAt(0)) Array.empty[Byte] else row.getAs[Array[Byte]](0)
  }

  /** Streaming DECONTAMINATION admission gate (r11): the ingest-time twin
    * of `llm_split_contamination_bloom`, in the direction a training
    * pipeline actually deploys it — each incoming TRAIN doc is probed
    * against the held-out/benchmark gram sketch (GPT-3 §4's published
    * recipe: drop training text that overlaps eval, so reported eval
    * stays honest). Per batch, each doc's word-8-grams are hashed
    * (`gram_hashes`) and probed scan-side against the broadcast sketch
    * (`might_contain`, codegen'd); the per-doc verdict (n_grams, n_hit,
    * contaminated = any hit) lands in `dir/batch=<id>` (overwrite —
    * idempotent on retried batches, the writeBatch discipline).
    * One-sided error inherited from the sketch: a contaminated doc is
    * NEVER missed; a clean doc is flagged with probability ≈ fpp per
    * gram — the safe direction for an admission gate (you only
    * over-drop). Zero streaming state; the 1 MB sketch ships with the
    * task binary, so at 100 TB the gate is a pure scan-side map — no
    * join, no shuffle, no per-batch re-aggregation of the eval side.
    */
  /** One batch's per-doc decontamination verdict `(doc_id, n_grams,
    * n_hit, contaminated)` — the [[decontaminationGate]] per-batch core,
    * shared with the composed [[ingestAdmission]] pipeline. */
  private[ptx] def deconVerdict(batch: DataFrame,
                                evalSketch: Array[Byte],
                                carry: Seq[String] = Nil): DataFrame = {
    ptx.functions.TextGrams.register(batch.sparkSession)
    ptx.functions.Blooms.register(batch.sparkSession)
    // SHUFFLE-FREE (r13): the per-doc gram counts are computed with
    // higher-order array functions over the gram array instead of
    // explode + groupBy(doc_id) — the old shape paid a full exchange per
    // micro-batch to re-associate grams with the doc they were exploded
    // from. size/filter over the array is the same count (gram_hashes
    // yields no null elements; an empty text gives an empty array →
    // n_grams = 0, contaminated = false, exactly the explode_outer
    // semantics), and the verdict is now the pure scan-side map the
    // 100 TB posture claims: broadcast-sized sketch literal, no join, no
    // shuffle, no per-batch re-aggregation.
    val nHit =
      if (evalSketch.isEmpty) lit(0L)
      else size(filter(col("g"),
        h => call_function("might_contain", lit(evalSketch), h))).cast("long")
    // `carry` columns ride along unchanged (scan-side projection, still no
    // shuffle): the composed ingest audit carries `source` on decon rows
    // so the driver-side gate filter can map drifted SOURCES to doc ids
    // without another join. Standalone gates pass Nil — schema unchanged.
    val keep = col("doc_id") +: carry.map(col)
    batch
      .select((keep :+ expr("gram_hashes(split(text, ' '), 8)").as("g")): _*)
      .select((keep :+ size(col("g")).cast("long").as("n_grams")
        :+ nHit.as("n_hit")): _*)
      .withColumn("contaminated", col("n_hit") > 0)
  }

  def decontaminationGate(docs: DataFrame, evalSketch: Array[Byte],
                          dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        deconVerdict(batch, evalSketch)
          .write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming exact content dedup at ingest (r9): the documents-side
    * twin of the batch checksum-dedup family — drop any doc whose
    * payload content (md5 of text) was already seen on the stream.
    * `dropDuplicates` on a stream keeps ONE state entry per distinct
    * fingerprint forever (documents carry no event time, so no watermark
    * can bound it) — that is the honest cost of GLOBAL exactly-once
    * content dedup, and the 16-byte key keeps it ~16 GB per billion
    * distinct docs sharded across the cluster's state stores. A bounded
    * deployment TTLs it via transformWithState; the events-side
    * [[dedup]] shows the watermarked shape where event time exists.
    */
  def contentDedup(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")

  /** A doc surviving the TTL'd dedup stream: its content fingerprint and
    * the id of the copy that was admitted. */
  case class FpDoc(fp: String, doc_id: Long)

  /** TTL-BOUNDED streaming content dedup (r11, VERDICT r10 #5) — the
    * production form of [[contentDedup]], whose dropDuplicates state holds
    * one entry per distinct payload FOREVER. Here the fingerprint lives in
    * a transformWithState ValueState with a processing-time TTL: a doc is
    * admitted iff no live entry exists for its md5, and every sighting
    * (admitted or suppressed) refreshes the entry — cache semantics, so a
    * continuously re-crawled page never re-admits while a fingerprint
    * unseen for `ttl` ages out and its next arrival is admitted again.
    * Exactly-once holds WITHIN the TTL window (including within a batch:
    * only the lowest doc_id of a batch's burst is admitted — deterministic,
    * unlike dropDuplicates' first-arrival); the deliberate trade is
    * re-admission after `ttl` of silence, which bounds state at
    * (distinct fps seen within ttl) instead of all time. Requires the
    * RocksDB state store provider, like every transformWithState pipeline;
    * TTL needs TimeMode.ProcessingTime. State survives checkpoint
    * recovery with its expiration schedule (RecoverySpec).
    *
    * Operational note: a TimeMode.ProcessingTime query runs a micro-batch
    * EVERY trigger interval (the TTL sweep), including empty ones — the
    * stream never quiesces, so `processAllAvailable` never latches and
    * even `Trigger.AvailableNow` does not self-terminate (both observed,
    * r11). Run it with a real `Trigger.ProcessingTime(interval)`, verify
    * progress by watching the SINK, and shut down with `query.stop()` —
    * committed batches and their state survive for the next start
    * (RecoverySpec drives exactly that cycle).
    */
  class TtlContentDedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[String, FpDoc, FpDoc] {
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
        TTLConfig(ttl))
    override def handleInputRows(key: String, rows: Iterator[FpDoc],
                                 timers: TimerValues): Iterator[FpDoc] = {
      if (!seen.exists()) { // TTL-expired entries read as absent
        // admit the batch's lowest doc_id (deterministic under replay);
        // the update records first-sight and starts the TTL clock
        val keep = rows.minBy(_.doc_id)
        seen.update(keep.doc_id)
        Iterator.single(keep)
      } else {
        seen.update(seen.get()) // refresh the TTL clock on every sighting
        Iterator.empty
      }
    }
  }

  /** transformWithState wiring for TtlContentDedupProcessor: md5 the text,
    * key by fingerprint, admit first-sight-within-TTL docs. */
  def contentDedupTtl(docs: DataFrame, ttl: java.time.Duration): Dataset[FpDoc] = {
    import docs.sparkSession.implicits._
    docs.select(md5(col("text")).as("fp"), col("doc_id")).as[FpDoc]
      .groupByKey(_.fp)
      .transformWithState(new TtlContentDedupProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Exactly-once semantics over an at-least-once feed: drop duplicate
    * event_ids within the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Exactly-once micro-batch parquet sink via foreachBatch: each batch
    * writes to its own `batch=<id>` directory in overwrite mode, so a
    * RETRIED batch replaces its own prior (possibly partial) output
    * instead of duplicating it — idempotent replay, the standard
    * production sink pattern when the target lacks transactional
    * streaming support. The batch id comes from the checkpointed offset
    * log, so id→data is stable across restarts; at scale each batch
    * write inherits the frame's partitioning (no extra shuffle).
    */
  def writeBatch(batch: DataFrame, id: Long, dir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/batch=$id")

  def parquetSink(events: DataFrame, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => writeBatch(batch, id, dir))
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Stream-static enrichment: per-event user dimension lookup. */
  def enrich(events: DataFrame, users: DataFrame): DataFrame =
    events.join(users, events("user_id") === users("u_id"))
      .select(col("event_id"), col("ts"), col("user_id"), col("u_name"),
        col("event_type"), col("value"))

  /** Stream-stream interval self-join: for each purchase, the same user's
    * clicks in the preceding 30 minutes (attribution). Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * join state is evictable — the only shape a stream-stream join scales
    * with (unbounded-state joins are rejected by Spark in append mode).
    */
  def attribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "10 minutes")
    purchases.join(clicks,
      col("c_user") === col("p_user") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Left-outer variant of [[attribution]]: EVERY purchase appears — with
    * its attributed clicks when any landed in the preceding 30 minutes,
    * or once with null click columns otherwise. The null row for an
    * unmatched purchase is emitted only after the watermark passes the
    * purchase's join window (Spark must prove no future click can match
    * before it can declare the purchase unmatched), so results trail the
    * watermark by design — the standard attribution shape when "purchases
    * without any preceding click" is itself the signal.
    */
  def attributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "10 minutes")
    purchases.join(clicks,
      col("c_user") === col("p_user") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Running per-user totals via the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed ValueState) — the successor to
    * flatMapGroupsWithState; requires the RocksDB state store provider.
    * Emits one (user, running count, running sum) row per input event.
    */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, (Long, Long, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, sum) = Option(state.get()).getOrElse((0L, 0.0))
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        n += 1; sum += e.value
        (key, n, sum)
      }
      state.update((n, sum))
      out.iterator
    }
  }

  /** transformWithState wiring for RunningTotalsProcessor. */
  def runningTotals(events: Dataset[Event]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One EWM output row: the event plus its truncated EWM value (e2). */
  case class EwmaPoint(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                       ewma_e2: Long)

  /** Streaming twin of the batch `pt_ewma` query (ops.Telemetry): a
    * halflife-one exponential moving average truncated to the last 8
    * samples, exact e2 fixed point. The ring of up-to-8 previous samples
    * lives in typed ListState (the one state primitive ValueState can't
    * express without packing) — 8 longs per user, bounded regardless of
    * stream length. Within a batch rows process in (ts, event_id) order;
    * the ring carries across batches, so replaying the fixture in
    * event-time-ordered batches reproduces the batch query row-for-row
    * (StreamingSpec asserts this against the declared pt_ewma twin). */
  class EwmaProcessor extends StatefulProcessor[Long, Event, EwmaPoint] {
    @transient private var ring: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getListState[Long]("ring", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[EwmaPoint] = {
      var r = ring.get().toList // most-recent-first
      val out = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).map { e =>
        r = (math.round(e.value * 100) :: r).take(8)
        var num = 0L; var den = 0L
        r.iterator.zipWithIndex.foreach { case (x, k) =>
          num += x * (128L >> k); den += 128L >> k }
        // num/den mirrors the batch round(num/den): one double division of
        // exact integers, round-half-up (all samples are positive)
        EwmaPoint(key, e.event_id, e.ts, math.round(num.toDouble / den))
      }
      ring.clear()
      ring.put(r.toArray)
      out.iterator
    }
  }

  /** transformWithState wiring for EwmaProcessor. */
  def ewma(events: Dataset[Event]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One per-event histogram update: the event's type count + user total. */
  case class TypeHistPoint(user_id: Long, event_id: Long,
                           ts: java.sql.Timestamp, event_type: String,
                           n_type: Long, n_seen: Long)

  /** Streaming twin of the batch `pt_type_running_hist` query: each event
    * annotated with its user's running per-type count and running total —
    * the per-key histogram every online feature store maintains. This is
    * the MapState exemplar (the third typed-state primitive after
    * ValueState/ListState): state is one map entry per DISTINCT type the
    * user has produced (≤5 here, bounded by the type domain, NOT by
    * volume), and the running total is the sum of ≤|domain| entries —
    * never a second counter that could drift from the map. */
  class TypeHistProcessor extends StatefulProcessor[Long, Event, TypeHistPoint] {
    @transient private var hist: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long]("hist", Encoders.STRING,
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[TypeHistPoint] = {
      val out = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).map { e =>
        val n = (if (hist.containsKey(e.event_type))
          hist.getValue(e.event_type) else 0L) + 1
        hist.updateValue(e.event_type, n)
        val total = hist.values().foldLeft(0L)(_ + _)
        TypeHistPoint(key, e.event_id, e.ts, e.event_type, n, total)
      }
      out.iterator
    }
  }

  /** transformWithState wiring for TypeHistProcessor. */
  def typeHistogram(events: Dataset[Event]): Dataset[TypeHistPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeHistProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One CUSUM output row: the event's running deviation sum + drift flag. */
  case class CusumPoint(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                        cusum_e2: Long, drift: Boolean)

  /** Streaming twin of the batch `pt_cusum` query: per-user cumulative sum
    * of deviations from a reference mean, drift-flagged when the sum rises
    * more than `thresholdE2` above its running minimum. The reference mean
    * is a MODEL PARAMETER (computed by the batch side over history and
    * passed in at query start) — the standard shape for streaming
    * detectors: the stream never needs a global aggregate, and state is
    * two longs per user (cusum, running min) regardless of volume. */
  class CusumProcessor(meanE2: Long, thresholdE2: Long = 50000L)
      extends StatefulProcessor[Long, Event, CusumPoint] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("cusum",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[CusumPoint] = {
      // runMin starts at MaxValue so the first row's min is its own cusum —
      // the batch running-min frame includes the current row, so drift is
      // structurally false on a user's first event, matching the twin
      var (cusum, runMin) = Option(st.get()).getOrElse((0L, Long.MaxValue))
      val out = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).map { e =>
        cusum += math.round(e.value * 100) - meanE2
        runMin = math.min(runMin, cusum)
        CusumPoint(key, e.event_id, e.ts, cusum, cusum - runMin > thresholdE2)
      }
      st.update((cusum, runMin))
      out.iterator
    }
  }

  /** transformWithState wiring for CusumProcessor. */
  def cusum(events: Dataset[Event], meanE2: Long): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new CusumProcessor(meanE2),
        TimeMode.None(), OutputMode.Append())
  }

  /** A funnel stage advance: the user reached `stage` at `ts`. */
  case class FunnelAdvance(user_id: Long, stage: String, ts: java.sql.Timestamp)

  /** Streaming funnel (r5) — the push twin of the batch `pt_funnel`
    * query: a per-user monotone state machine view→click→purchase that
    * emits one row per stage ADVANCE. State is three epoch-µs marks
    * (0 = unreached), so the store holds 24 bytes per user regardless of
    * event volume — the shape that survives 10⁹ users. Within a batch
    * rows process in (ts, event_id) order; across batches the machine is
    * arrival-order and monotone (a late click that predates the recorded
    * view cannot advance anything — by then click is already passed or the
    * view mark is later; this matches funnel semantics where stages only
    * move forward). The converse inversion is also dropped, permanently: a
    * stage event arriving in an EARLIER batch than its prerequisite (a
    * click/purchase whose view lands in a later batch) finds the
    * prerequisite mark unset and is discarded, and nothing replays it when
    * the view arrives — so the batch `pt_funnel` twin, which sees all
    * events at once, can count a conversion this processor does not.
    * That asymmetry is the deliberate trade: buffering unmatched
    * out-of-order stage events in state to recover batch parity would grow
    * state with arrival skew instead of staying 24 bytes/user.
    */
  class FunnelProcessor
      extends StatefulProcessor[Long, Event, FunnelAdvance] {
    // "unreached" sentinel OUTSIDE the valid epoch-µs domain: 0L would
    // collide with a 1970-01-01T00:00:00 event (the classic null→zero
    // coercion in dirty telemetry) and re-emit that user's view forever
    private val Unreached = Long.MinValue
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("funnel",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[FunnelAdvance] = {
      val init = Option(st.get()).getOrElse((Unreached, Unreached, Unreached))
      var (v, c, p) = init
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
      // (getTime, getNanos): µs-exact ordering — getTime alone truncates
      // to ms, which could process a same-millisecond click before its
      // view and drop a conversion the batch twin counts
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        val us = usOf(e.ts)
        e.event_type match {
          case "view" if v == Unreached =>
            v = us; out += FunnelAdvance(key, "view", e.ts)
          case "click" if v != Unreached && c == Unreached && us > v =>
            c = us; out += FunnelAdvance(key, "click", e.ts)
          case "purchase" if c != Unreached && p == Unreached && us > c =>
            p = us; out += FunnelAdvance(key, "purchase", e.ts)
          case _ =>
        }
      }
      // skip the RocksDB put when nothing advanced — at 10⁹ users the
      // unconditional update is pure changelog write amplification
      if ((v, c, p) != init) st.update((v, c, p))
      out.iterator
    }
  }

  /** transformWithState wiring for FunnelProcessor. */
  def funnel(events: Dataset[Event]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** A hysteresis alert rising edge (streaming twin of `pt_hysteresis`). */
  case class HysteresisEdge(user_id: Long, event_id: Long,
                            ts: java.sql.Timestamp, value: Double)

  /** Streaming hysteresis alerting (r5): arm at value ≥ hi, clear only at
    * ≤ lo, emit rising edges — the push twin of the batch `pt_hysteresis`
    * window query, with the armed bit as ONE boolean of state per user
    * (the forward-fill the batch op computes with a window is exactly
    * this bit carried across micro-batches). Within a batch rows process
    * in (ts, event_id) order, so a one-batch replay reproduces the batch
    * ordering.
    */
  class HysteresisProcessor(hi: Double, lo: Double)
      extends StatefulProcessor[Long, Event, HysteresisEdge] {
    @transient private var armed: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      armed = getHandle.getValueState[Boolean]("armed",
        Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[HysteresisEdge] = {
      val was = Option(armed.get()).getOrElse(false)
      var on = was
      val out = scala.collection.mutable.ArrayBuffer.empty[HysteresisEdge]
      // (getTime, getNanos): ms then full fractional-second — µs-exact
      // without double-counting the ms part
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        .foreach { e =>
          if (e.value >= hi) {
            if (!on) { on = true; out += HysteresisEdge(key, e.event_id, e.ts, e.value) }
          } else if (e.value <= lo) on = false
        }
      // skip the RocksDB put when the bit didn't change (the common case:
      // values inside the band, or already-armed staying high) — avoids
      // per-user changelog writes every batch at the 10⁹-user design point
      if (on != was) armed.update(on)
      out.iterator
    }
  }

  /** transformWithState wiring for HysteresisProcessor (hi=200, lo=50 —
    * the batch twin's constants). */
  def hysteresis(events: Dataset[Event]): Dataset[HysteresisEdge] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new HysteresisProcessor(200.0, 50.0),
        TimeMode.None(), OutputMode.Append())
  }

  /** A session closed by TIMEOUT (no activity for 30 min), emitted when
    * the event-time watermark passes last_ts + 30 min. */
  case class ClosedSession(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n: Long)

  /** Session-timeout detection via transformWithState EVENT-TIME TIMERS:
    * per-user state holds (session_start, last_ts, n); each batch
    * re-registers a timer at last_ts + 30 min (deleting the stale one),
    * and when the watermark passes the timer, handleExpiredTimer emits the
    * closed session and clears state. This is the PUSH path for session
    * finalization — `session_window` only emits a user's closed session
    * when that user's NEXT event arrives, while a timer fires on time
    * passing, which is what downstream alerting/TTL pipelines need. State
    * and timers shard by the grouping key and are bounded by the
    * watermark, so the pattern holds at 100 TB/day streams.
    */
  class SessionTimeoutProcessor
      extends StatefulProcessor[Long, Event, ClosedSession] {
    // the gap rule compares exact MICROSECONDS — the events table is
    // µs-precision (ns→µs load recipe) and the batch twin pt_sessionize
    // splits on fractional-second gaps; a ms-truncated compare would merge
    // sessions exactly 1800.000x s apart. Timers are ms-granular by API,
    // so the registered expiry is the CEILING of the µs expiry (never
    // fires early); registration and the stale-timer guard share timerMs.
    private val GapUs = 30L * 60 * 1000000
    private def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000000 * 1000)
      t.setNanos((us % 1000000).toInt * 1000)
      t
    }
    private def timerMs(lastUs: Long): Long = (lastUs + GapUs + 999) / 1000
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
      var closed = List.empty[ClosedSession]
      var cur = Option(sess.get())
      cur.foreach(c => getHandle.deleteTimer(timerMs(c._2)))
      sorted.foreach { e =>
        val t = usOf(e.ts)
        cur = cur match {
          case Some((s, l, n)) if t - l <= GapUs =>
            Some((s, math.max(l, t), n + 1))
          case Some((s, l, n)) =>  // in-batch gap: close the old session now
            closed ::= ClosedSession(key, tsOf(s), tsOf(l), n)
            Some((t, t, 1L))
          case None => Some((t, t, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.registerTimer(timerMs(c._2))
      }
      closed.reverse.iterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      Option(sess.get()) match {
        // guard against a stale timer racing a same-batch extension
        case Some((s, l, n)) if expired.getExpiryTimeInMs >= timerMs(l) =>
          sess.clear()
          Iterator.single(ClosedSession(key, tsOf(s), tsOf(l), n))
        case _ => Iterator.empty
      }
    }
  }

  /** transformWithState wiring for SessionTimeoutProcessor (event-time
    * timers require TimeMode.EventTime and a watermark on the input). */
  def sessionTimeouts(events: Dataset[Event]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** CHAINED stateful aggregations in one streaming query (Spark 4 multiple
    * stateful operators): 15-minute tumbling counts per type, re-windowed
    * into 1-hour rollups (peak quarter + hourly total) by aggregating ON
    * the first aggregation's window column (`window(w15, '1 hour')`). The
    * pre-Spark-3.4 workaround was two queries glued by a sink; here the
    * intermediate frame never materializes outside the pipeline. Both
    * levels' state shards by (window, type) and the shared watermark
    * bounds both stores. Batch twin: the identical expression chain on a
    * static frame (StreamingSpec asserts equality).
    */
  def chainedWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes").as("w15"), col("event_type"))
      .agg(count(lit(1)).as("n15"))
      .groupBy(window(col("w15"), "1 hour").as("w60"), col("event_type"))
      .agg(max(col("n15")).as("peak_quarter"), sum(col("n15")).as("n60"))
      .select(col("w60.start").as("hour"), col("event_type"),
        col("peak_quarter"), col("n60"))

  /** Emitted by the ListState pipeline: rolling mean of the user's last ≤3
    * event values, one row per input event. */
  case class Rolling(user_id: Long, event_id: Long, mean3: Double)

  /** Bounded last-N buffer per key via transformWithState LIST state: keeps
    * the user's 3 most recent values (explicit eviction on append) and
    * emits the buffer mean per event — the streaming twin of
    * win_moving_avg's 3-row frame. ListState is the right primitive for
    * buffers: appends are O(1) row-writes in RocksDB (no read-modify-write
    * of a serialized blob, unlike a ValueState[Seq]), and the bound keeps
    * per-key state O(N) regardless of stream length.
    */
  class RecentValuesProcessor
      extends StatefulProcessor[Long, Event, Rolling] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Double]("recent", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[Rolling] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = buf.get().toList
      val out = sorted.map { e =>
        cur = (cur :+ e.value).takeRight(3)
        Rolling(key, e.event_id, cur.sum / cur.size)
      }
      buf.put(cur.toArray)
      out.iterator
    }
  }

  /** transformWithState wiring for RecentValuesProcessor. */
  def rollingMeans(events: Dataset[Event]): Dataset[Rolling] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentValuesProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming ANN probe — vector similarity SERVING over a prebuilt IVF
    * index: a stream of probe vectors against static centroid + cell
    * frames (e.g. `VectorIndex.read` + assigned corpus). Per micro-batch:
    *  - cell ASSIGNMENT is stateless — the centroid frame folds into a
    *    one-row broadcast array and each probe takes its nprobe best cells
    *    in one HOF pass (same zero-shuffle trick as the k-means builder);
    *  - candidates come from a stream-static equi join on the cell id;
    *  - top-k per probe uses the mergeable TopK aggregator (streaming
    *    aggregation; the batch window-rank formulation isn't available on
    *    streams). Emits array<struct<sim, cand_id>> per probe, best first.
    * State is one k-element buffer per probe key — bounded, shardable.
    * Batch twin: THIS function on a static probes frame (StreamingSpec
    * asserts streamed == batch). `LlmScale.ivfProbe` shares the candidate
    * semantics but rounds sims to 6dp and tie-breaks by cand_id, so the
    * two are equivalent in ranking, not row-identical.
    */
  def annProbe(probes: DataFrame, cent: DataFrame, cells: DataFrame,
               nprobe: Int = 3, k: Int = 5): DataFrame = {
    ptx.functions.VectorOps.register(probes.sparkSession)
    val centArr = cent.agg(
      expr("array_sort(collect_list(struct(label, centroid)))").as("cents"))
    probes.crossJoin(broadcast(centArr))
      .withColumn("cell", explode(expr(
        // rank cells by (-cosine, label): best-first, lower label on ties
        s"""slice(transform(array_sort(transform(cents,
           |  c -> struct(-cosine_sim(p, c.centroid) AS ns, c.label AS label))),
           |  s -> s.label), 1, $nprobe)""".stripMargin)))
      .select(col("probe_id"), col("p"), col("cell").as("label"))
      .join(cells.select(col("vec_id").as("cand_id"),
        col("embedding").as("c"), col("label")), Seq("label"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", expr("cosine_sim(p, c)"))
      .groupBy(col("probe_id"))
      .agg(ptx.functions.Aggregators.top_k(col("sim"), col("cand_id"), k).as("top"))
  }

  /** Streaming ANN SERVING against the PERSISTED index (r12) — the
    * foreachBatch twin of [[annProbe]], in the shape a 100 TB serving
    * tier wants: each probe micro-batch runs the INDEXED probe
    * ([[ptx.sources.VectorIndex.probe]] — wanted-cell labels collected
    * and pushed into the corpus scan as an In filter, probe side
    * broadcast), so a batch reads only its nprobe cells' row groups from
    * the compacted cells layout instead of joining the corpus
    * stream-static every trigger. Both index inputs (centroids, cells)
    * are re-read per batch, so an [[indexRefresh]] recenter or a
    * `compactCells` swap between triggers is picked up on the NEXT
    * batch with no restart. Per-batch top-k lands in
    * `outDir/batch=<id>` (coalesced single-file, batch-scoped
    * overwrite — idempotent replay, the [[writeBatch]] discipline).
    * Trade vs [[annProbe]]: that one holds centroids+cells as fixed
    * frames in one continuous plan (lowest latency, state-store top-k);
    * this one re-plans per batch (driver-job latency per trigger) but
    * scales its reads with the PROBE batch, not the corpus.
    * `nprobe = 0` (default) = AUTO: the 3-of-8 cell fraction
    * ([[ptx.sources.VectorIndex.autoNprobe]]), re-sized per batch from
    * the persisted centroid count so served recall holds flat across an
    * adaptive-k reshard instead of silently probing a shrinking
    * fraction of a growing index. */
  def annServe(probes: DataFrame, centroidsDir: String, cellsPath: String,
               outDir: String, checkpoint: String,
               nprobe: Int = 0, k: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val corpus = spark.read.parquet(cellsPath)
          .select(col("vec_id"), col("embedding"), col("label"))
        ptx.sources.VectorIndex.probe(spark, centroidsDir, corpus,
            batch.select(col("probe_id"), col("p")), nprobe, k)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming IVF index MAINTENANCE — the ingest side of the serving
    * stack ([[annProbe]] is the query side): a stream of new embedding
    * vectors is folded into the persisted index at `dir` as it arrives.
    * Per micro-batch, via foreachBatch:
    *  1. ASSIGN each new vector to its nearest persisted centroid
    *     ([[ptx.sources.VectorIndex.assign]] — broadcast centroid array,
    *     zero shuffle of the batch);
    *  2. APPEND the assigned vectors to `dir/cells` under the batch's own
    *     `batch=<id>` subdir in overwrite mode — the same idempotent-replay
    *     contract as [[writeBatch]], so a retried batch replaces rather
    *     than duplicates;
    *  3. every `refreshEvery` batches, RECENTER: recompute the centroids
    *     over ALL cells ([[ptx.ops.LlmScale.ivfCentroids]], the bit-exact
    *     float32 recipe) and overwrite `dir/centroids`, so cells drift
    *     toward where the data actually is. Probes between refreshes use
    *     the slightly stale centroids — standard for serving indexes
    *     (centroids gate RECALL, not correctness: every vector is in some
    *     cell and exact scoring happens on candidates).
    * Assignment reads the centroids lazily inside the batch, so step 3's
    * overwrite is only observed by the NEXT batch — a refresh never races
    * its own batch's assignment. At scale the recenter is the only corpus
    * pass; its cadence (refreshEvery) is the cost/recall knob.
    * The batch body runs on `batch.sparkSession`, the stream's own
    * session, so the reshard's [[ptx.Jobs.noAqe]] scopes never reach
    * queries on the session that started the stream.
    */
  def indexRefresh(newVecs: DataFrame, dir: String, checkpoint: String,
                   refreshEvery: Int = 4, targetCell: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    newVecs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val cent = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
        ptx.sources.VectorIndex.assign(batch.select("vec_id", "embedding"), cent)
          .write.mode("overwrite").parquet(s"$dir/cells/batch=$id")
        if ((id + 1) % refreshEvery == 0) recenterOrReshard(spark, dir, targetCell)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The recenter cadence's body, shared by [[indexRefresh]] and
    * [[semanticAdmission]] (r16): when a `targetCell` budget is set and
    * the admitted corpus has outgrown it, RESHARD — rebuild the index at
    * the corpus-adaptive k ([[ptx.sources.VectorIndex.reshard]], the
    * runnable "k re-shards with the corpus" contract); otherwise the
    * plain recenter (per-cell centroid recompute over all cells, the
    * bit-exact ivfCentroids recipe). Either way the next micro-batch
    * assigns against the fresh centroids. */
  private def recenterOrReshard(spark: org.apache.spark.sql.SparkSession,
                                dir: String, targetCell: Int): Unit = {
    val resharded = targetCell != Int.MaxValue &&
      ptx.sources.VectorIndex.reshard(spark, dir, targetCell)
    if (!resharded)
      ptx.sources.VectorIndex.write(
        spark.read.parquet(s"$dir/cells"), s"$dir/centroids")
  }

  /** Streaming TOKENIZER maintenance (r17, VERDICT r16 #4) — the
    * [[indexRefresh]] treatment for the persisted BPE artifact
    * ([[ptx.sources.BpeModel]]): a stream of new documents is admitted
    * into the training corpus as it arrives, and the tokenizer re-learns
    * on a cadence. Per micro-batch, via foreachBatch:
    *  1. APPEND the batch's docs under `dir/docs/batch=<id>` in
    *     overwrite mode (the idempotent-replay contract — a retried
    *     batch replaces its own partition);
    *  2. every `refreshEvery` batches, RE-LEARN over ALL admitted docs
    *     and PUBLISH as `v=<batchId>` under `dir/model`
    *     ([[ptx.sources.BpeModel.publish]] — both halves land in a
    *     fresh version dir before the one-file LATEST marker re-points,
    *     so consumers between or during refreshes read a complete,
    *     internally consistent (merges, types) pair; a crash mid-publish
    *     leaves LATEST on the previous version).
    * Consumers resolve [[ptx.sources.BpeModel.latest]] per trigger —
    * encode/docTokens pick up a refresh on their NEXT batch with no
    * restart, the [[annServe]] re-read discipline. Because the learner
    * is deterministic and round r never depends on rounds remaining, the
    * published model equals a from-scratch batch rebuild over the same
    * admitted corpus bit-for-bit, and a smaller-k model is its exact
    * prefix — StreamingSpec pins both across a refresh and a replay.
    * Scale: the re-learn is the one corpus-pass cost, on its cadence
    * knob (the recenter precedent); every other batch term is
    * batch-sized. */
  def tokenizerRefresh(newDocs: DataFrame, dir: String, checkpoint: String,
                       refreshEvery: Int = 4, k: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = newDocs.sparkSession
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(s"$dir/docs/batch=$id")
        if ((id + 1) % refreshEvery == 0)
          ptx.sources.BpeModel.publish(
            spark.read.parquet(s"$dir/docs").select(col("doc_id"), col("text")),
            s"$dir/model", version = id, k = k): Unit
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One batch's SEMANTIC admission pass — the [[admitShardBatch]] shape
    * at the EMBEDDING grain (r15): SemDeDup at ingest, the admission
    * pipeline the batch-side `llm_semdedup`/`llm_semdedup_kmeans`
    * queries imply but nothing streamed. Each arriving vector batch is
    *  1. ASSIGNED to its nearest persisted cell
    *     ([[ptx.sources.VectorIndex.assign]] — broadcast centroid
    *     array, zero shuffle of the batch);
    *  2. PROBED against the already-admitted vectors of ITS OWN CELLS:
    *     the batch's distinct cell labels (≤ min(|batch|, k) values)
    *     are collected and pushed as an In(label,…) filter into the
    *     cells scan — the CLUSTERED-key case where an In push is
    *     load-bearing (compactCells range-lays cells by label, so the
    *     read prunes row groups on footer min/max; contrast the
    *     uniform-hash post-scan In(h) removed the same round) — plus
    *     same-cell batch mates; the codegen'd cosine kernel scores
    *     candidates at `threshold`, pairs stored CANONICALLY
    *     (least, greatest) so a retried batch's audit is byte-stable;
    *  3. FILTERED by the standard deterministic smallest-id policy
    *     (shared [[rejectedDocGrain]] — ONE doc-grain aggregation,
    *     driver memory |batch|-bounded): a batch vector with an
    *     admitted same-cell partner at cosine ≥ threshold, or a
    *     smaller-id same-cell batch sibling, is rejected (the
    *     conservative over-drop direction every admission gate here
    *     documents);
    *  4. ADMITTED under the batch's own `cells/batch=<id>` partition
    *     (the [[indexRefresh]] idempotent-replay contract; a retry's
    *     own previous rows carry the batch's ids and are excluded by
    *     id inequality), with a RECENTER over all cells every
    *     `refreshEvery` batches (bit-exact ivfCentroids recipe — the
    *     cadence is the cost/recall knob).
    * Semantics: within-cell keep-lowest-id at `threshold` restricted
    * to the visible universe — exactly the cell-bounded batch contract
    * applied incrementally; a cross-cell near-duplicate is out of
    * scope BY the cell bound, same as the batch queries. Scale: every
    * per-batch term is batch-sized (assignment scan, broadcast batch
    * side, ≤k-cell index read, Σ|batch∩cell|·|cell| candidate pairs);
    * the recenter is the only corpus pass, on its knob. */
  private[ptx] def admitSemanticBatch(batch: DataFrame, id: Long,
                                      indexDir: String, outDir: String,
                                      threshold: Double,
                                      refreshEvery: Int,
                                      targetCell: Int = Int.MaxValue): Unit = {
    val spark = batch.sparkSession
    ptx.functions.VectorOps.register(spark)
    val b = ptx.Caching.pin(batch.select(col("vec_id"), col("embedding")))
    try withMicroBatchPlan(spark) {
      val cent = ptx.sources.VectorIndex.read(spark, s"$indexDir/centroids")
      val assigned = ptx.Caching.pin(ptx.sources.VectorIndex.assign(b, cent))
      var ids: Set[Long] = null
      var labels: Seq[Int] = null
      ptx.Jobs.par(
        () => ids = t("sem ids collect") {
          b.select(col("vec_id")).collect().map(_.getLong(0)).toSet },
        () => labels = t("sem labels collect") {
          assigned.select(col("label")).distinct()
            .collect().map(_.getInt(0)).toSeq })
      val bc = assigned.select(col("vec_id").as("v1"),
        col("embedding").as("e1"), col("label"))
      val cells = spark.read.parquet(s"$indexDir/cells")
        .select(col("vec_id"), col("embedding"), col("label"))
        .filter(col("label").isin(labels: _*))
      val idxPairs = broadcast(bc)
        .join(cells.toDF("v2", "e2", "label"), Seq("label"))
        .filter(col("v1") =!= col("v2"))
      val batchPairs = broadcast(bc)
        .join(assigned.select(col("vec_id").as("v2"),
          col("embedding").as("e2"), col("label")), Seq("label"))
        .filter(col("v1") < col("v2"))
      val pairs = ptx.Caching.pin(
        idxPairs.unionByName(batchPairs)
          .withColumn("sim", expr("cosine_sim(e1, e2)"))
          .filter(col("sim") >= threshold)
          .select(least(col("v1"), col("v2")).as("v1"),
            greatest(col("v1"), col("v2")).as("v2"),
            round(col("sim"), 6).as("sim"))
          .dropDuplicates("v1", "v2"))
      val rejected = t("sem policy collect") {
        rejectedDocGrain(pairs, "v1", "v2", ids) }
      t("sem sink round") { ptx.Jobs.par(
        () => pairs.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/pairs/batch=$id"),
        () => exceptIds(b, "vec_id", rejected).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/accepted/batch=$id"),
        () => exceptIds(assigned, "vec_id", rejected).coalesce(1)
          .write.mode("overwrite").parquet(s"$indexDir/cells/batch=$id")) }
    } finally ptx.Caching.release(spark)
    // the recenter is the ONE corpus pass here — it runs OUTSIDE the
    // micro-batch plan scope (session exchange width, AQE back on):
    // squeezing a corpus-sized posexplode aggregation through 4-wide
    // exchanges is exactly the shape the scope exists to avoid in the
    // other direction
    if ((id + 1) % refreshEvery == 0)
      recenterOrReshard(spark, indexDir, targetCell)
  }

  /** Streaming SEMANTIC ADMISSION against the persisted
    * [[ptx.sources.VectorIndex]] — the [[shardAdmission]] twin at the
    * embedding grain (see [[admitSemanticBatch]]). The index must be
    * seeded (centroids + a base cells partition — the [[indexRefresh]]
    * contract). */
  def semanticAdmission(vecs: DataFrame, indexDir: String, outDir: String,
                        checkpoint: String, threshold: Double = 0.45,
                        refreshEvery: Int = 4, targetCell: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitSemanticBatch(batch, id, indexDir, outDir, threshold,
          refreshEvery, targetCell)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Run an admission `foreachBatch` body under the micro-batch plan
    * shape. AQE is off: on KB-to-MB batches whose plans chain broadcast
    * builds, its per-exchange stage materialization is only re-planning.
    * Shuffle partitions are 4: an admission batch is a few hundred rows,
    * and at the session width its ~6 exchanges would launch mostly empty
    * tasks. Constraint propagation is off: it is quadratic in plan
    * expressions, and the admission bodies place their join keys and
    * filters by hand. Results are identical; only plans and job shape
    * change. Batch-mode shard probes keep the session's settings.
    *
    * A [[ptx.Jobs.withConf]] scope, under its restore rule. Stream bodies
    * pass `batch.sparkSession`, the stream's own session, so queries on
    * the session that started the stream never plan with these values;
    * any other query on the scoped session does while the scope is open.
    */
  private[ptx] def withMicroBatchPlan[A](
      spark: org.apache.spark.sql.SparkSession)(f: => A): A =
    ptx.Jobs.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.constraintPropagation.enabled" -> "false")(f)

  private def t[A](name: String)(f: => A): A =
    if (sys.env.contains("SPARK_GRAFT_ADM_DEBUG")) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[admdbg] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    } else f

  /** The deterministic one-pass rejection policy as an executable SPEC
    * (r13; demoted from the production path in r14): a doc `d` of the
    * batch universe `ids` is rejected iff some near-dup partner `o` is
    * an index doc (`!ids(o)`) or a smaller-id sibling of the same
    * universe (`ids(o) && o < d`). The admission pipelines now evaluate
    * this as ONE doc-grain aggregation ([[rejectedDocGrain]], whose
    * agreement with this function StreamingSpec pins) so driver memory
    * never scales with the candidate-pair fan-out. */
  private[ptx] def rejectedByPolicy(pairs: Iterable[(Long, Long)],
                                    ids: Long => Boolean): Set[Long] =
    pairs.iterator
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .collect { case (d, o) if ids(d) && (!ids(o) || o < d) => d }
      .toSet

  /** [[rejectedByPolicy]] as ONE doc-grain aggregation (r14, VERDICT r13
    * #5): the policy needs only two facts per universe doc `d` over its
    * pair partners `o` — "some partner lies OUTSIDE the universe" and
    * "the smallest IN-universe partner" — so the per-batch collect is
    * |universe|-bounded even when an adversarial boilerplate-heavy shard
    * fans the candidate-pair frame toward |shard| × |index-candidates|
    * (the pair-grain collect this replaces grew with exactly that).
    * The universe test rides as InSet literals (micro-batch-bounded by
    * the admission contract), not a broadcast join — each broadcast
    * build is one ~0.2 s plan barrier in-stream. Agreement with the
    * pair-grain spec is pinned in StreamingSpec. */
  private[ptx] def rejectedDocGrain(pairs: DataFrame, left: String,
                                    right: String,
                                    universe: Set[Long]): Set[Long] =
    if (universe.isEmpty) Set.empty
    else {
      def inU(c: Column) = c.isInCollection(universe)
      // ONE scan of the (possibly not-yet-materialized) pair frame —
      // explode, not a self-union: two scans of an uncached verify DAG
      // inside one job each recompute it
      val orient = pairs.select(explode(array(
          struct(col(left).as("d"), col(right).as("o")),
          struct(col(right).as("d"), col(left).as("o")))).as("p"))
        .select(col("p.d").as("d"), col("p.o").as("o"))
      orient.filter(inU(col("d")))
        .groupBy(col("d"))
        .agg(max(!inU(col("o"))).as("ext"),
          min(when(inU(col("o")), col("o"))).as("min_in"))
        .filter(col("ext") || col("min_in") < col("d"))
        .select(col("d"))
        .collect().map(_.getLong(0)).toSet
    }

  /** `df` minus rows whose `idCol` is in `ids`: an In(...) literal for
    * small sets, a broadcast local-relation ANTI join above the
    * threshold (r14, VERDICT r13 #5 — the sink plans previously carried
    * a rejSeq-length In each, which an all-duplicate shard makes
    * shard-sized). */
  private[ptx] def exceptIds(df: DataFrame, idCol: String,
                             ids: Set[Long], inThreshold: Int = 64): DataFrame =
    if (ids.isEmpty) df
    else if (ids.size <= inThreshold) df.filter(!col(idCol).isin(ids.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toSeq.toDF(idCol)), Seq(idCol), "left_anti")
    }

  /** One batch's near-dup probe → policy-filter → admit pass — the
    * [[shardAdmission]] per-batch core, shared with the composed
    * [[ingestAdmission]] pipeline. Writes `outDir/pairs/batch=<id>` and
    * `outDir/accepted/batch=<id>` and appends the accepted docs to the
    * index under tag `b<id>` (all batch-scoped overwrites). */
  private[ptx] def admitShardBatch(batch: DataFrame, id: Long,
                                      indexDir: String, outDir: String,
                                      threshold: Double): Unit = {
    val spark = batch.sparkSession
    // pinned: the batch frame feeds the signature pass, the accepted
    // filter, and the audit writes — unpinned, each re-plans and
    // re-reads the batch source
    val b = ptx.Caching.pin(batch.select(col("doc_id"), col("text")))
    try withMicroBatchPlan(spark) {
      // sign ONCE per batch (r12, VERDICT r11 #3): the pinned signature
      // frame feeds the probe's band join AND the admission append —
      // previously the append re-shingled the accepted docs from text, a
      // second corpus pass over the shard per batch. Bit-identical:
      // signatures are pure functions of the text.
      val sig = ptx.Caching.pin(ptx.sources.DedupIndex.signatures(b))
      // pin the candidate-bounded pair frame: the audit sink below reads
      // it from cache. microBatch = true: the shard-derived sides
      // broadcast, so the probe is pure stream-static joins — see
      // probeSigned.
      // probe construction (its micro-batch candidate pruning runs an
      // eager driver collect) overlaps the tiny batch-universe job, then
      // ONE action materializes the probe chain AND lands the policy
      // verdict at DOC grain (r14, VERDICT r13 #5 — the pair-grain
      // collect this replaces grew with the candidate fan-out)
      var pairs: DataFrame = null
      var ids: Set[Long] = null
      ptx.Jobs.par(
        () => pairs = ptx.Caching.pin(ptx.sources.DedupIndex.probeSigned(
          spark, indexDir, sig, threshold, microBatch = true)),
        () => ids = t("ids collect") {
          b.select(col("doc_id")).collect().map(_.getLong(0)).toSet })
      val rejected = t("policy collect") {
        rejectedDocGrain(pairs, "doc1", "doc2", ids) }
      // all three sinks (pair audit, accepted audit, index admission)
      // share no ordering dependency and are pure cache scans with a
      // bounded NOT-IN filter (broadcast anti join above the exceptIds
      // threshold) — so the batch runs ONE concurrent sink round (the
      // append fans into its two table writes the same way): wall ≈
      // probe cost + max(write tails), not the sum of four sequential
      // jobs.
      // coalesce(1): one file per batch per table — a micro-batch writing
      // #shuffle-partitions KB-files per sink pays one task-commit round
      // per file NOW and the small-files scan tax on every later read
      t("sink round") { ptx.Jobs.par(
        () => pairs.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/pairs/batch=$id"),
        () => exceptIds(b, "doc_id", rejected)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/accepted/batch=$id"),
        () => ptx.sources.DedupIndex.appendSigned(
          exceptIds(sig, "doc_id", rejected),
          indexDir, s"b$id", parts = 1)) }
    } finally ptx.Caching.release(spark) // batch + signature + pair pins
  }

  /** Streaming SHARD ADMISSION against the persisted near-dup index —
    * the dedup-grain twin of [[indexRefresh]], and the workflow the
    * incremental [[ptx.sources.DedupIndex]] exists for: shards of new
    * documents arrive as a stream, and each micro-batch is probed,
    * filtered, and admitted WITHOUT re-signing the corpus. Per batch,
    * via foreachBatch:
    *  1. PROBE the batch against the index ([[ptx.sources.DedupIndex.probe]]
    *     — signs only the batch; near-dup pairs land in
    *     `outDir/pairs/batch=<id>`, the audit trail);
    *  2. FILTER: a doc is REJECTED iff it near-duplicates an already
    *     admitted (index) doc, or a SMALLER-id doc of its own batch —
    *     the deterministic one-pass policy (within a batch the smallest
    *     id of a pairwise-connected group survives its direct pairs; no
    *     component propagation runs inside the hot admission path, so a
    *     doc pairing only with REJECTED smaller siblings is still
    *     dropped — the conservative direction: an admission gate may
    *     over-drop, never under-drop). Survivors land in
    *     `outDir/accepted/batch=<id>`;
    *  3. ADMIT the survivors into the index under the batch's own tag
    *     ([[ptx.sources.DedupIndex.append]]), so the NEXT batch probes
    *     against them.
    * Idempotent on retried batches end-to-end: every sink (pairs,
    * accepted, index partitions) is a `batch=<id>`-scoped overwrite, and
    * a retry whose failed attempt already appended index signatures
    * changes nothing — the batch's own persisted twins are excluded by
    * id equality and already-admitted siblings dedup through the
    * distinct candidate set. The rejection logic reuses the PINNED pair
    * frame the sinks materialize rather than recomputing the probe plan
    * or re-reading the file (the pair frame is candidate-bounded — tiny
    * next to the signature work).
    * At 100 TB each admission is linear in the SHARD: the micro-batch
    * probe broadcasts every shard-derived side, so the INDEX tables are
    * never shuffled or sorted (only bounded candidate frames exchange;
    * the bucketed `compactBucketed` layout extends index-side
    * exchange-freedom to arbitrary-size shard probes — see the
    * DedupIndex scaladoc), and the heavy sets scan prunes to candidate
    * row groups via the pushed id filter. */
  def shardAdmission(docs: DataFrame, indexDir: String, outDir: String,
                     checkpoint: String, threshold: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitShardBatch(batch, id, indexDir, outDir, threshold)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** One batch's CONTAINMENT probe → policy-filter → admit pass — the
    * [[containAdmission]] per-batch core, the [[admitShardBatch]] shape
    * at the containment grain (r13): each arriving doc batch is shingled
    * ONCE (the pinned shingle frame feeds the index probe AND the
    * admission append), probed against the persisted
    * [[ptx.sources.ContainIndex]] for directed containment pairs
    * (quote/verbatim extraction — the duplicate class Jaccard banding
    * cannot route), filtered by the same deterministic smallest-id
    * policy (containment pairs are directed; the policy symmetrizes —
    * a batch doc contained in OR containing an admitted/index doc, or a
    * smaller-id batch sibling, is rejected), and the survivors admitted
    * under the batch's own index partitions. All sinks batch-scoped
    * overwrites — idempotent replay end to end, zero streaming state. */
  private[ptx] def admitContainBatch(batch: DataFrame, id: Long,
                                     indexDir: String, outDir: String,
                                     threshold: Double): Unit = {
    val spark = batch.sparkSession
    val b = ptx.Caching.pin(batch.select(col("doc_id"), col("text")))
    try withMicroBatchPlan(spark) {
      val sh = ptx.Caching.pin(
        ptx.functions.TextShingles.shingles(b)
          .select(col("doc_id"), col("shingle").as("h")))
      // probe construction (meta read + two eager candidate collects)
      // overlaps the tiny batch-universe job
      var art: ptx.sources.ContainIndex.ProbeArtifacts = null
      var ids: Set[Long] = null
      t("contain par block") { ptx.Jobs.par(
        () => art = ptx.sources.ContainIndex.probeArtifacts(
          spark, indexDir, sh, threshold, microBatch = true),
        () => ids = t("ids collect") {
          b.select(col("doc_id")).collect().map(_.getLong(0)).toSet }) }
      val pairs = ptx.Caching.pin(art.pairs)
      // doc-grain policy verdict in ONE aggregation (r14, VERDICT r13 #5)
      val rejected = t("contain policy collect") {
        rejectedDocGrain(pairs, "src", "dst", ids) }
      // the index admission writes the probe's own pinned frames
      // (appendArtifacts) — no meta/count/df-merge barriers inside the
      // sink round, every writer a filtered cache scan
      t("contain sink round") { ptx.Jobs.par(
        () => pairs.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/pairs/batch=$id"),
        () => exceptIds(b, "doc_id", rejected)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/accepted/batch=$id"),
        () => ptx.sources.ContainIndex.appendArtifacts(
          art, exceptIds(_, "doc_id", rejected),
          indexDir, s"b$id", parts = 1)) }
    } finally t("contain release") { ptx.Caching.release(spark) }
  }

  /** Streaming containment admission against the persisted
    * [[ptx.sources.ContainIndex]] — the [[shardAdmission]] twin for the
    * contained/containing duplicate class (see [[admitContainBatch]]). */
  def containAdmission(docs: DataFrame, indexDir: String, outDir: String,
                       checkpoint: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitContainBatch(batch, id, indexDir, outDir, threshold)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Composed streaming INGEST ADMISSION (r11): the full document-shard
    * admission stack in ONE foreachBatch — the streaming twin of the
    * composed batch `llm_curation_pipeline` discipline (each stage IS
    * the standalone gate's per-batch core, so the composition cannot
    * drift from the individually-verified parts). Per batch, in the
    * order a production ingest runs them (cheapest shard-grain check
    * first, the index-mutating stage last):
    *   1. DRIFT ([[driftVerdict]], shard grain): sources whose length
    *      distribution drifted from the static reference are rejected
    *      WHOLESALE — admit nothing from a crawl that moved;
    *   2. DECONTAMINATION ([[deconVerdict]], doc grain): any doc whose
    *      word-8-grams hit the broadcast eval sketch is rejected (the
    *      one-sided-error direction: over-drop, never leak eval text);
    *   3. NEAR-DUP ADMISSION ([[admitShardBatch]], doc grain): the
    *      survivors probe the persisted index, the smallest-id policy
    *      filters, and the admitted docs enter the index for the next
    *      batch.
    * The two gates' verdict frames land as ONE audit file per batch
    * under `dir/gates/batch=<id>` (r13, VERDICT r12 #4): a `gate`
    * column tags each row `drift` (source grain: n_docs, psi_e6,
    * drifted) or `decon` (doc grain: n_grams, n_hit, contaminated),
    * off-grain columns null — one write job instead of two, and the
    * audit write runs CONCURRENTLY with the admission chain (both read
    * the pinned verdict frame, so neither recomputes the gates). The
    * near-dup pair audit stays under `dir/pairs/batch=<id>`; the final
    * survivors under `dir/accepted/batch=<id>`.
    * Every write (and the index append) is a batch-scoped overwrite —
    * idempotent replay end to end. Zero streaming state: the reference,
    * sketch, and index are all static-or-persisted inputs. */
  /** One composed-ingest batch: (gate verdicts + union audit write) ∥
    * (sign + probe), then gate-filter → policy → sinks — the
    * [[ingestAdmission]] per-batch core, callable in batch mode
    * (AdmissionProfile).
    *
    * The r13 restructure overlaps the batch's two independent serial
    * chains instead of running gates-then-admission: near-dup pairs are
    * verified PER PAIR from per-doc signatures, so
    * `probe(batch) restricted to gate-clean endpoints == probe(clean)`
    * EXACTLY (candidate generation and Jaccard verification of a pair
    * never read any third doc) — the full batch is signed and probed
    * concurrently with the gate verdicts + audit write, and the gates'
    * rejected ids are applied as a post-filter on the pinned pair frame.
    * Wall ≈ max(gates, sign+probe) + policy/sink tail, not their sum.
    * Deliberate trade: docs the gates reject are signed and probed for
    * nothing — at most one shard's linear signing wasted on a wholesale
    * drift rejection, bought against a gate-chain barrier on EVERY
    * batch. The index append still admits only gate-clean survivors. */
  private[ptx] def ingestAdmitBatch(batch: DataFrame, id: Long,
                                    psiRef: DataFrame,
                                    evalSketch: Array[Byte],
                                    indexDir: String, dir: String,
                                    threshold: Double): Unit = {
    val spark = batch.sparkSession
    val b = ptx.Caching.pin(batch.select(col("doc_id"), col("text")))
    try {
      val sig = ptx.Caching.pin(ptx.sources.DedupIndex.signatures(b))
      // one pinned union frame carries BOTH gate verdicts (r13): decon
      // rows carry `source` so the collected audit doubles as the
      // driver's doc→source map — no extra job recovers drifted docs
      val gates = ptx.Caching.pin(
        driftVerdict(batch, psiRef).withColumn("gate", lit("drift"))
          .unionByName(
            deconVerdict(batch, evalSketch, carry = Seq("source"))
              .withColumn("gate", lit("decon")),
            allowMissingColumns = true))
      // the two heavy chains share no lineage beyond the batch: ONE
      // concurrent round materializes the gate verdicts AND the probe's
      // pair frame (both collects are micro-batch-bounded — gate rows ≈
      // batch rows, pairs are banding-bounded); the audit WRITE joins the
      // sink round below as a pure cache scan. probeSigned is
      // CONSTRUCTED inside its thunk: its micro-batch candidate pruning
      // runs an eager driver-side collect at plan-construction time,
      // which would otherwise serialize ahead of the gate chain.
      var gateRows: Array[org.apache.spark.sql.Row] = null
      var pairs: DataFrame = null
      var batchIds: Set[Long] = null
      ptx.Jobs.par(
        () => gateRows = t("gates collect") { gates.collect() },
        () => {
          pairs = ptx.Caching.pin(ptx.sources.DedupIndex.probeSigned(
            spark, indexDir, sig, threshold, microBatch = true))
          batchIds = t("ids collect") {
            b.select(col("doc_id")).collect().map(_.getLong(0)).toSet }
          // materialize the pair pin inside the concurrent round (r14,
          // VERDICT r13 #2/#5): the heavy verify DAG runs here, next to
          // the gates, so the policy job below is a scan of ~|pairs|
          // CACHED rows — and the policy itself is a doc-grain
          // aggregation, never a pair-grain collect
          t("pairs materialize") { pairs.count() }
        })
      // driver-side gate verdicts (doc grain by construction)
      val gateIdx = gates.columns.zipWithIndex.toMap
      val deconRows = gateRows.filter(_.getString(gateIdx("gate")) == "decon")
      val drifted = gateRows
        .filter(r => r.getString(gateIdx("gate")) == "drift" &&
          !r.isNullAt(gateIdx("drifted")) && r.getBoolean(gateIdx("drifted")))
        .map(_.getString(gateIdx("source"))).toSet
      val gateRej = deconRows.filter { r =>
        r.getBoolean(gateIdx("contaminated")) ||
          drifted(r.getString(gateIdx("source")))
      }.map(_.getLong(gateIdx("doc_id"))).toSet
      val cleanIds = batchIds -- gateRej
      // probe(batch) restricted to gate-clean endpoints == probe(clean)
      // EXACTLY: a pair's candidate generation and Jaccard verification
      // never read any third doc, so dropping pairs that touch a
      // gate-rejected doc leaves precisely the pairs a post-gate probe
      // would have produced. The restriction is a bounded filter over the
      // PINNED pair frame (r14 — previously a driver-collected local
      // relation). Deliberate trade: gate-rejected docs are signed and
      // probed for nothing (at most one shard's linear signing on a
      // wholesale drift rejection), bought against a gate-chain barrier
      // on EVERY batch.
      val cleanPairs =
        exceptIds(exceptIds(pairs, "doc1", gateRej), "doc2", gateRej)
      val rejected = t("policy collect") {
        rejectedDocGrain(cleanPairs, "doc1", "doc2", cleanIds) }
      val drop = gateRej ++ rejected
      // one concurrent sink round: gate audit + pair audit + accepted +
      // index admission — all filtered cache scans
      t("sink round") { ptx.Jobs.par(
        () => gates.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/gates/batch=$id"),
        () => cleanPairs.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/pairs/batch=$id"),
        () => exceptIds(b, "doc_id", drop)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/accepted/batch=$id"),
        () => ptx.sources.DedupIndex.appendSigned(
          exceptIds(sig, "doc_id", drop), indexDir, s"b$id", parts = 1)) }
    } finally ptx.Caching.release(spark)
  }

  def ingestAdmission(docs: DataFrame, psiRef: DataFrame,
                      evalSketch: Array[Byte], indexDir: String,
                      dir: String, checkpoint: String,
                      threshold: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refLocal = localized(psiRef) // static + broadcast-sized: collect once
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // micro-batch plan scope: AQE re-planning off + batch-sized
        // exchange width (see withMicroBatchPlan)
        withMicroBatchPlan(batch.sparkSession) {
          ingestAdmitBatch(batch, id, refLocal, evalSketch, indexDir, dir,
            threshold)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Stateful per-user pipeline via flatMapGroupsWithState: emits an alert
    * on every new running max and on every 3rd+ consecutive error event.
    * Events within a batch are processed in (ts, event_id) order so results
    * are replay-deterministic.
    */
  def alerts(events: Dataset[Event]): Dataset[Alert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[UserState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(UserState(Double.NegativeInfinity, 0))
          val out = Seq.newBuilder[Alert]
          sorted.foreach { e =>
            if (e.value > st.runningMax) {
              st = st.copy(runningMax = e.value)
              out += Alert(userId, e.event_id, "new_max", e.value)
            }
            st = if (e.event_type == "error") st.copy(consecErrors = st.consecErrors + 1)
                 else st.copy(consecErrors = 0)
            if (st.consecErrors >= 3)
              out += Alert(userId, e.event_id, "error_burst", e.value)
          }
          state.update(st)
          out.result().iterator
      }
  }
}
