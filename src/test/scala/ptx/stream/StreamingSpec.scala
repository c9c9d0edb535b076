package ptx.stream

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import ptx.TestSpark

/** A probe vector row for the streaming ANN test (top-level so the
  * case-class Encoder derives). */
case class Probe(probe_id: Long, p: Array[Float])

/** A newly-ingested embedding row for the streaming index-refresh test. */
case class NewVec(vec_id: Long, embedding: Array[Float])

/** G10 streaming tests (SURVEY §5.4): MemoryStream replay must equal the
  * batch twin; watermarks drop late rows; dedup gives exactly-once counts;
  * the stateful pipeline matches a hand-computed fixture.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  /** Small deterministic feed: 2 users, events across 3 hours. */
  private def feed: Seq[Event] = Seq(
    Event(1, ts(0), 1, "click", 10.0),
    Event(2, ts(5), 1, "view", 20.0),
    Event(3, ts(40), 1, "click", 5.0),       // gap 35 min > 30 → new session
    Event(4, ts(130), 1, "purchase", 50.0),  // new session + new hour
    Event(5, ts(2), 2, "error", 1.0),
    Event(6, ts(8), 2, "error", 2.0),
    Event(7, ts(12), 2, "error", 3.0),       // 3rd consecutive error
    Event(8, ts(20), 2, "click", 4.0),
    Event(9, ts(125), 2, "error", 0.5))

  /** Run a streaming transform over a MemoryStream holding `data`, return
    * the collected sink table. */
  private def runStream(data: Seq[Event], mode: String)
                       (f: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    ms.addData(data)
    val name = s"sink_${System.nanoTime()}"
    val q: StreamingQuery = f(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).collect()
  }

  test("tumbling window stream equals its batch twin") {
    val streamed = runStream(feed, "complete")(Pipelines.tumbling)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Pipelines.tumbling(feed.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("session windows: 30-minute gap splits sessions exactly like the batch rule") {
    val streamed = runStream(feed, "complete")(Pipelines.sessions)
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
    // user 1: gap(5→40)=35min splits; gap(40→130)=90min splits → 3 sessions
    // user 2: {2,8,12,20} one session; 125 alone → 2 sessions
    assert(streamed.map(_._1).groupBy(identity).view.mapValues(_ => ()).keySet == Set(1L, 2L))
    val u1 = streamed.filter(_._1 == 1L)
    assert(u1.size == 3, s"user1 sessions: $u1")
    val u2 = streamed.filter(_._1 == 2L)
    assert(u2.size == 2, s"user2 sessions: $u2")
  }

  test("hourly percentile sketch stream equals its batch twin (r9)") {
    // single-batch replay below the sketch's compression threshold: exact
    // equality holds; a multi-batch feed would only agree within the
    // sketch's rank-error bound (order-dependent summary merges)
    val streamed = runStream(feed, "complete")(Pipelines.hourlyPercentiles)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val batch = Pipelines.hourlyPercentiles(feed.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // at the feed's tiny per-window counts the sketch is exact: the single
    // hour-0 error window is {1.0, 2.0, 3.0} → p50 = 2.0
    val err0 = batch.find(t => t._2 == "error" && t._1 == ts(0))
    assert(err0.exists(_._4 == 2.0), s"error-window p50: $err0")
  }

  test("freshness stream tracks the per-type max event time like the batch agg (r9)") {
    val streamed = runStream(feed, "complete")(Pipelines.freshness)
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2))).toSet
    val batch = Pipelines.freshness(feed.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(streamed == batch)
    assert(streamed.find(_._1 == "error").exists(_._3 == ts(125)),
      "newest error event time must be the 125-minute row")
  }

  test("late rows beyond the watermark are dropped from append-mode windows") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "late_sink"
    val q = Pipelines.tumbling(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: events in hour 0; batch 2 advances event time (and thus the
    // watermark) far past hour 0, finalizing it
    ms.addData(feed.filter(_.ts.getTime < ts(60).getTime))
    q.processAllAvailable()
    ms.addData(Seq(Event(100, ts(600), 1, "click", 1.0)))
    q.processAllAvailable()
    val afterClose = spark.table(name).count()
    // hour-0 window is now final: a late row into hour 0 must be ignored
    ms.addData(Seq(Event(101, ts(10), 1, "click", 999.0)))
    q.processAllAvailable()
    val afterLate = spark.table(name).collect()
    q.stop()
    assert(afterClose > 0, "hour-0 window was not finalized by the watermark")
    assert(!afterLate.exists(_.getDouble(3) == 999.0), "late row leaked into a closed window")
  }

  test("dropDuplicatesWithinWatermark yields exactly-once counts under duplicate delivery") {
    val dup = feed ++ feed.take(4) // re-deliver 4 events
    val rows = runStream(dup, "append")(Pipelines.dedup)
    assert(rows.length == feed.length, s"expected ${feed.length}, got ${rows.length}")
  }

  test("stream-static enrichment equals the batch join") {
    val users = Seq((1L, "alice"), (2L, "bob")).toDF("u_id", "u_name")
    val streamed = runStream(feed, "append")(df => Pipelines.enrich(df, users))
      .map(r => (r.getLong(0), r.getString(3))).toSet
    val batch = Pipelines.enrich(feed.toDF(), users)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(streamed == batch && batch.size == feed.size)
  }

  test("streaming the real events table equals the declared batch tumbling query") {
    val name = "ev_stream_sink"
    val q = Pipelines.tumbling(ptx.Tables.eventsStream(spark, TestSpark.SF))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = ptx.QueryRegistry.all("pt_tumbling_1h")(spark, TestSpark.SF)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("foreachBatch fans one micro-batch out to two sinks atomically per batch") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    ms.addData(feed)
    val out = TestSpark.tmpDir("ptx-fb")
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // sink 1: parquet append; sink 2: side counter — same batch, both or neither
        batch.persist()
        batch.write.mode("append").parquet(out)
        counts.synchronized { counts += ((id, batch.count())) }
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(counts.map(_._2).sum == feed.length)
    assert(spark.read.parquet(out).count() == feed.length)
  }

  test("streaming parquet file sink persists exactly the stream's rows") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    ms.addData(feed)
    val out = TestSpark.tmpDir("ptx-sink")
    val ckpt = TestSpark.tmpDir("ptx-sink-ckpt")
    val q = ms.toDF().writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.parquet(out)
    assert(back.count() == feed.length)
    assert(back.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      feed.map(_.event_id).sorted)
  }

  test("native session windows on real sf0.001 events agree with batch sessionization") {
    val ev = ptx.Tables.events(spark, TestSpark.SF)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val native = Pipelines.sessions(ev)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declared = ptx.QueryRegistry.all("pt_sessionize")(spark, TestSpark.SF)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declared, "session_window vs lag+cumsum session counts differ")
  }

  test("session boundary: a gap of exactly 30 minutes MERGES in both paths") {
    // Pins the boundary semantics: session_window unions per-event windows
    // [ts, ts+gap) when adjacent-or-overlapping, so an event landing exactly
    // on the previous window's end EXTENDS the session (verified here, not
    // assumed). The lag+cumsum batch rule therefore splits on gap > 1800
    // strictly, and must agree on this exact-gap fixture.
    val boundary = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(30), 1, "click", 1.0),    // exactly 1800 s later → merges
      Event(3, ts(61), 1, "click", 1.0))    // 31 min later → new session
    val native = runStream(boundary, "complete")(Pipelines.sessions)
    assert(native.length == 2, s"session_window sessions: ${native.toSeq}")
    val batch = ptx.ops.Telemetry.sessionize(boundary.toDF())
      .select("session_id").distinct().count()
    assert(batch == 2, s"lag+cumsum sessions: $batch")
  }

  test("stream-stream interval join attributes clicks within 30 min of a purchase") {
    val attrFeed = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 1.0),
      Event(3, ts(20), 1, "purchase", 9.0),   // attributes clicks 1 and 2
      Event(4, ts(100), 1, "click", 1.0),
      Event(5, ts(140), 1, "purchase", 9.0),  // click 4 is 40 min prior → out
      Event(6, ts(15), 2, "click", 1.0),
      Event(7, ts(25), 2, "purchase", 9.0))   // cross-user isolation: only click 6
    val streamed = runStream(attrFeed, "append")(Pipelines.attribution)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val batch = Pipelines.attribution(attrFeed.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(streamed == Set((3L, 1L), (3L, 2L), (7L, 6L)), s"got $streamed")
    assert(streamed == batch)
  }

  test("windowed approx-distinct users: stream equals batch twin and exact counts on the small feed") {
    val streamed = runStream(feed, "complete")(Pipelines.distinctUsers)
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    val batch = Pipelines.distinctUsers(feed.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // at this cardinality the sketch is exact: hour 0 has users {1,2},
    // hour 2 has users {1,2}
    val exact = feed.groupBy(e => e.ts.getTime / 3600000L)
      .view.mapValues(_.map(_.user_id).distinct.size.toLong).toMap
    val streamedByHour = streamed.map { case (t, n) => t.getTime / 3600000L -> n }.toMap
    assert(streamedByHour == exact, s"got $streamedByHour want $exact")
  }

  test("streaming the documents table through the repetition curation transform equals batch") {
    val name = "rep_stream_sink"
    val q = ptx.ops.Curation.repetition(ptx.Tables.documentsStream(spark, TestSpark.SF))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = ptx.ops.Curation.repetition(ptx.Tables.documents(spark, TestSpark.SF))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming volume gate: one-batch stream z equals the batch dq_volume_anomaly audit (r11)") {
    // reference = the corpus's own daily moments, so the single-batch
    // streamed verdict must be ROW-IDENTICAL to the declared batch audit
    val ev = ptx.Tables.events(spark, TestSpark.SF)
    val ref = ptx.ops.Extras.volumeMoments(ptx.ops.Extras.dailyCounts(ev))
    val out = TestSpark.tmpDir("ptx-vol")
    val ckpt = TestSpark.tmpDir("ptx-vol-ckpt")
    val q = Pipelines.volumeGate(
      ptx.Tables.eventsStream(spark, TestSpark.SF), ref, out, ckpt)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Boolean]))
    val streamed = spark.read.parquet(s"$out/batch=0").collect().map(key).toSet
    val batch = ptx.QueryRegistry.all("dq_volume_anomaly")(spark, TestSpark.SF)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(streamed == batch && batch.nonEmpty)
    // non-vacuous: at least one day must actually carry a z value
    assert(batch.exists(_._3.nonEmpty), "no day produced a z — vacuous fixture")
  }

  test("streaming drift gate: one-batch stream PSI equals the batch dq_drift_psi audit (r9)") {
    // reference = the corpus's own global bucket distribution, so the
    // single-batch streamed verdict must be ROW-IDENTICAL to the declared
    // batch audit (which measures each source against that same global)
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val ref = docs.groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn"))
    val out = TestSpark.tmpDir("ptx-drift")
    val ckpt = TestSpark.tmpDir("ptx-drift-ckpt")
    val q = Pipelines.driftGate(
      ptx.Tables.documentsStream(spark, TestSpark.SF), ref, out, ckpt)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
    val streamed = spark.read.parquet(s"$out/batch=0").collect().map(key).toSet
    val batch = ptx.QueryRegistry.all("dq_drift_psi")(spark, TestSpark.SF)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming drift gate: batch buckets NOVEL to the reference enter the PSI sum (ADVICE r9)") {
    // reference built from the SHORT half of the corpus only, so real
    // batch docs land in length buckets the reference has never seen —
    // the union grid must score them as gn=0 Laplace cells, not drop them
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val cut = docs.agg(expr(
        "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS LONG)"))
      .collect()(0).getLong(0)
    val ref = docs.filter(col("n_chars") <= cut)
      .groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn"))
    val cells = docs.groupBy(col("source"), expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("n"))
    val novel = cells.select(col("b")).distinct()
      .join(ref.select(col("b")), Seq("b"), "left_anti")
      .withColumn("gn", lit(0L))
    assert(novel.count() > 0, "fixture must produce reference-novel buckets")
    val out = TestSpark.tmpDir("ptx-drift-novel")
    val ckpt = TestSpark.tmpDir("ptx-drift-novel-ckpt")
    val q = Pipelines.driftGate(
      ptx.Tables.documentsStream(spark, TestSpark.SF), ref, out, ckpt)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
    val streamed = spark.read.parquet(s"$out/batch=0").collect().map(key).toSet
    val expected = ptx.ops.Extras.psiAgainst(cells, ref.unionByName(novel))
      .collect().map(key).toSet
    val dropped = ptx.ops.Extras.psiAgainst(cells, ref)
      .collect().map(key).toSet
    assert(streamed == expected && expected.nonEmpty)
    // and the union grid genuinely changes the verdict vs silent dropping
    assert(streamed != dropped,
      "novel buckets should move the PSI relative to the dropped-bucket grid")
    // the drift-report gate scores PSI over the same grid: on the same
    // reference (plus the moments its t column needs) its PSI columns
    // equal the drift gate's
    val refMoments = docs.filter(col("n_chars") <= cut)
      .groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn"),
        sum(col("n_chars").cast("decimal(38,0)")).as("gsx"),
        sum(expr("cast(n_chars as decimal(38,0)) * n_chars")).as("gsxx"))
    val repOut = TestSpark.tmpDir("ptx-driftrep-novel")
    val repCkpt = TestSpark.tmpDir("ptx-driftrep-novel-ckpt")
    Pipelines.driftReportGate(ptx.Tables.documentsStream(spark, TestSpark.SF),
      refMoments, repOut, repCkpt).awaitTermination()
    val report = spark.read.parquet(s"$repOut/batch=0")
      .select("source", "n_docs", "psi_e6", "drifted_psi").collect().map(key).toSet
    assert(report == streamed, "drift-report PSI diverged from the drift gate's")
  }

  test("streaming decontamination gate: no false negatives vs exact overlap, fp-bounded, per-doc gram counts (r11)") {
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    // "eval suite" = every 10th doc; the gate must flag any streamed doc
    // sharing an 8-gram with it — including the eval docs themselves
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val sketch = Pipelines.evalGramSketch(eval)
    assert(sketch.nonEmpty)
    val out = TestSpark.tmpDir("ptx-decon")
    val ckpt = TestSpark.tmpDir("ptx-decon-ckpt")
    val q = Pipelines.decontaminationGate(
      ptx.Tables.documentsStream(spark, TestSpark.SF), sketch, out, ckpt)
    q.awaitTermination()
    val res = spark.read.parquet(s"$out/batch=0").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(res.size == docs.count(), "every streamed doc gets one verdict")
    // exact overlap from the same hashed gram stream, batch-side
    ptx.functions.TextGrams.register(spark)
    val g = docs.select(col("doc_id"),
      explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
    val evalG = g.filter(col("doc_id") % 10 === 0).select("h").distinct()
    val exactHit = g.join(evalG, Seq("h"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(exactHit.nonEmpty, "fixture must produce true train-eval overlap")
    val flagged = res.filter(_._2._3).keySet
    // one-sided: a truly contaminated doc is NEVER missed...
    assert(exactHit.subsetOf(flagged),
      s"missed ${exactHit -- flagged} truly contaminated docs")
    // ...and false positives stay fpp-bounded (2^23 bits over the
    // fixture's gram count keeps per-doc flag inflation tiny)
    assert(flagged.size - exactHit.size <= math.max(5L, res.size / 20L),
      s"fp inflation ${flagged.size - exactHit.size} too high")
    // per-doc structural invariants: n_grams = max(0, words-7), hits bounded
    val words = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("nw")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    res.foreach { case (id, (ng, nh, _)) =>
      assert(ng == math.max(0, words(id) - 7), s"doc $id n_grams $ng")
      assert(nh <= ng, s"doc $id n_hit $nh > n_grams $ng")
    }
  }

  test("decontamination gate picks up an appended eval suite across a restart (DeconIndex, r12)") {
    // the ops story the persisted sketch exists for: the eval suite GROWS
    // (a new benchmark lands), the index is append-refreshed offline, and
    // the restarted gate — re-reading the ~1 MB artifact, not
    // re-aggregating any corpus — starts rejecting the new suite's
    // contamination too
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val evalA = docs.filter(col("doc_id") % 10 === 0)
    val evalB = docs.filter(col("doc_id") % 10 === 5)
    val idx = TestSpark.tmpDir("ptx-deconidx-s")
    ptx.sources.DeconIndex.write(evalA, idx)
    ptx.functions.TextGrams.register(spark)
    val g = docs.select(col("doc_id"),
      explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
    def exactHits(eval: org.apache.spark.sql.DataFrame): Set[Long] = {
      val evalG = g.join(eval.select("doc_id").toDF("eid"),
        col("doc_id") === col("eid"), "left_semi").select("h").distinct()
      g.join(evalG, Seq("h"), "left_semi")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    val exactA = exactHits(evalA)
    val exactB = exactHits(evalB)
    assert((exactB -- exactA).nonEmpty, "suite B must add new contamination")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    val out = TestSpark.tmpDir("ptx-decon-s-out")
    val cp = TestSpark.tmpDir("ptx-decon-s-cp")
    def flagged(batch: Int): Set[Long] =
      spark.read.parquet(s"$out/batch=$batch").filter(col("contaminated"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // run 1: gate armed with the persisted A sketch
    ms.addData(rows)
    Pipelines.decontaminationGate(ms.toDF().toDF("doc_id", "text"),
      ptx.sources.DeconIndex.read(spark, idx), out, cp).awaitTermination()
    val f0 = flagged(0)
    assert(exactA.subsetOf(f0), "A-contaminated docs missed before append")
    assert((exactB -- exactA -- f0).nonEmpty,
      "B-only contamination should not be flagged yet (fp noise too high?)")
    // offline: suite B lands, the index append-refreshes by Bloom union
    ptx.sources.DeconIndex.append(evalB, idx)
    // run 2: restarted gate on the same checkpoint, re-armed from the
    // refreshed artifact — batch 1 must reject A ∪ B contamination
    ms.addData(rows)
    Pipelines.decontaminationGate(ms.toDF().toDF("doc_id", "text"),
      ptx.sources.DeconIndex.read(spark, idx), out, cp).awaitTermination()
    val f1 = flagged(1)
    assert((exactA ++ exactB).subsetOf(f1),
      s"missed ${(exactA ++ exactB) -- f1} after the suite-B append")
  }

  test("streaming drift-report gate: single-batch panel matches the batch PSI/KS audits + reference-moment t (r10)") {
    // reference = the corpus's own bucket frame (counts + exact decimal
    // moments), so the one-batch PSI and KS columns must be ROW-IDENTICAL
    // to the batch dq_drift_psi / dq_drift_ks audits (both measure source
    // vs this same global distribution); the t column compares against the
    // REFERENCE population's moments and is checked against a direct
    // Welch computation from the same integers.
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val ref = docs.groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn"),
        sum(col("n_chars").cast("decimal(38,0)")).as("gsx"),
        sum(expr("cast(n_chars as decimal(38,0)) * n_chars")).as("gsxx"))
    val out = TestSpark.tmpDir("ptx-driftrep")
    val ckpt = TestSpark.tmpDir("ptx-driftrep-ckpt")
    val q = Pipelines.driftReportGate(
      ptx.Tables.documentsStream(spark, TestSpark.SF), ref, out, ckpt)
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/batch=0").collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got.nonEmpty)
    val psiBatch = ptx.QueryRegistry.all("dq_drift_psi")(spark, TestSpark.SF)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(psiBatch.nonEmpty)
    psiBatch.foreach { case (src, nDocs, psiE6, drifted) =>
      val r = got(src)
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("psi_e6") == psiE6, s"$src psi")
      assert(r.getAs[Boolean]("drifted_psi") == drifted)
    }
    val ksBatch = ptx.QueryRegistry.all("dq_drift_ks")(spark, TestSpark.SF)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
    ksBatch.foreach { case (src, ksE6, drifted) =>
      val r = got(src)
      assert(r.getAs[Long]("ks_e6") == ksE6, s"$src ks")
      assert(r.getAs[Boolean]("drifted_ks") == drifted)
    }
    // Welch t against the reference moments, computed directly
    val moments = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(expr("n_chars * n_chars")).as("sxx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (n2, sx2, sxx2) = {
      val t = docs.agg(count(lit(1)), sum(col("n_chars")),
        sum(expr("n_chars * n_chars"))).collect()(0)
      (t.getLong(0).toDouble, t.getLong(1).toDouble, t.getLong(2).toDouble)
    }
    moments.foreach { case (src, nL, sxL, sxxL) =>
      val (n, sx, sxx) = (nL.toDouble, sxL.toDouble, sxxL.toDouble)
      val varTerm = ((sxx - sx * sx / n) / (n - 1)) / n +
        ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2
      val r = got(src)
      if (nL >= 2 && varTerm > 0) {
        val expected = (sx / n - sx2 / n2) / math.sqrt(varTerm)
        val gotT = r.getAs[Double]("t_stat")
        assert(math.abs(gotT - expected) < 1e-5, s"$src t: $gotT vs $expected")
        assert(r.getAs[Boolean]("significant") == (math.abs(gotT) > 1.96))
      }
    }
    ptx.Caching.releaseAll()
  }

  test("streaming content dedup keeps one doc per distinct text under duplicate delivery (r9)") {
    // the re-crawl scenario: every doc arrives a second time under a NEW
    // id (so id-keyed dedup would pass both copies); content dedup must
    // emit each distinct text exactly once. WHICH copy survives is
    // first-arrival (engine scheduling) — assert the fingerprint SET.
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    ms.addData(docs)
    ms.addData(docs.map { case (id, t) => (id + 10000000L, t) })
    val name = "content_dedup_sink"
    val q = Pipelines.contentDedup(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamedFps = spark.table(name).select("fp").collect()
      .map(_.getString(0)).toSeq
    assert(streamedFps.distinct.size == streamedFps.size, "emitted a duplicate fp")
    val batchFps = ptx.Tables.documents(spark, TestSpark.SF)
      .select(md5(col("text")).as("fp")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(streamedFps.toSet == batchFps && batchFps.nonEmpty)
    assert(streamedFps.size < 2 * docs.size, "duplicate delivery must be dropped")
  }

  test("TTL'd content dedup: exactly-once within the TTL window, re-admission after expiry (r11)") {
    // TimeMode.ProcessingTime queries run a micro-batch EVERY trigger (the
    // TTL sweep), so processAllAvailable never latches "no new data" — the
    // tests poll the SINK for the expected admissions instead, and prove
    // suppression by asserting the final set once a later admission (which
    // must come after the suppressed sighting) has landed.
    def awaitRows(name: String, n: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table(name).count() < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(spark.table(name).count() >= n,
        s"timed out waiting for $n rows in $name")
    }
    RocksDBFixture.withRocksDB(spark) {
      // phase 1 — long TTL (10 min): duplicate content under NEW ids is
      // suppressed across batches AND within a batch; the admitted copy is
      // the batch's lowest doc_id (deterministic, unlike dropDuplicates)
      val ms = MemoryStream[(Long, String)](
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
      val name = "ttl_dedup_sink"
      val q = Pipelines.contentDedupTtl(
          ms.toDF().toDF("doc_id", "text"), java.time.Duration.ofMinutes(10))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(50)).start()
      try {
        ms.addData(Seq((7L, "alpha text"), (3L, "alpha text"), (5L, "beta text")))
        awaitRows(name, 2) // alpha (as id 3) + beta
        ms.addData(Seq((9L, "alpha text"), (11L, "beta text"), (13L, "gamma text")))
        awaitRows(name, 3) // + gamma; 9/11 must stay suppressed
        val got = spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        val fp = (t: String) => java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // alpha admitted once as the batch-1 minimum id 3 (7 suppressed
        // in-batch, 9 across batches); beta once as 5; gamma once as 13
        assert(got == Set((fp("alpha text"), 3L), (fp("beta text"), 5L),
          (fp("gamma text"), 13L)), s"got $got")
      } finally q.stop()
      // phase 2 — short TTL (1.5 s): after sleeping past the TTL the same
      // content is ADMITTED AGAIN — the bounded-state trade contentDedup
      // (state-forever dropDuplicates) cannot make
      val ms2 = MemoryStream[(Long, String)](
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
      val name2 = "ttl_dedup_expiry_sink"
      val q2 = Pipelines.contentDedupTtl(
          ms2.toDF().toDF("doc_id", "text"), java.time.Duration.ofMillis(1500))
        .writeStream.format("memory").queryName(name2).outputMode("append")
        .trigger(Trigger.ProcessingTime(50)).start()
      try {
        ms2.addData(Seq((1L, "delta text")))
        awaitRows(name2, 1)
        Thread.sleep(4000) // strictly exceeds the 1.5 s TTL
        ms2.addData(Seq((2L, "delta text")))
        awaitRows(name2, 2) // re-admitted post-expiry — times out if not
        val ids = spark.table(name2).collect().map(_.getLong(1)).sorted.toSeq
        assert(ids == Seq(1L, 2L),
          s"expired fingerprint must re-admit, got ids $ids")
      } finally q2.stop()
    }
  }

  test("streaming the documents table through the quality filter equals batch (r5)") {
    val name = "qf_stream_sink"
    val q = ptx.ops.TextAnalysis.qualityFilter(ptx.Tables.documentsStream(spark, TestSpark.SF))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getBoolean(5), if (r.isNullAt(6)) "" else r.getString(6))
    val streamed = spark.table(name).collect().map(key).toSet
    val batch = ptx.ops.TextAnalysis.qualityFilter(ptx.Tables.documents(spark, TestSpark.SF))
      .collect().map(key).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(streamed.exists(!_._6), "expected at least one failing doc in the stream")
  }

  test("streaming ANN probe over a static IVF index equals the batch probe (r5)") {
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    // build the index through the public persist/read round-trip — the
    // serving topology this pipeline exists for
    val centroids = {
      val dir = TestSpark.tmpDir("ann_idx")
      ptx.sources.VectorIndex.write(e, dir)
      ptx.sources.VectorIndex.read(spark, dir)
    }
    val probesBatch = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getDouble(0), s.getLong(1))).toList
    }.toMap
    val batch = keyed(Pipelines.annProbe(probesBatch, centroids, e).collect())
    // stream the same probes in two micro-batches
    val data = probesBatch.collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = MemoryStream[Probe](implicitly[org.apache.spark.sql.Encoder[Probe]], spark)
    val name = "ann_probe_sink"
    val q = Pipelines.annProbe(ms.toDF(), centroids, e)
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(data.take(4).toSeq)
      q.processAllAvailable()
      ms.addData(data.drop(4).toSeq)
      q.processAllAvailable()
      val streamed = keyed(spark.table(name).collect())
      assert(streamed == batch, s"streamed ANN ${streamed.size} probes != batch ${batch.size}")
      assert(batch.nonEmpty && batch.values.forall(_.nonEmpty))
    } finally q.stop()
  }

  test("annServe: per-batch indexed probe equals the batch probe across a restart (r12)") {
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val cdir = TestSpark.tmpDir("ann_serve_idx")
    ptx.sources.VectorIndex.write(e, cdir)
    val cellsPath = TestSpark.tmpDir("ann_serve_cells")
    e.select("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(cellsPath)
    val corpus = spark.read.parquet(cellsPath)
    val data = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
      .collect().map(r => Probe(r.getLong(0), r.getSeq[Float](1).toArray))
    def expectFor(ids: Set[Long]) = {
      val probes = corpus.filter(col("vec_id").isin(ids.toSeq: _*))
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
      ptx.sources.VectorIndex.probe(spark, cdir, corpus, probes)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    def got(batch: Int, out: String) =
      spark.read.parquet(s"$out/batch=$batch").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val ms = MemoryStream[Probe](implicitly[org.apache.spark.sql.Encoder[Probe]], spark)
    val out = TestSpark.tmpDir("ann_serve_out")
    val cp = TestSpark.tmpDir("ann_serve_cp")
    // batch 0: first four probes, AvailableNow drains and stops
    ms.addData(data.take(4).toSeq)
    Pipelines.annServe(ms.toDF(), cdir, cellsPath, out, cp).awaitTermination()
    assert(got(0, out) == expectFor(data.take(4).map(_.probe_id).toSet))
    // batch 1 through a RESTART on the same checkpoint: the serving
    // query resumes into the next batch id and re-reads the index inputs
    ms.addData(data.drop(4).toSeq)
    Pipelines.annServe(ms.toDF(), cdir, cellsPath, out, cp).awaitTermination()
    val want1 = expectFor(data.drop(4).map(_.probe_id).toSet)
    assert(got(1, out) == want1 && want1.nonEmpty)
    // single-file per batch (the micro-batch sink discipline)
    assert(new java.io.File(s"$out/batch=1").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("indexRefresh: streamed vectors join their nearest cell; recenter equals a batch rebuild (r5)") {
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("ivf_refresh")
    val cp = TestSpark.tmpDir("ivf_refresh_cp")
    // seed the index: corpus centroids + corpus cells, both through the
    // public API the refresh pipeline maintains
    ptx.sources.VectorIndex.write(e, s"$dir/centroids")
    val cent0 = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
    ptx.sources.VectorIndex.assign(e.select("vec_id", "embedding"), cent0)
      .write.parquet(s"$dir/cells/batch=-1")
    val seedCentroids = cent0.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    // new arrivals: existing vectors under fresh ids (their nearest cell
    // is known: the cell of the vector they copy)
    val newVecs = e.filter(col("vec_id") < 8).collect()
      .map(r => NewVec(r.getLong(0) + 100000, r.getSeq[Float](1).toArray))
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    val q = Pipelines.indexRefresh(ms.toDF(), dir, cp, refreshEvery = 2)
    try {
      ms.addData(newVecs.take(4).toSeq)   // batch 0: appends only
      q.processAllAvailable()
      ms.addData(newVecs.drop(4).toSeq)   // batch 1: appends, then recenters
      q.processAllAvailable()
    } finally q.stop()
    val cells = spark.read.parquet(s"$dir/cells")
    // every new vector landed exactly once, in the cell a batch-side
    // assignment against the SEED centroids puts it in (both stream
    // batches assigned before the recenter overwrote the index). The seed
    // frame is rebuilt from the pre-stream snapshot — `cent0` itself would
    // lazily re-read the now-overwritten dir.
    val seedFrame = spark.createDataFrame(seedCentroids.toSeq)
      .toDF("label", "centroid")
    val expected = ptx.sources.VectorIndex
      .assign(spark.createDataFrame(newVecs.toSeq.map(v => (v.vec_id, v.embedding.toSeq)))
        .toDF("vec_id", "embedding"), seedFrame)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val got = cells.filter(col("vec_id") >= 100000).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == expected && got.size == newVecs.length)
    // the recenter (fired after batch 1) rewrote the centroids to exactly
    // the batch recipe over ALL cells — and they moved off the seed
    val refreshed = ptx.sources.VectorIndex.read(spark, s"$dir/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    val rebuilt = ptx.ops.LlmScale.ivfCentroids(cells).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    assert(refreshed == rebuilt, "persisted centroids diverge from a batch rebuild")
    assert(refreshed != seedCentroids, "recenter should move centroids once new mass arrives")
    // serving still works end-to-end: a probe equal to a new vector finds
    // it at similarity 1 as the top hit through the refreshed index
    ptx.functions.VectorOps.register(spark)
    val probe = spark.createDataFrame(Seq((999999L, newVecs.head.embedding.toSeq)))
      .toDF("probe_id", "p")
    val top = ptx.ops.LlmScale.ivfProbe(
      ptx.sources.VectorIndex.read(spark, s"$dir/centroids"), cells, probe, 1, 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(top.nonEmpty && top.head._3 == 1.0,
      s"probe should find its twin at sim 1.0, got ${top.toSeq}")
    // compaction (r11): the refresh pipeline accumulates one cells
    // partition per batch; the compacted copy must serve identically
    // with the partitions collapsed and the centroids bit-exact
    val cdir = TestSpark.tmpDir("ivf_compact")
    ptx.sources.VectorIndex.compactCells(spark, dir, cdir)
    val topC = ptx.ops.LlmScale.ivfProbe(
      ptx.sources.VectorIndex.read(spark, s"$cdir/centroids"),
      spark.read.parquet(s"$cdir/cells"), probe, 1, 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(topC.toSeq == top.toSeq, "compacted index probe diverged")
    val centC = ptx.sources.VectorIndex.read(spark, s"$cdir/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    assert(centC == refreshed, "compacted centroids not bit-exact")
    def parts(p: String): Int = new java.io.File(s"$p/cells")
      .listFiles().count(_.getName.startsWith("batch="))
    assert(parts(dir) == 3 && parts(cdir) == 1,
      s"expected 3 source / 1 compacted cell partitions, got " +
        s"${parts(dir)} / ${parts(cdir)}")
  }

  test("indexRefresh reshards on the stream's own session: the caller's conf never moves") {
    // the reshard's Lloyd rounds run under Jobs.noAqe; scoping the session
    // that started the stream would expose AQE off at one partition to
    // every query planned on it meanwhile
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("ivf_bystander")
    val cp = TestSpark.tmpDir("ivf_bystander_cp")
    ptx.sources.VectorIndex.write(e, s"$dir/centroids")
    val kSeed = ptx.sources.VectorIndex.read(spark, s"$dir/centroids").count()
    ptx.sources.VectorIndex.assign(e.select("vec_id", "embedding"),
        ptx.sources.VectorIndex.read(spark, s"$dir/centroids"))
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") < 8).collect()
      .map(r => NewVec(r.getLong(0) + 100000, r.getSeq[Float](1).toArray))
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def callerConf = keys.map(spark.conf.get)
    val base = callerConf
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[String]]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) { seen.add(callerConf); reads.incrementAndGet(); Thread.sleep(1) })
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // refreshEvery = 1: batch 0's recenter sees 508 vectors over the seed
    // cells and, at targetCell = 16, reshards to adaptiveK(508, 16) = 32
    val q = Pipelines.indexRefresh(ms.toDF(), dir, cp,
      refreshEvery = 1, targetCell = 16)
    poller.start()
    try {
      ms.addData(newVecs.toSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      polling = false
      poller.join()
    }
    val kAfter = ptx.sources.VectorIndex.read(spark, s"$dir/centroids").count()
    assert(kAfter == ptx.sources.VectorIndex.adaptiveK(508, 16) && kAfter > kSeed,
      s"the refresh did not reshard: $kSeed -> $kAfter cells")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(base),
      s"the caller's session left its base $base during the reshard: " +
        s"${seen.asScala.toSet} over ${reads.get} reads")
    ptx.Caching.releaseAll()
  }

  test("tokenizerRefresh: published model equals a batch rebuild; prefix + replay idempotence (r17)") {
    // VERDICT r16 #4: the BpeModel artifact gets the index-family
    // streaming treatment — admit doc batches, re-learn on a cadence,
    // publish versioned (both halves land before LATEST re-points)
    val all = ptx.Tables.documents(spark, TestSpark.SF)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val rows = all.take(120)
    val dir = TestSpark.tmpDir("ptx-bpe-stream")
    val cp = TestSpark.tmpDir("ptx-bpe-stream-cp")
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    val q = Pipelines.tokenizerRefresh(ms.toDF().toDF("doc_id", "text"),
      dir, cp, refreshEvery = 2, k = 8)
    try {
      ms.addData(rows.slice(0, 30)); q.processAllAvailable()  // batch 0
      ms.addData(rows.slice(30, 60)); q.processAllAvailable() // batch 1 → publish v=1
      val mid = ptx.sources.BpeModel.latest(spark, s"$dir/model")
      assert(mid.endsWith("v=1"), s"expected v=1 live after batch 1, got $mid")
      // mid-stream model == batch rebuild over exactly the docs admitted so far
      val firstHalf = spark.createDataFrame(rows.slice(0, 60)).toDF("doc_id", "text")
      val midRebuild = TestSpark.tmpDir("ptx-bpe-mid")
      ptx.sources.BpeModel.write(firstHalf, midRebuild, k = 8)
      assert(ptx.sources.BpeModel.readMerges(spark, mid).collect().map(_.toSeq).toSeq
        == ptx.sources.BpeModel.readMerges(spark, midRebuild).collect().map(_.toSeq).toSeq,
        "mid-stream published merges diverge from a batch rebuild")
      ms.addData(rows.slice(60, 90)); q.processAllAvailable()  // batch 2
      ms.addData(rows.slice(90, 120)); q.processAllAvailable() // batch 3 → publish v=3
    } finally q.stop()
    val live = ptx.sources.BpeModel.latest(spark, s"$dir/model")
    assert(live.endsWith("v=3"), s"expected v=3 live at stream end, got $live")
    // the published model equals a from-scratch batch rebuild over the
    // full admitted corpus, both halves bit-for-bit
    val admitted = spark.read.parquet(s"$dir/docs").select("doc_id", "text")
    assert(admitted.count() == 120)
    val rdir = TestSpark.tmpDir("ptx-bpe-rebuild")
    ptx.sources.BpeModel.write(admitted, rdir, k = 8)
    def merges(d: String) = ptx.sources.BpeModel.readMerges(spark, d)
      .collect().map(_.toSeq).toSeq
    def types(d: String) = ptx.sources.BpeModel.readTypes(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(merges(live) == merges(rdir), "published merges diverge from batch rebuild")
    assert(types(live) == types(rdir), "published types diverge from batch rebuild")
    // encoded doc-grain counts through the served model == the inline form
    val servedDoc = ptx.sources.BpeModel.docTokens(spark, live, admitted)
      .collect().map(_.toSeq).toSeq
    val inlineDoc = ptx.functions.BpeLearn.docTokens(admitted, 8)
      .collect().map(_.toSeq).toSeq
    assert(servedDoc == inlineDoc, "served doc-grain counts diverge from inline")
    // the r15 early-stop-is-exact-prefix property holds ACROSS a refresh:
    // a k=4 model trained on the same admitted corpus is the published
    // k=8 model's exact merge prefix
    val k4 = ptx.functions.BpeLearn.learn(admitted, 4).collect().map(_.toSeq).toSeq
    assert(k4 == merges(live).take(4), "k=4 learn is not the published model's prefix")
    // replay idempotence: re-publishing the same version (a retried
    // micro-batch) leaves LATEST and both halves identical
    val again = ptx.sources.BpeModel.publish(admitted, s"$dir/model", version = 3, k = 8)
    assert(ptx.sources.BpeModel.latest(spark, s"$dir/model") == again)
    assert(merges(again) == merges(rdir) && types(again) == types(rdir),
      "replayed publish is not idempotent")
  }

  test("BpeModel publish: readers only ever resolve a complete version; cold start is explicit (r18)") {
    // VERDICT r17 #7 + ADVICE r17: the LATEST marker is renamed into
    // place, so (a) a reader can never observe an empty/partial marker
    // mid-write, (b) racing publishers are last-writer-wins with every
    // resolvable version complete, (c) before the first publish the
    // cold-start story is latestOpt = None / a named latest() failure.
    val docs = spark.createDataFrame(
      ptx.Tables.documents(spark, TestSpark.SF).select("doc_id", "text")
        .orderBy("doc_id").limit(20)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      .toDF("doc_id", "text")
    val mdir = TestSpark.tmpDir("ptx-bpe-pub")
    assert(ptx.sources.BpeModel.latestOpt(spark, mdir).isEmpty,
      "cold start must be None, not a throw")
    assert(intercept[IllegalArgumentException](
      ptx.sources.BpeModel.latest(spark, mdir)).getMessage.contains("LATEST"))
    def complete(v: String): Boolean =
      new java.io.File(s"$v/merges/_SUCCESS").exists() &&
        new java.io.File(s"$v/types/_SUCCESS").exists()
    // reader loop concurrent with a publish sequence: every version it
    // resolves must be complete at resolution time
    @volatile var badRead: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => while (!stop && badRead.isEmpty) {
      // any exception is a broken read — a marker swap must be invisible
      try ptx.sources.BpeModel.latestOpt(spark, mdir).foreach { v =>
        if (!complete(v)) badRead = Some(v)
      } catch { case e: Exception => badRead = Some(s"threw: $e") }
    })
    reader.start()
    try (1L to 3L).foreach(v =>
      ptx.sources.BpeModel.publish(docs, mdir, version = v, k = 2))
    finally { stop = true; reader.join() }
    assert(badRead.isEmpty, s"reader resolved an incomplete version: $badRead")
    assert(ptx.sources.BpeModel.latest(spark, mdir).endsWith("v=3"))
    // two RACING publishers: whichever marker rename lands last wins;
    // either way the resolved version is a complete training run
    val ts = Seq(10L, 11L).map(v => new Thread(() =>
      ptx.sources.BpeModel.publish(docs, mdir, version = v, k = 2): Unit))
    ts.foreach(_.start()); ts.foreach(_.join())
    val live = ptx.sources.BpeModel.latest(spark, mdir)
    assert(live.endsWith("v=10") || live.endsWith("v=11"), s"unexpected winner $live")
    assert(complete(live), s"racing publishers left an incomplete live version $live")
  }

  test("indexRefresh keeps the served recall floor: N admitted batches + recenters + compaction (r15)") {
    // VERDICT r14 #4: llm_ann_recall_kmeans audits a FRESH build; this
    // pins the number that decays under distribution drift — recall of
    // the PERSISTED index after streaming admission. Seed the index with
    // the kmeans build over HALF the corpus, stream the other half in 4
    // batches (refreshEvery=2 → recenters fire after batches 1 and 3, so
    // the final centroids cover every admitted vector), compact, then
    // run the shared recallAudit over the served artifacts with probes
    // drawn from the STREAMED mass (the set admission could degrade).
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("ivf_adm")
    val cp = TestSpark.tmpDir("ivf_adm_cp")
    val seed = e.filter(col("vec_id") % 2 === 0)
    val (cent0, asg0) = ptx.sources.VectorIndex.kmeans(seed, k = 8, iters = 3)
    cent0.write.parquet(s"$dir/centroids")
    seed.select("vec_id", "embedding").join(asg0, "vec_id")
      .select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") % 2 === 1).collect()
      .map(r => NewVec(r.getLong(0), r.getSeq[Float](1).toArray))
    assert(newVecs.length >= 40, "fixture too small for a 4-batch stream")
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    val q = Pipelines.indexRefresh(ms.toDF(), dir, cp, refreshEvery = 2)
    try newVecs.grouped((newVecs.length + 3) / 4).foreach { chunk =>
      ms.addData(chunk.toSeq); q.processAllAvailable()
    } finally q.stop()
    val cdir = TestSpark.tmpDir("ivf_adm_c")
    ptx.sources.VectorIndex.compactCells(spark, dir, cdir)
    ptx.functions.VectorOps.register(spark)
    val cells = spark.read.parquet(s"$cdir/cells")
      .select("vec_id", "embedding", "label")
    val probes = spark.createDataFrame(
      newVecs.sortBy(_.vec_id).take(10).toSeq.map(v => (v.vec_id, v.embedding.toSeq)))
      .toDF("probe_id", "p")
    def audit(cent: DataFrame) = ptx.ops.LlmScale.recallAudit(
      cells.select("vec_id", "embedding"), probes,
      ptx.ops.LlmScale.ivfProbe(cent, cells, probes, nprobe = 3, k = 5))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val served = audit(ptx.sources.VectorIndex.read(spark, s"$cdir/centroids"))
    val meanRecall = served.values.sum.toDouble / served.size / 1e6
    info(f"served recall@5 after 4 admitted batches = $meanRecall%.3f")
    assert(meanRecall >= 0.5,
      f"admission degraded the served index below the 0.5 floor: $meanRecall%.3f")
    // the bit-exact centroid recipe makes the served index EQUAL a fresh
    // recenter over the same cells — per-probe, not just on average
    val rebuilt = audit(ptx.ops.LlmScale.ivfCentroids(cells))
    assert(served == rebuilt,
      "served recall diverged from a fresh rebuild over the same cells")
    ptx.Caching.releaseAll()
  }

  test("semanticAdmission: streamed vectors admit by within-cell keep-lowest-id vs a driver-side simulation (r15)") {
    // SemDeDup at ingest (the embedding-grain shardAdmission twin):
    // ground truth is a sequential driver-side simulation of the
    // documented rule — a batch vector is rejected iff some same-cell
    // partner at cosine >= t is already admitted (seed or an earlier
    // batch's ACCEPT) or is a smaller-id batch mate (any, accepted or
    // not — the conservative one-pass direction). No recenter fires
    // (refreshEvery large), so every assignment is against the seed
    // centroids and the simulation can share them.
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("sem_adm_idx")
    val out = TestSpark.tmpDir("sem_adm_out")
    val cp = TestSpark.tmpDir("sem_adm_cp")
    val seed = e.filter(col("vec_id") % 2 === 0)
    ptx.sources.VectorIndex.write(seed, s"$dir/centroids")
    val cent0 = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
    ptx.sources.VectorIndex.assign(seed.select("vec_id", "embedding"), cent0)
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") % 2 === 1).collect()
      .map(r => NewVec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val batches = newVecs.grouped((newVecs.length + 1) / 2).toSeq
    assert(batches.length == 2 && batches.forall(_.nonEmpty))
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // AvailableNow terminates per wave — restart on the same checkpoint
    // so batch ids continue (the shardAdmission restart discipline)
    batches.foreach { chunk =>
      ms.addData(chunk.toSeq)
      Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
        threshold = 0.45, refreshEvery = 1000).awaitTermination()
    }
    // driver-side simulation on the same assignments (seed centroids)
    val cellOf = ptx.sources.VectorIndex.assign(
        e.select("vec_id", "embedding"), cent0)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val vecOf = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var admitted = seed.collect().map(_.getLong(0)).toSet
    val wantAccepted = batches.map { chunk =>
      val batchIds = chunk.map(_.vec_id).toSet
      val acc = chunk.map(_.vec_id).filter { v =>
        val partner = (admitted ++ batchIds.filter(_ < v)).exists(o =>
          o != v && cellOf(o) == cellOf(v) && cos(vecOf(o), vecOf(v)) >= 0.45)
        !partner
      }.toSet
      admitted ++= acc
      acc
    }
    wantAccepted.zipWithIndex.foreach { case (want, i) =>
      val got = spark.read.parquet(s"$out/accepted/batch=$i")
        .collect().map(_.getLong(0)).toSet
      assert(got == want, s"batch $i accepted $got != simulated $want")
      assert(new java.io.File(s"$out/accepted/batch=$i").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)
    }
    assert(wantAccepted.exists(_.size < batches.head.length),
      "fixture degenerate: no semantic rejection exercised")
    // the index now holds exactly seed + accepted (each once, in its
    // assigned cell)
    val cellRows = spark.read.parquet(s"$dir/cells")
      .collect().map(r => r.getLong(0) -> r.getInt(2))
    assert(cellRows.map(_._1).sorted.toSeq == admitted.toSeq.sorted)
    cellRows.foreach { case (v, c) => assert(c == cellOf(v)) }
    // idempotent replay: re-running the LAST batch under its own id
    // leaves accepted set and index rows byte-stable (canonical pair
    // orientation + id-inequality self-exclusion)
    import spark.implicits._
    val lastId = batches.length - 1L
    val pairsBefore = spark.read.parquet(s"$out/pairs/batch=$lastId")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Pipelines.admitSemanticBatch(
      batches.last.map(v => (v.vec_id, v.embedding.toSeq)).toSeq
        .toDF("vec_id", "embedding"),
      lastId, dir, out, 0.45, 1000)
    val gotReplay = spark.read.parquet(s"$out/accepted/batch=$lastId")
      .collect().map(_.getLong(0)).toSet
    assert(gotReplay == wantAccepted.last, "replayed batch diverged")
    val pairsAfter = spark.read.parquet(s"$out/pairs/batch=$lastId")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsAfter == pairsBefore, "replayed pair audit diverged")
    assert(spark.read.parquet(s"$dir/cells").count() == admitted.size,
      "replay duplicated index rows")
  }

  test("semanticAdmission all-duplicate batch: smallest id survives, then blocks the next wave (r15)") {
    // the embedding-grain twin of the shardAdmission adversarial case:
    // a batch of N identical vectors fans the candidate-pair frame to
    // ~C(N,2) + N·|cell| rows, but the policy stays ONE doc-grain
    // aggregation. Seeded with corpus centroids and an EMPTY cells
    // base, wave 1 has no index partners — exactly the smallest batch
    // id must survive its C(60,2) identical siblings; wave 2 streams
    // more copies, which the admitted survivor must now reject
    // wholesale.
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("sem_dup_idx")
    val out = TestSpark.tmpDir("sem_dup_out")
    val cp = TestSpark.tmpDir("sem_dup_cp")
    ptx.sources.VectorIndex.write(e, s"$dir/centroids")
    e.filter(lit(false))
      .select(col("vec_id"), col("embedding"),
        col("vec_id").cast("int").as("label"))
      .write.parquet(s"$dir/cells/batch=-1")
    val proto = e.orderBy(col("vec_id")).head.getSeq[Float](1).toArray
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    ms.addData((1000L until 1060L).map(i => NewVec(i, proto)))
    Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
      threshold = 0.45, refreshEvery = 1000).awaitTermination()
    val got0 = spark.read.parquet(s"$out/accepted/batch=0")
      .collect().map(_.getLong(0)).toSet
    assert(got0 == Set(1000L),
      s"exactly the smallest duplicate must survive, got $got0")
    // the pair audit holds the full canonical intra-batch fan once
    assert(spark.read.parquet(s"$out/pairs/batch=0").count() == 60L * 59 / 2)
    ms.addData((2000L until 2010L).map(i => NewVec(i, proto)))
    Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
      threshold = 0.45, refreshEvery = 1000).awaitTermination()
    assert(spark.read.parquet(s"$out/accepted/batch=1").count() == 0L,
      "the admitted survivor must reject the whole second wave")
    assert(spark.read.parquet(s"$dir/cells").collect()
      .map(_.getLong(0)).toSeq == Seq(1000L),
      "index must hold exactly the one survivor")
  }

  test("semanticAdmission recenter: centroids equal a batch rebuild over all cells (r15)") {
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("sem_rc_idx")
    val out = TestSpark.tmpDir("sem_rc_out")
    val cp = TestSpark.tmpDir("sem_rc_cp")
    val seed = e.filter(col("vec_id") % 2 === 0)
    ptx.sources.VectorIndex.write(seed, s"$dir/centroids")
    val cent0 = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
    ptx.sources.VectorIndex.assign(seed.select("vec_id", "embedding"), cent0)
      .write.parquet(s"$dir/cells/batch=-1")
    // key-shifted copies of SEEDED vectors: each has an exact admitted
    // twin (cosine 1) in its own cell, so every copy must be rejected
    val newVecs = e.filter(col("vec_id") % 2 === 0).limit(20).collect()
      .map(r => NewVec(r.getLong(0) + 500000, r.getSeq[Float](1).toArray))
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // refreshEvery=2: the recenter fires after batch 1 and covers
    // every admitted vector; restart per wave (AvailableNow)
    newVecs.grouped(10).foreach { chunk =>
      ms.addData(chunk.toSeq)
      Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
        threshold = 0.45, refreshEvery = 2).awaitTermination()
    }
    val refreshed = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    val rebuilt = ptx.ops.LlmScale.ivfCentroids(
        spark.read.parquet(s"$dir/cells"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    assert(refreshed == rebuilt, "recentered centroids diverge from batch rebuild")
    // key-shifted copies of admitted vectors are semantic dups of their
    // originals (cosine 1, and an exact copy always assigns to its
    // twin's cell — identical cosine ranking) — ALL must be rejected,
    // and the index keeps only the seed mass
    val acc = spark.read.parquet(s"$out/accepted")
      .collect().map(_.getLong(0)).toSet
    assert(acc.isEmpty,
      s"exact copies of admitted vectors must be rejected, got $acc")
    assert(spark.read.parquet(s"$dir/cells").count() == seed.count(),
      "rejected copies must not land in the index")
  }

  test("semanticAdmission keeps the served recall floor: N admitted batches + recenters (r16)") {
    // VERDICT r15 #2: indexRefresh got its served-recall pin in r15, but
    // semanticAdmission mutates the same served index (cell appends +
    // periodic recenter) and additionally REJECTS near-duplicates — the
    // quantity that can silently decay is the recall of the persisted
    // index over the corpus it ADMITTED. Seed with the kmeans build over
    // half the fixture, stream the other half in 4 batches
    // (refreshEvery=2 → recenters fire after batches 1 and 3, so the
    // final centroids cover every admitted vector), then run the shared
    // recallAudit over the served artifacts with probes drawn from the
    // streamed ACCEPTED mass.
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("sem_rec_idx")
    val out = TestSpark.tmpDir("sem_rec_out")
    val cp = TestSpark.tmpDir("sem_rec_cp")
    val seed = e.filter(col("vec_id") % 2 === 0)
    val (cent0, asg0) = ptx.sources.VectorIndex.kmeans(seed, k = 8, iters = 3)
    cent0.write.parquet(s"$dir/centroids")
    seed.select("vec_id", "embedding").join(asg0, "vec_id")
      .select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") % 2 === 1).collect()
      .map(r => NewVec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // AvailableNow terminates per wave — restart on the same checkpoint
    // so batch ids continue (the shardAdmission restart discipline)
    newVecs.grouped((newVecs.length + 3) / 4).foreach { chunk =>
      ms.addData(chunk.toSeq)
      Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
        threshold = 0.45, refreshEvery = 2).awaitTermination()
    }
    val accepted = spark.read.parquet(s"$out/accepted")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(accepted.nonEmpty && accepted.size < newVecs.length,
      "fixture degenerate: semantic admission rejected nothing (or everything)")
    ptx.functions.VectorOps.register(spark)
    val cells = spark.read.parquet(s"$dir/cells")
      .select("vec_id", "embedding", "label")
    // conservation: the served index holds exactly seed + accepted
    val seedIds = seed.collect().map(_.getLong(0)).toSet
    assert(cells.select("vec_id").collect().map(_.getLong(0)).toSet
      == seedIds ++ accepted, "index contents diverged from seed + accepted")
    val probes = spark.createDataFrame(
      newVecs.filter(v => accepted(v.vec_id)).take(10).toSeq
        .map(v => (v.vec_id, v.embedding.toSeq)))
      .toDF("probe_id", "p")
    def audit(cent: DataFrame) = ptx.ops.LlmScale.recallAudit(
      cells.select("vec_id", "embedding"), probes,
      ptx.ops.LlmScale.ivfProbe(cent, cells, probes, nprobe = 3, k = 5))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val served = audit(ptx.sources.VectorIndex.read(spark, s"$dir/centroids"))
    val meanRecall = served.values.sum.toDouble / served.size / 1e6
    info(f"served recall@5 after 4 semantic-admission batches = $meanRecall%.3f")
    assert(meanRecall >= 0.5,
      f"semantic admission degraded the served index below the 0.5 floor: $meanRecall%.3f")
    // the final recenter fired after the last batch, so the served
    // centroids must EQUAL a fresh rebuild over the same cells (the
    // bit-exact ivfCentroids recipe) — per-probe, not just on average
    val rebuilt = audit(ptx.ops.LlmScale.ivfCentroids(cells))
    assert(served == rebuilt,
      "served recall diverged from a fresh rebuild over the same cells")
    ptx.Caching.releaseAll()
  }

  test("semanticAdmission re-shards k at its recenter; the next wave admits against the new cells (r16)") {
    // the reshard composition on the ADMISSION pipeline (indexRefresh's
    // twin below): semantic admission both rejects near-dups AND grows
    // the index, so the reshard must fire on the ADMITTED corpus size,
    // preserve the accepted/rejected bookkeeping, and leave an index the
    // NEXT wave admits against correctly (fresh-centroid assignment).
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("sem_rs_idx")
    val out = TestSpark.tmpDir("sem_rs_out")
    val cp = TestSpark.tmpDir("sem_rs_cp")
    val seed = e.filter(col("vec_id") < 100)
    val (cent0, asg0) = ptx.sources.VectorIndex.kmeans(seed, k = 4, iters = 3)
    cent0.write.parquet(s"$dir/centroids")
    seed.select("vec_id", "embedding").join(asg0, "vec_id")
      .select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") >= 100).collect()
      .map(r => NewVec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // 4 waves of 100; refreshEvery=4 → the recenter after batch 3 sees
    // the full admitted corpus and must re-shard 4 → adaptiveK cells
    newVecs.grouped(100).foreach { chunk =>
      ms.addData(chunk.toSeq)
      Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
        threshold = 0.45, refreshEvery = 4, targetCell = 16).awaitTermination()
    }
    val accepted = spark.read.parquet(s"$out/accepted")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(accepted.nonEmpty && accepted.size < newVecs.length,
      "fixture degenerate: semantic admission rejected nothing (or everything)")
    val cells = spark.read.parquet(s"$dir/cells")
    val cellRows = cells.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val seedIds = seed.collect().map(_.getLong(0)).toSet
    val admitted = seedIds ++ accepted
    assert(cellRows.keySet == admitted && cells.count() == admitted.size,
      "reshard lost/duplicated vectors or broke the accepted bookkeeping")
    val kAfter = ptx.sources.VectorIndex.read(spark, s"$dir/centroids").count()
    assert(kAfter == ptx.sources.VectorIndex.adaptiveK(admitted.size, 16),
      s"recenter did not re-shard to the admitted-corpus k: $kAfter")
    // r17 witness lifecycle: a COMPLETED reshard leaves no commit marker
    // and no .next/.old strands — the crash-repair cases in GuardrailSpec
    // only ever see these mid-flight
    val strands = Seq("reshard.commit", "cells.next", "cells.old",
      "centroids.next", "centroids.old")
      .filter(n => new java.io.File(s"$dir/$n").exists())
    assert(strands.isEmpty, s"completed reshard left strands: $strands")
    // determinism: persisted build equals an offline adaptive rebuild
    ptx.functions.VectorOps.register(spark)
    val (cent2, asg2) = ptx.sources.VectorIndex.kmeansAdaptive(
      cells.select("vec_id", "embedding"), iters = 3, targetCell = 16)
    assert(asg2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == cellRows,
      "resharded assignments diverge from an offline adaptive rebuild")
    // the NEXT wave admits against the resharded index: exact copies of
    // admitted vectors assign to their twin's (new) cell and are rejected
    val copies = e.filter(col("vec_id") < 20).collect()
      .map(r => NewVec(r.getLong(0) + 700000, r.getSeq[Float](1).toArray))
    ms.addData(copies.toSeq)
    Pipelines.semanticAdmission(ms.toDF(), dir, out, cp,
      threshold = 0.45, refreshEvery = 1000, targetCell = 16).awaitTermination()
    val acc5 = spark.read.parquet(s"$out/accepted/batch=4")
      .collect().map(_.getLong(0)).toSet
    assert(acc5.isEmpty,
      s"copies of admitted vectors must be rejected post-reshard, got $acc5")
    assert(spark.read.parquet(s"$dir/cells").count() == admitted.size,
      "rejected copies must not land in the resharded index")
    val pairs5 = spark.read.parquet(s"$out/pairs/batch=4").count()
    assert(pairs5 >= copies.length,
      "post-reshard wave missed its cosine-1 twins in the pair audit")
    ptx.Caching.releaseAll()
  }

  test("indexRefresh re-shards k when the admitted corpus outgrows the cell budget; recall holds (r16)") {
    // VERDICT r15 #6 — the adaptive-k rule composed with the streaming
    // recenter: seed a 4-cell index over 100 vectors, stream the other
    // 400 (5× growth) with targetCell=16, and the recenter that fires
    // once the corpus has outgrown the budget must REBUILD at the
    // corpus-adaptive k (VectorIndex.reshard) instead of recentering the
    // stale 4-cell geometry — and the served index must still recall.
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("ivf_rs")
    val cp = TestSpark.tmpDir("ivf_rs_cp")
    val seed = e.filter(col("vec_id") < 100)
    val (cent0, asg0) = ptx.sources.VectorIndex.kmeans(seed, k = 4, iters = 3)
    cent0.write.parquet(s"$dir/centroids")
    seed.select("vec_id", "embedding").join(asg0, "vec_id")
      .select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/cells/batch=-1")
    val newVecs = e.filter(col("vec_id") >= 100).collect()
      .map(r => NewVec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    assert(newVecs.length == 400, "fixture drifted: expected 400 streamed vectors")
    val ms = MemoryStream[NewVec](implicitly[org.apache.spark.sql.Encoder[NewVec]], spark)
    // refreshEvery=4 → the one recenter fires after batch 3, when all
    // 500 vectors are admitted: adaptiveK(500, 16) = 32 > 4 → reshard
    val q = Pipelines.indexRefresh(ms.toDF(), dir, cp,
      refreshEvery = 4, targetCell = 16)
    try newVecs.grouped(100).foreach { chunk =>
      ms.addData(chunk.toSeq); q.processAllAvailable()
    } finally q.stop()
    val kAfter = ptx.sources.VectorIndex.read(spark, s"$dir/centroids").count()
    assert(kAfter == ptx.sources.VectorIndex.adaptiveK(500, 16),
      s"recenter did not re-shard: $kAfter cells (expected 32)")
    val cells = spark.read.parquet(s"$dir/cells")
    val cellRows = cells.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cellRows.size == 500 && cells.count() == 500,
      "reshard lost or duplicated vectors")
    // the cell-size BUDGET holds: mean cell size is back at ~targetCell
    val maxCell = cells.groupBy("label").count()
      .agg(max("count")).head().getLong(0)
    assert(maxCell <= 16 * 4,
      s"reshard left a cell ${maxCell}x the grain of the 16-vector budget")
    // replay identity preserved: every batch partition survives the
    // reshard under its own id (idempotent-retry contract)
    val parts = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(parts == Set("batch=-1", "batch=0", "batch=1", "batch=2", "batch=3"),
      s"reshard broke the per-batch partition identity: $parts")
    // determinism: the persisted build equals an offline kmeansAdaptive
    // over the same vectors — labels AND centroids
    ptx.functions.VectorOps.register(spark)
    val (cent2, asg2) = ptx.sources.VectorIndex.kmeansAdaptive(
      cells.select("vec_id", "embedding"), iters = 3, targetCell = 16)
    assert(asg2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == cellRows,
      "resharded assignments diverge from an offline adaptive rebuild")
    val servedCent = ptx.sources.VectorIndex.read(spark, s"$dir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
    assert(cent2.collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap
      == servedCent, "resharded centroids diverge from an offline adaptive rebuild")
    // recall floor over the re-sharded geometry at the PRODUCTION probe
    // budget: autoNprobe holds the 3-of-8 cell fraction as k grows (the
    // serving default of VectorIndex.probe/annServe — a fixed nprobe=3
    // would silently probe 3/32 here and the floor would be meaningless)
    assert(ptx.sources.VectorIndex.autoNprobe(kAfter) == 12)
    val probes = spark.createDataFrame(
      newVecs.take(10).toSeq.map(v => (v.vec_id, v.embedding.toSeq)))
      .toDF("probe_id", "p")
    val served = ptx.ops.LlmScale.recallAudit(
      cells.select("vec_id", "embedding"), probes,
      ptx.ops.LlmScale.ivfProbe(
        ptx.sources.VectorIndex.read(spark, s"$dir/centroids"),
        cells.select("vec_id", "embedding", "label"), probes,
        nprobe = ptx.sources.VectorIndex.autoNprobe(kAfter), k = 5))
      .collect().map(r => r.getLong(2))
    val meanRecall = served.sum.toDouble / served.length / 1e6
    info(f"served recall@5 after the 5x-growth reshard = $meanRecall%.3f")
    assert(meanRecall >= 0.5,
      f"reshard degraded the served index below the 0.5 floor: $meanRecall%.3f")
    ptx.Caching.releaseAll()
  }

  test("shardAdmission: streamed shards probe, filter, and admit against the persisted index (r11)") {
    val idx = TestSpark.tmpDir("dedup_adm_idx")
    val out = TestSpark.tmpDir("dedup_adm_out")
    val cp = TestSpark.tmpDir("dedup_adm_cp")
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val shard1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 5)
    val shard2 = docs.filter(col("doc_id") % 10 === 5)
    ptx.sources.DedupIndex.write(base, idx)
    // ground truth: signatures are pure functions of the text, so the
    // full-corpus inline pair set restricted to each batch's visible doc
    // universe IS what each probe must see
    val full = ptx.QueryRegistry.all("llm_dedup_minhash_lsh")(spark, TestSpark.SF)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ptx.Caching.releaseAll()
    val adjFull = full.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def partners(d: Long): Set[Long] = adjFull.getOrElse(d, Set.empty)
    val s1 = shard1.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = shard2.select("doc_id").collect().map(_.getLong(0)).toSet
    val baseIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
    def rows(df: DataFrame) = df.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // batch 0: shard1 alone; the AvailableNow query drains and terminates
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    ms.addData(rows(shard1))
    Pipelines.shardAdmission(ms.toDF().toDF("doc_id", "text"), idx, out, cp)
      .awaitTermination()
    // batch 1: shard2, through a RESTARTED query on the same checkpoint —
    // the admission pipeline must resume into batch id 1, probing an index
    // that now contains base ∪ accepted(batch 0)
    ms.addData(rows(shard2))
    Pipelines.shardAdmission(ms.toDF().toDF("doc_id", "text"), idx, out, cp)
      .awaitTermination()
    // expected policy outcome, replayed from the ground-truth pair set:
    // rejected iff paired with an admitted/index doc or a smaller batch doc
    val rej1 = s1.filter(d => partners(d).exists(o =>
      baseIds(o) || (s1(o) && o < d)))
    val acc1 = s1 -- rej1
    val vis1 = baseIds ++ acc1
    val rej2 = s2.filter(d => partners(d).exists(o =>
      vis1(o) || (s2(o) && o < d)))
    val acc2 = s2 -- rej2
    def acceptedIds(id: Int): Set[Long] =
      spark.read.parquet(s"$out/accepted/batch=$id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedIds(0) == acc1, "batch 0 accepted set diverged")
    assert(acceptedIds(1) == acc2, "batch 1 accepted set diverged")
    // each probe's audit pairs = ground truth restricted to its universe
    def pairIds(id: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$out/pairs/batch=$id")
        .select("doc1", "doc2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want0 = full.filter { case (a, b) =>
      (s1(a) || s1(b)) && !s2(a) && !s2(b) }
    val want1 = full.filter { case (a, b) =>
      (s2(a) || s2(b)) && Seq(a, b).forall(x => vis1(x) || s2(x)) }
    assert(pairIds(0) == want0, "batch 0 pair audit diverged")
    assert(pairIds(1) == want1, "batch 1 pair audit diverged")
    // the fixture must exercise both outcomes in both batches
    assert(rej1.nonEmpty && acc1.nonEmpty && rej2.nonEmpty && acc2.nonEmpty,
      s"vacuous fixture: rej1=${rej1.size} acc1=${acc1.size} " +
        s"rej2=${rej2.size} acc2=${acc2.size}")
    ptx.Caching.releaseAll()
  }

  test("containAdmission: streamed shards probe, filter, and admit against the containment index (r13)") {
    val idx = TestSpark.tmpDir("contain_adm_idx")
    val out = TestSpark.tmpDir("contain_adm_out")
    val cp = TestSpark.tmpDir("contain_adm_cp")
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val shard1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 5)
    val shard2 = docs.filter(col("doc_id") % 10 === 5)
    ptx.sources.ContainIndex.write(base, idx, t = 0.8)
    // ground truth: containment(src→dst) is a pure function of the two
    // texts, so the full-corpus inline pair set restricted to each
    // batch's visible doc universe IS what each probe must see
    val full = ptx.ops.LlmScale.containPairs(docs, 0.8)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ptx.Caching.releaseAll()
    // the admission policy symmetrizes the directed pairs
    val adjFull = full.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def partners(d: Long): Set[Long] = adjFull.getOrElse(d, Set.empty)
    val s1 = shard1.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = shard2.select("doc_id").collect().map(_.getLong(0)).toSet
    val baseIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
    def rows(df: DataFrame) = df.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    ms.addData(rows(shard1))
    Pipelines.containAdmission(ms.toDF().toDF("doc_id", "text"), idx, out, cp)
      .awaitTermination()
    // batch 1 through a RESTARTED query on the same checkpoint: the index
    // now holds base ∪ accepted(batch 0)
    ms.addData(rows(shard2))
    Pipelines.containAdmission(ms.toDF().toDF("doc_id", "text"), idx, out, cp)
      .awaitTermination()
    val rej1 = s1.filter(d => partners(d).exists(o =>
      baseIds(o) || (s1(o) && o < d)))
    val acc1 = s1 -- rej1
    val vis1 = baseIds ++ acc1
    val rej2 = s2.filter(d => partners(d).exists(o =>
      vis1(o) || (s2(o) && o < d)))
    val acc2 = s2 -- rej2
    def acceptedIds(id: Int): Set[Long] =
      spark.read.parquet(s"$out/accepted/batch=$id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedIds(0) == acc1, "batch 0 accepted set diverged")
    assert(acceptedIds(1) == acc2, "batch 1 accepted set diverged")
    // each probe's audit pairs = directed ground truth on its universe
    def pairIds(id: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$out/pairs/batch=$id")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want0 = full.filter { case (a, b) =>
      (s1(a) || s1(b)) && !s2(a) && !s2(b) }
    val want1 = full.filter { case (a, b) =>
      (s2(a) || s2(b)) && Seq(a, b).forall(x => vis1(x) || s2(x)) }
    assert(pairIds(0) == want0, "batch 0 pair audit diverged")
    assert(pairIds(1) == want1, "batch 1 pair audit diverged")
    assert(rej1.nonEmpty && acc1.nonEmpty && rej2.nonEmpty && acc2.nonEmpty,
      s"vacuous fixture: rej1=${rej1.size} acc1=${acc1.size} " +
        s"rej2=${rej2.size} acc2=${acc2.size}")
    ptx.Caching.releaseAll()
  }

  test("doc-grain policy aggregation equals the pair-grain spec (r14)") {
    // deterministic pseudo-random pair sets over a mixed universe: ids
    // 0..59 are "batch" docs, 100..159 are "index" docs; every pair shape
    // (batch-batch both orders, batch-index, index-batch, index-index)
    // occurs. The doc-grain aggregation must reproduce rejectedByPolicy
    // exactly on all of them.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val nPairs = 40 + trial * 30
      val pairSet = Seq.fill(nPairs) {
        def id() = if (rnd.nextBoolean()) rnd.nextInt(60).toLong
                   else 100L + rnd.nextInt(60)
        val (a, b) = (id(), id())
        (a, if (a == b) b + 1 else b)
      }.distinct
      val universe = (0L until 60L).filter(_ => rnd.nextBoolean()).toSet
      val want = Pipelines.rejectedByPolicy(pairSet, universe)
      val pairsDf = pairSet.toDF("doc1", "doc2")
      val got = Pipelines.rejectedDocGrain(pairsDf, "doc1", "doc2", universe)
      assert(got == want, s"trial $trial: doc-grain ${got.toSeq.sorted} " +
        s"vs pair-grain ${want.toSeq.sorted}")
    }
    // edge cases: empty universe, empty pairs
    assert(Pipelines.rejectedDocGrain(
      Seq((1L, 2L)).toDF("doc1", "doc2"), "doc1", "doc2", Set.empty) == Set.empty)
    assert(Pipelines.rejectedDocGrain(
      Seq.empty[(Long, Long)].toDF("doc1", "doc2"), "doc1", "doc2",
      Set(1L, 2L)) == Set.empty)
  }

  test("adversarial all-duplicate shard: admission stays doc-grain-bounded and admits exactly one (r14)") {
    // 100 identical texts: the candidate-pair frame is all-pairs (~5000
    // rows — the shape that grew the old pair-grain driver collect), the
    // policy verdict is 99 rejections (> the exceptIds In threshold, so
    // every sink plan takes the broadcast ANTI-join path), and exactly
    // the smallest id survives. The index holds UNRELATED docs so no
    // external partner interferes.
    val idx = TestSpark.tmpDir("adv_dup_idx")
    val out = TestSpark.tmpDir("adv_dup_out")
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 === 1).select("doc_id", "text")
    ptx.sources.DedupIndex.write(base, idx)
    val boiler = "the same boilerplate paragraph repeated verbatim across " +
      "every mirror of the crawl corpus body text"
    val shard = spark.range(1000000L, 1000100L)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
    Pipelines.admitShardBatch(shard, 7L, idx, out, 0.4)
    val accepted = spark.read.parquet(s"$out/accepted/batch=7")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(1000000L),
      s"expected only the smallest duplicate to survive, got $accepted")
    // the pair audit carries the full all-pairs evidence
    val nPairs = spark.read.parquet(s"$out/pairs/batch=7").count()
    assert(nPairs == 100L * 99 / 2, s"expected all-pairs audit, got $nPairs")
    // the index admitted exactly the survivor (under the batch tag)
    val admitted = spark.read.parquet(s"$idx/sets/batch=b7")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1000000L), s"index admitted $admitted")
    // plan shape above the exceptIds threshold: the 99-id rejection set
    // rides a broadcast LEFT ANTI hash join — no N-literal In, and no
    // exchange introduced into the sink plan
    val rejected = (1000001L to 1000099L).toSet
    val plan = Pipelines.exceptIds(shard, "doc_id", rejected)
      .queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("BroadcastHashJoin") && planStr.contains("LeftAnti"),
      s"expected broadcast left-anti above threshold:\n$planStr")
    assert(!plan.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      s"anti-join sink plan shuffled:\n$planStr")
    ptx.Caching.releaseAll()
  }

  test("admission bodies called in batch mode plan inside the micro-batch scope, with fixed job counts") {
    // each body opens its own withMicroBatchPlan scope, so a direct call
    // never plans adaptively, and its job shape stays what the streaming
    // wrappers pay per micro-batch
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val shard = docs.filter(col("doc_id") % 5 === 0)
    val Seq(dedupIdx, ingestIdx, containIdx, semIdx) =
      Seq("shape_dedup", "shape_ingest", "shape_contain", "shape_sem").map(TestSpark.tmpDir)
    ptx.sources.DedupIndex.write(base, dedupIdx)
    ptx.sources.DedupIndex.write(base, ingestIdx)
    ptx.sources.ContainIndex.write(base, containIdx)
    val e = ptx.Tables.embeddings(spark, TestSpark.SF)
    val seed = e.filter(col("vec_id") % 2 === 0)
    ptx.sources.VectorIndex.write(seed, s"$semIdx/centroids")
    ptx.sources.VectorIndex.assign(seed.select("vec_id", "embedding"),
        ptx.sources.VectorIndex.read(spark, s"$semIdx/centroids"))
      .write.parquet(s"$semIdx/cells/batch=-1")
    val vecs = e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
    // the reference as ingestAdmission holds it: a local relation
    val psiRef = docs.groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("b", "gn")
    val sketch = Pipelines.evalGramSketch(docs.filter(col("doc_id") % 10 === 5))
    /** (jobs, adaptive executed plans) of one body. */
    def shape(body: => Unit): (Int, Seq[String]) = try {
      val rec = ptx.tools.Metrics.during(spark)(body)._2
      (rec.jobs.size, rec.plans.filter(_.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
        .map(_.simpleString(3)))
    } finally ptx.Caching.releaseAll()
    val got = Seq(
      "shard" -> shape(Pipelines.admitShardBatch(shard, 0L, dedupIdx,
        TestSpark.tmpDir("shape_dedup_out"), 0.4)),
      "contain" -> shape(Pipelines.admitContainBatch(shard, 0L, containIdx,
        TestSpark.tmpDir("shape_contain_out"), 0.8)),
      "semantic" -> shape(Pipelines.admitSemanticBatch(vecs, 0L, semIdx,
        TestSpark.tmpDir("shape_sem_out"), 0.45, refreshEvery = 1000)),
      "ingest" -> shape(Pipelines.ingestAdmitBatch(shard, 0L, psiRef, sketch,
        ingestIdx, TestSpark.tmpDir("shape_ingest_out"), 0.4)))
    got.foreach { case (name, (_, adaptive)) =>
      assert(adaptive.isEmpty, s"$name planned adaptively: $adaptive")
    }
    // the counts each body ran before the three probe bodies shared one
    // skeleton (ingest measured under the scope its stream wrapper opened)
    val want = Map("shard" -> 12, "contain" -> 22, "semantic" -> 10, "ingest" -> 24)
    got.foreach { case (name, (jobs, _)) =>
      assert(jobs == want(name), s"$name ran $jobs jobs, want ${want(name)}")
    }
  }

  test("composed ingest admission: every stage equals its standalone gate core; survivors admit (r11)") {
    val docs = ptx.Tables.documents(spark, TestSpark.SF)
    val idx = TestSpark.tmpDir("ingest_idx")
    val out = TestSpark.tmpDir("ingest_out")
    val cp = TestSpark.tmpDir("ingest_cp")
    // base (80%) seeds the index; the 20% shard streams through the
    // composed stack — the split the shardAdmission test proved carries
    // near-dup pairs. Eval suite ⊂ shard, so decon hits are guaranteed
    // (an eval doc's own grams are in the sketch).
    val base = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val shard = docs.filter(col("doc_id") % 5 === 0)
    ptx.sources.DedupIndex.write(base, idx)
    val psiRef = docs.groupBy(expr("n_chars div 50").as("b"))
      .agg(count(lit(1)).as("gn"))
    val sketch = Pipelines.evalGramSketch(docs.filter(col("doc_id") % 10 === 5))
    Pipelines.ingestAdmission(
      ptx.Tables.documentsStream(spark, TestSpark.SF)
        .filter(col("doc_id") % 5 === 0),
      psiRef, sketch, idx, out, cp).awaitTermination()
    // replay each stage with the SAME cores the pipeline composes (the
    // cores' own parity vs their batch twins is pinned by the standalone
    // gate tests above) on a fresh index copy
    val driftedSrc = Pipelines.driftVerdict(shard, psiRef)
      .filter(col("drifted")).select("source").collect()
      .map(_.getString(0)).toSet
    val contaminatedIds = Pipelines.deconVerdict(shard, sketch)
      .filter(col("contaminated")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val clean = shard
      .filter(!col("source").isin(driftedSrc.toSeq: _*))
      .filter(!col("doc_id").isin(contaminatedIds.toSeq: _*))
      .select("doc_id", "text")
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val idx2 = TestSpark.tmpDir("ingest_idx2")
    ptx.sources.DedupIndex.write(base, idx2)
    val pairs = ptx.sources.DedupIndex.probe(spark, idx2, clean)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    ptx.Caching.releaseAll()
    val rejected = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (d, o) => cleanIds(d) && (!cleanIds(o) || o < d) }
      .map(_._1).toSet
    val expected = cleanIds -- rejected
    val accepted = spark.read.parquet(s"$out/accepted/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == expected, s"composed accepted diverged " +
      s"(${accepted.size} vs ${expected.size})")
    // audit trails: both gate verdicts land in the ONE tagged batch file
    // (r13 — single audit write), content-equal to the standalone cores
    val gates = spark.read.parquet(s"$out/gates/batch=0")
    assert(gates.filter(col("gate") === "drift").count() > 0)
    assert(gates.filter(col("gate") === "decon").count() == shard.count())
    val auditContaminated = gates
      .filter(col("gate") === "decon" && col("contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(auditContaminated == contaminatedIds,
      "decon audit rows diverged from the standalone gate core")
    // non-vacuous: the decon and dedup stages must each really fire,
    // and the stack must still admit someone
    assert(contaminatedIds.nonEmpty, "no contamination hits — vacuous")
    assert(rejected.nonEmpty, "no dedup rejections — vacuous")
    assert(accepted.nonEmpty, "stack admitted nothing — vacuous")
    ptx.Caching.releaseAll()
  }

  test("left-outer stream-stream join emits unmatched purchases with null click after the watermark closes") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "attr_outer_sink"
    val q = Pipelines.attributionOuter(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: one matched purchase (user 1), one purchase with no
      // preceding click at all (user 3)
      ms.addData(Seq(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(20), 1, "purchase", 9.0),   // attributes click 1
        Event(3, ts(30), 3, "purchase", 9.0)))  // no clicks for user 3
      q.processAllAvailable()
      val beforeClose = spark.table(name).collect()
      // the unmatched purchase cannot be declared unmatched yet: a matching
      // click might still arrive until the watermark passes its window
      assert(!beforeClose.exists(_.isNullAt(2)),
        s"null-click row leaked before the watermark closed: ${beforeClose.toSeq}")
      // batch 2: far-future events on BOTH filtered sides advance both
      // watermarks past purchase 3's join window, finalizing its state
      ms.addData(Seq(
        Event(100, ts(600), 1, "click", 1.0),
        Event(101, ts(600), 1, "purchase", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      // matched row as inner join; unmatched purchase 3 now present with null click
      assert(rows.contains((2L, 1L, 1L)), s"matched row missing: $rows")
      assert(rows.contains((3L, 3L, -1L)), s"unmatched purchase not emitted with null click: $rows")
      // batch-mode twin: same transform, same rows (null click preserved)
      val batch = Pipelines.attributionOuter(Seq(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(20), 1, "purchase", 9.0),
        Event(3, ts(30), 3, "purchase", 9.0)).toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(batch == Set((2L, 1L, 1L), (3L, 3L, -1L)), s"batch twin: $batch")
    } finally q.stop()
  }

  test("stateful alerts: running max + 3-consecutive-error burst (hand-computed)") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    ms.addData(feed)
    val name = "alert_sink"
    val q = Pipelines.alerts(ms.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = Set(
      (1L, 1L, "new_max"), (1L, 2L, "new_max"), (1L, 4L, "new_max"),
      (2L, 5L, "new_max"), (2L, 6L, "new_max"), (2L, 7L, "new_max"),
      (2L, 7L, "error_burst"), (2L, 8L, "new_max"))
    assert(got == want, s"got $got")
  }

  test("update mode re-emits a window's row as new data lands in it") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "upd_sink"
    val q = Pipelines.tumbling(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(Seq(Event(1, ts(0), 1, "click", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(Event(2, ts(5), 1, "click", 2.0)))
    q.processAllAvailable()
    val versions = spark.table(name).collect()
      .filter(_.getString(1) == "click").map(r => (r.getLong(2), r.getDouble(3)))
    q.stop()
    // the memory sink appends each update: first n=1, then the revised n=2
    assert(versions.toSeq.sortBy(_._1) == Seq((1L, 1.0), (2L, 3.0)), s"got ${versions.toSeq}")
  }

  test("transformWithState running totals persist ValueState across batches (RocksDB)") {
    RocksDBFixture.withRocksDB(spark) {
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = "tws_sink"
      val q = Pipelines.runningTotals(ms.toDS()).toDF("user_id", "n", "total")
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        ms.addData(Seq(Event(1, ts(0), 5, "click", 10.0), Event(2, ts(1), 5, "click", 2.0)))
        q.processAllAvailable()
        ms.addData(Seq(Event(3, ts(2), 5, "click", 3.0)))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(1), r.getDouble(2))).toSet
        // batch 2's row continues from batch 1's state: (3, 15.0)
        assert(got == Set((1L, 10.0), (2L, 12.0), (3L, 15.0)), s"got $got")
      } finally q.stop()
    }
  }

  /** Run a transformWithState EWMA stream under the RocksDB provider,
    * feeding `batches` in order; returns (event_id, ewma_e2) pairs. */
  private def runEwma(batches: Seq[Seq[Event]]): Set[(Long, Long)] = {
    RocksDBFixture.withRocksDB(spark) {
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = s"ewma_sink_${System.nanoTime()}"
      val q = Pipelines.ewma(ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        spark.table(name).collect().map(r => (r.getLong(1), r.getLong(3))).toSet
      } finally q.stop()
    }
  }

  test("streaming EWMA ring carries across batches in ListState (RocksDB, r6)") {
    val got = runEwma(Seq(
      Seq(Event(1, ts(0), 5, "click", 1.0), Event(2, ts(1), 5, "click", 2.0)),
      Seq(Event(3, ts(2), 5, "click", 3.0))))
    // e1: ring [100] → 100; e2: (200·128+100·64)/192 = 166.67 → 167;
    // e3 continues batch 1's ring: (300·128+200·64+100·32)/224 = 242.86 → 243
    assert(got == Set((1L, 100L), (2L, 167L), (3L, 243L)), s"got $got")
  }

  test("streaming CUSUM with a batch-computed reference mean equals the declared pt_cusum twin (r6)") {
    RocksDBFixture.withRocksDB(spark) {
      val evRows = ptx.Tables.events(spark, TestSpark.SF)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
      // the model parameter: the batch side's exact integer global mean
      val meanE2 = math.round(
        evRows.map(e => math.round(e.value * 100)).sum.toDouble / evRows.size)
      val (b1, b2) = evRows.splitAt(evRows.length / 2)
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = s"cusum_sink_${System.nanoTime()}"
      val q = Pipelines.cusum(ms.toDS(), meanE2).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getBoolean(4))).toSet
      q.stop()
      val batch = ptx.QueryRegistry.all("pt_cusum")(spark, TestSpark.SF)
        .select("event_id", "cusum_e2", "drift").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(streamed == batch)
      assert(batch.size == evRows.length)
    }
  }

  test("streaming EWMA over real sf0.001 events equals the declared pt_ewma batch twin (r6)") {
    // event-time-ordered replay in two batches: the ring must carry across
    // the batch boundary for the tail half to match the batch query
    val evRows = ptx.Tables.events(spark, TestSpark.SF)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val (b1, b2) = evRows.splitAt(evRows.length / 2)
    val streamed = runEwma(Seq(b1, b2))
    val batch = ptx.QueryRegistry.all("pt_ewma")(spark, TestSpark.SF)
      .select("event_id", "ewma_e2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.size == evRows.length)
  }

  test("streaming MapState type histogram equals the declared pt_type_running_hist twin (r6)") {
    // event-time-ordered replay in two batches: the per-type map must
    // carry across the boundary or the tail half's counts restart at 1
    RocksDBFixture.withRocksDB(spark) {
      val evRows = ptx.Tables.events(spark, TestSpark.SF)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
      val (b1, b2) = evRows.splitAt(evRows.length / 2)
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = s"hist_sink_${System.nanoTime()}"
      val q = Pipelines.typeHistogram(ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(1), r.getLong(4), r.getLong(5))).toSet
      q.stop()
      val batch = ptx.QueryRegistry.all("pt_type_running_hist")(spark, TestSpark.SF)
        .select("event_id", "n_type", "n_seen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.size == evRows.length)
    }
  }

  test("stateful alerts carry state across micro-batches") {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "alert_sink2"
    val q = Pipelines.alerts(ms.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(Seq(Event(1, ts(0), 9, "error", 5.0), Event(2, ts(1), 9, "error", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(Event(3, ts(2), 9, "error", 2.0), Event(4, ts(3), 9, "click", 9.0)))
    q.processAllAvailable()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(1), r.getString(2))).toSet
    q.stop()
    // event 3 is the 3rd consecutive error even though it arrived in batch 2;
    // event 4 (9.0) beats the running max 5.0 from batch 1
    assert(got == Set((1L, "new_max"), (3L, "error_burst"), (4L, "new_max")), s"got $got")
  }

  test("event-time timers close idle sessions when the watermark passes (r4)") {
    RocksDBFixture.withRocksDB(spark) {
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = "timer_sink"
      val q = Pipelines.sessionTimeouts(ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // user 7: events at min 0 and 10 (one session); user 9: two events
        // 40 min apart in ONE batch -> in-batch gap closes the first session
        ms.addData(Seq(
          Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "view", 2.0),
          Event(3, ts(0), 9, "click", 1.0), Event(4, ts(40), 9, "click", 1.0)))
        q.processAllAvailable()
        // late-hour traffic advances the watermark to min 110 >> min 40
        // (user 7's timer) and min 70 (user 9's 2nd-session timer)
        ms.addData(Seq(Event(5, ts(120), 8, "click", 1.0)))
        q.processAllAvailable()
        // one more batch so timers registered before the watermark moved fire
        ms.addData(Seq(Event(6, ts(125), 8, "view", 1.0)))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
        assert(got.contains((7L, ts(0), ts(10), 2L)), s"user 7 session not closed by timer: $got")
        assert(got.contains((9L, ts(0), ts(0), 1L)), s"user 9 in-batch gap session missing: $got")
        assert(got.contains((9L, ts(40), ts(40), 1L)), s"user 9 second session not timed out: $got")
      } finally q.stop()
    }
  }

  test("foreachBatch parquet sink: per-batch dirs hold exactly the fed rows; batch rewrite is idempotent (r4)") {
    val root = TestSpark.tmpDir("fb_sink")
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    ms.addData(feed.take(4))
    Pipelines.parquetSink(ms.toDF(), s"$root/out", s"$root/ckpt").awaitTermination()
    ms.addData(feed.drop(4))
    Pipelines.parquetSink(ms.toDF(), s"$root/out", s"$root/ckpt").awaitTermination()
    def readAll() = spark.read.parquet(s"$root/out/batch=*")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(readAll() == feed.map(_.event_id).sorted, s"sink rows: ${readAll()}")
    // retry simulation: re-deliver batch 1's data under the same batch id —
    // overwrite replaces, never duplicates
    import spark.implicits._
    Pipelines.writeBatch(feed.drop(4).toDF(), 1L, s"$root/out")
    assert(readAll() == feed.map(_.event_id).sorted, "batch rewrite duplicated rows")
  }

  test("chained windowed aggregations (15 min → 1 h) equal the batch chain (r5)") {
    // chained stateful aggregations are an APPEND-mode pattern (complete
    // mode trips the multi-stateful-operator correctness check): only
    // windows finalized by the watermark are emitted, so a sentinel event
    // at min 200 pushes the final watermark to 190, closing hours 0-2
    val sentinel = Event(99, ts(200), 99, "view", 0.0)
    val streamed = runStream(feed :+ sentinel, "append")(Pipelines.chainedWindows)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Pipelines.chainedWindows((feed :+ sentinel).toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(_._1.before(ts(180))) // the sentinel's own hour never finalizes
      .toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    assert(batch.nonEmpty)
    // hour 0 clicks: min 0, 20, 40 → one per quarter → peak 1, total 3;
    // hour 0 errors: min 2, 8, 12 all in quarter [0,15) → peak 3, total 3
    assert(batch.contains((ts(0), "click", 1L, 3L)), s"got $batch")
    assert(batch.contains((ts(0), "error", 3L, 3L)), s"got $batch")
  }

  test("transformWithState ListState keeps a bounded last-3 buffer across batches (r5)") {
    RocksDBFixture.withRocksDB(spark) {
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      val name = "rolling_sink"
      val q = Pipelines.rollingMeans(ms.toDS()).toDF("user_id", "event_id", "mean3")
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        ms.addData(Seq(Event(1, ts(0), 3, "click", 1.0), Event(2, ts(1), 3, "click", 2.0)))
        q.processAllAvailable()
        ms.addData(Seq(Event(3, ts(2), 3, "click", 6.0), Event(4, ts(3), 3, "click", 10.0)))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(1), r.getDouble(2))).toMap
        // buffers: [1] → 1.0; [1,2] → 1.5; [1,2,6] → 3.0 (cross-batch state);
        // [2,6,10] → 6.0 (event 1 evicted by the 3-element bound)
        assert(got == Map(1L -> 1.0, 2L -> 1.5, 3L -> 3.0, 4L -> 6.0), s"got $got")
      } finally q.stop()
    }
  }

  test("streaming funnel over the binding events equals the batch pt_funnel counts (r5)") {
    // the real fixture, streamed whole: stage-advance counts must equal
    // the batch query's min-timestamp funnel semantics (within one batch
    // the processor sorts by (ts, event_id), so one-batch replay IS the
    // batch ordering)
    RocksDBFixture.withRocksDB(spark) {
      val sf = "/root/testdata/sf0.001"
      val events = ptx.Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .as[Event].collect().toSeq
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      ms.addData(events)
      val name = "funnel_twin_sink"
      val q = Pipelines.funnel(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val advances = spark.table(name).collect().map(_.getString(1))
      val streamed = Map(
        "n_view" -> advances.count(_ == "view").toLong,
        "n_click_after_view" -> advances.count(_ == "click").toLong,
        "n_purchase_after_click" -> advances.count(_ == "purchase").toLong)
      val b = ptx.QueryRegistry.all("pt_funnel")(spark, sf).collect()(0)
      val batch = Map(
        "n_view" -> b.getLong(0),
        "n_click_after_view" -> b.getLong(1),
        "n_purchase_after_click" -> b.getLong(2))
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(batch("n_view") > 0)
    }
  }

  test("streaming hysteresis over the binding events equals the batch pt_hysteresis edges (r5)") {
    RocksDBFixture.withRocksDB(spark) {
      val sf = "/root/testdata/sf0.001"
      val events = ptx.Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .as[Event].collect().toSeq
      val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
      ms.addData(events)
      val name = "hyst_twin_sink"
      val q = Pipelines.hysteresis(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = ptx.QueryRegistry.all("pt_hysteresis")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"extra=${streamed -- batch} missing=${batch -- streamed}")
      assert(batch.nonEmpty)
    }
  }

  test("streaming hysteresis carries the armed bit across batches (r5)") {
    RocksDBFixture.withRocksDB(spark) {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "hyst_sink"
    val q = Pipelines.hysteresis(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: arm (edge), stay high (no edge)
      ms.addData(Seq(Event(1, ts(0), 9, "v", 250.0), Event(2, ts(1), 9, "v", 300.0)))
      q.processAllAvailable()
      // batch 2: still armed from batch 1 → high value is NOT a new edge;
      // then clear, then re-arm → exactly one more edge
      ms.addData(Seq(Event(3, ts(2), 9, "v", 220.0), Event(4, ts(3), 9, "v", 10.0),
        Event(5, ts(4), 9, "v", 201.0)))
      q.processAllAvailable()
      val got = spark.table(name).collect().map(_.getLong(1)).toSeq.sorted
      assert(got == Seq(1L, 5L), s"edges: $got")
    } finally q.stop()
    }
  }

  test("streaming funnel advances stages across batches and stays monotone (r5)") {
    RocksDBFixture.withRocksDB(spark) {
    val ms = MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]], spark)
    val name = "funnel_sink"
    val q = Pipelines.funnel(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 7 views then clicks; user 8 clicks with NO prior view
      ms.addData(Seq(
        Event(1, ts(0), 7, "view", 1.0), Event(2, ts(60), 7, "click", 1.0),
        Event(3, ts(0), 8, "click", 1.0)))
      q.processAllAvailable()
      // batch 2: user 7 purchases (cross-batch click state); a second view
      // for 7 must NOT re-emit; user 8 finally views — later stages still
      // locked (no click after that view yet)
      ms.addData(Seq(
        Event(4, ts(120), 7, "purchase", 1.0), Event(5, ts(180), 7, "view", 1.0),
        Event(6, ts(60), 8, "view", 1.0)))
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.count(_ == (7L, "view")) == 1)
      assert(got.count(_ == (7L, "click")) == 1)
      assert(got.count(_ == (7L, "purchase")) == 1)
      assert(got.filter(_._1 == 8L).map(_._2) == Seq("view"),
        s"user 8 should only have its view: $got")
      // per-user stage order matches a serial replay of arrival order
      val u7 = spark.table(name).filter(col("user_id") === 7)
        .orderBy(col("ts")).collect().map(_.getString(1)).toSeq
      assert(u7 == Seq("view", "click", "purchase"))
    } finally q.stop()
    }
  }
}
