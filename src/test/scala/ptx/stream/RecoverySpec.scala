package ptx.stream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import ptx.TestSpark

/** Checkpoint recovery: a file-source streaming aggregation stopped after
  * the first batch and restarted from its checkpoint must (a) not reprocess
  * batch-1 files and (b) resume its state, ending with the same totals as a
  * single uninterrupted run.
  */
class RecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming aggregation survives stop/restart via checkpoint") {
    val src = TestSpark.tmpDir("ptx-src")
    val ckpt = TestSpark.tmpDir("ptx-ckpt")

    def writeBatch(id: Int, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "event_type", "value")
        .repartition(1).write.mode("append").parquet(src)

    def startQuery(sinkName: String) =
      spark.readStream
        .schema("user_id LONG, event_type STRING, value DOUBLE")
        .parquet(src)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("total"))
        .writeStream
        .format("memory").queryName(sinkName).outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()

    // run 1: first batch only
    writeBatch(1, Seq((1L, "click", 10.0), (2L, "click", 5.0)))
    val q1 = startQuery("rec_sink")
    q1.processAllAvailable()
    val afterB1 = spark.table("rec_sink").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    q1.stop()
    assert(afterB1 == Map(1L -> (1L, 10.0), 2L -> (1L, 5.0)))

    // run 2: new files land while the query is down; restart from checkpoint
    writeBatch(2, Seq((1L, "click", 2.0), (3L, "view", 7.0)))
    val q2 = startQuery("rec_sink2")
    q2.processAllAvailable()
    val afterB2 = spark.table("rec_sink2").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    q2.stop()
    // state resumed: user 1 count=2 total=12 (not re-counted from scratch as 1)
    assert(afterB2 == Map(1L -> (2L, 12.0), 2L -> (1L, 5.0), 3L -> (1L, 7.0)),
      s"got $afterB2")
  }

  test("transformWithState hysteresis recovers the armed bit from a RocksDB checkpoint") {
    val src = TestSpark.tmpDir("ptx-hrec-src")
    val ckpt = TestSpark.tmpDir("ptx-hrec-ckpt")

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def writeBatch(rows: Seq[Event]): Unit =
      rows.toDF().repartition(1).write.mode("append").parquet(src)

    // memory sink can't recover an append-mode query from a checkpoint —
    // use the file sink (the recoverable production shape) and read back
    val out = TestSpark.tmpDir("ptx-hrec-out")

    def startQuery() = {
      val events = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
          "value DOUBLE, props STRING")
        .parquet(src)
        .as[Event]
      Pipelines.hysteresis(events)
        .writeStream.format("parquet").outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
    }

    def edges(): Seq[Long] =
      spark.read.parquet(out).collect().map(_.getLong(1)).toSeq.sorted

    RocksDBFixture.withRocksDB(spark) {
      // run 1: user 9 arms at 250 → ONE edge; stop while still armed
      writeBatch(Seq(Event(1, ts(0), 9, "v", 250.0)))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(edges() == Seq(1L))
      // run 2 from checkpoint: a still-high value must NOT re-edge — that
      // only holds if the armed bit was RECOVERED, not re-initialized;
      // then clear + re-arm produces exactly one new edge
      writeBatch(Seq(Event(2, ts(1), 9, "v", 220.0), Event(3, ts(2), 9, "v", 10.0),
        Event(4, ts(3), 9, "v", 230.0)))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      assert(edges() == Seq(1L, 4L),
        s"expected only the post-clear edge (armed bit recovered), got ${edges()}")
    }
  }

  test("TTL'd content dedup recovers its suppression state from a RocksDB checkpoint (r11)") {
    val src = TestSpark.tmpDir("ptx-ttlrec-src")
    val ckpt = TestSpark.tmpDir("ptx-ttlrec-ckpt")
    val out = TestSpark.tmpDir("ptx-ttlrec-out")

    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1).write.mode("append").parquet(src)

    def startQuery() = {
      val docs = spark.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(src)
      // TTL far beyond the test's wall time, so the only way run 2 can
      // suppress is by RECOVERING the fingerprint entry from the checkpoint
      Pipelines.contentDedupTtl(docs, java.time.Duration.ofMinutes(10))
        .writeStream.format("parquet").outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(50))
        .start()
    }

    def admitted(): Seq[Long] =
      spark.read.parquet(out).collect().map(_.getLong(1)).toSeq.sorted

    // a TimeMode.ProcessingTime query never quiesces (the TTL sweep runs a
    // batch every trigger — Pipelines.contentDedupTtl scaladoc), so each
    // run polls the sink for its expected admissions and then stops. The
    // FileStreamSink's _spark_metadata log makes each batch's files visible
    // atomically, so the polled set can never be a partial batch.
    def awaitAdmitted(n: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def count(): Int =
        scala.util.Try(spark.read.parquet(out).count().toInt).getOrElse(0)
      while (count() < n && System.nanoTime() < deadline) Thread.sleep(100)
      assert(count() >= n, s"timed out waiting for $n admitted rows")
    }

    RocksDBFixture.withRocksDB(spark) {
      // run 1: two distinct payloads admitted; stop with live TTL state
      writeBatch(Seq((1L, "epsilon text"), (2L, "zeta text")))
      val q1 = startQuery()
      awaitAdmitted(2)
      q1.stop()
      assert(admitted() == Seq(1L, 2L))
      // run 2 from checkpoint: a re-crawl of payload 1 under a new id must
      // stay suppressed (state recovered, TTL schedule intact) while new
      // content is admitted — and run 1's files are not reprocessed.
      // Both new rows arrive in ONE batch, so an unrecovered state would
      // surface atomically as (1,2,3,4); recovered state as (1,2,4).
      writeBatch(Seq((3L, "epsilon text"), (4L, "eta text")))
      val q2 = startQuery()
      awaitAdmitted(3)
      q2.stop()
      assert(admitted() == Seq(1L, 2L, 4L),
        s"expected the recovered fingerprint to suppress id 3, got ${admitted()}")
    }
  }

  test("transformWithState EWMA recovers the ListState ring from a RocksDB checkpoint (r6)") {
    val src = TestSpark.tmpDir("ptx-erec-src")
    val ckpt = TestSpark.tmpDir("ptx-erec-ckpt")
    val out = TestSpark.tmpDir("ptx-erec-out")

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def writeBatch(rows: Seq[Event]): Unit =
      rows.toDF().repartition(1).write.mode("append").parquet(src)

    def startQuery() = {
      val events = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
          "value DOUBLE, props STRING")
        .parquet(src)
        .as[Event]
      Pipelines.ewma(events)
        .writeStream.format("parquet").outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
    }

    def points(): Map[Long, Long] =
      spark.read.parquet(out).collect()
        .map(r => r.getLong(1) -> r.getLong(3)).toMap

    RocksDBFixture.withRocksDB(spark) {
      // run 1: values 1.00, 2.00 → ewma 100, then (200·128+100·64)/192=167
      writeBatch(Seq(Event(1, ts(0), 5, "v", 1.0), Event(2, ts(1), 5, "v", 2.0)))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(points() == Map(1L -> 100L, 2L -> 167L), s"got ${points()}")
      // run 2 from checkpoint: 3.00 must continue the RECOVERED ring
      // [200,100] → (300·128+200·64+100·32)/224 = 243; a re-initialized
      // ring would emit 300
      writeBatch(Seq(Event(3, ts(2), 5, "v", 3.0)))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      assert(points()(3L) == 243L,
        s"ring not recovered from checkpoint: got ${points()(3L)}")
    }
  }
}
