package ptx

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the schema-adaptive loaders. A fixture regeneration once flipped
  * events.ts from TIMESTAMP(NANOS) to timestamp[us] behind a name-only
  * schema assert, and 49 queries failed at analysis: both accepted
  * physical encodings must normalize onto TimestampType with identical
  * instants, and any other drift must fail loudly at the first read, not
  * per-query. The loaders' memos must reuse metadata only while the file
  * and the session's parquet-inference settings are unchanged.
  */
class TablesSchemaSpec extends AnyFunSuite {
  private val sf = TestSpark.SF

  test("events loads from the current fixture with ts as TIMESTAMP") {
    val s = TestSpark.spark
    val ev = Tables.events(s, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }

  test("nanos-long and NTZ encodings normalize to the same instant") {
    val s = TestSpark.spark
    import s.implicits._
    // 2021-03-04T05:06:07.123456789 as epoch-nanos: the ns recipe must
    // truncate (not round) to ...123456 µs, bit-identical to DuckDB's
    // ns→µs conversion; the NTZ path must relabel the same micros value.
    val ns = 1614834367123456789L
    val fromLong = Seq(ns).toDF("ts")
      .withColumn("ts", Tables.normalizeEventsTs(LongType))
    val fromNtz = s.sql(s"SELECT timestamp_ntz '2021-03-04 05:06:07.123456' AS ts")
      .withColumn("ts", Tables.normalizeEventsTs(TimestampNTZType))
    assert(fromLong.schema("ts").dataType == TimestampType)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    val a = fromLong.select(unix_micros(col("ts"))).collect()(0).getLong(0)
    val b = fromNtz.select(unix_micros(col("ts"))).collect()(0).getLong(0)
    assert(a == ns / 1000)
    assert(a == b)
  }

  test("an unsupported ts encoding fails loudly at the loader") {
    val e = intercept[IllegalArgumentException] {
      Tables.normalizeEventsTs(StringType)
    }
    assert(e.getMessage.contains("fixture drift"))
  }

  test("assertSchema rejects a mistyped column with the fixture-drift message") {
    val s = TestSpark.spark
    import s.implicits._
    // right names, wrong type: r_regionkey as STRING must be caught —
    // the events.ts regression was exactly a type flip behind stable names
    val bad = Seq(("1", "AFRICA")).toDF("r_regionkey", "r_name")
    val e = intercept[IllegalArgumentException] {
      Tables.assertSchema(bad, "region")
    }
    assert(e.getMessage.contains("fixture drift"))
    assert(e.getMessage.contains("r_regionkey"))
  }

  test("a DATE-encoded order date normalizes onto the canonical TIMESTAMP_NTZ") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_dateish")
    s.sql(
      """SELECT id AS o_orderkey, id AS o_custkey, 'O' AS o_orderstatus,
        |  cast(id as double) AS o_totalprice,
        |  date '1997-06-01' AS o_orderdate, '5-LOW' AS o_orderpriority
        |FROM range(3)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val o = Tables.orders(s, dir)
    assert(o.schema("o_orderdate").dataType == TimestampNTZType)
    assert(o.count() == 3)
  }

  test("a renamed events ts column fails with the fixture-drift message") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_notS")
    s.sql(
      """SELECT id AS event_id, timestamp_ntz '2024-01-01 00:00:00' AS event_time,
        |  id AS user_id, 'click' AS event_type, cast(id as double) AS value,
        |  '{}' AS props FROM range(3)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] { Tables.events(s, dir) }
    assert(e.getMessage.contains("fixture drift"))
    assert(e.getMessage.contains("missing column ts"))
  }

  test("a re-typed documents parquet trips the canary loader loudly (VERDICT r9 #3)") {
    val s = TestSpark.spark
    // n_chars regenerated as STRING behind stable column names — the exact
    // drift shape the preflight SchemaDigest canary exists to catch
    val dir = TestSpark.tmpDir("ptx_docdrift")
    s.sql(
      """SELECT id AS doc_id, 'hello world' AS text, 'en' AS lang,
        |  'web' AS source, cast(11 AS STRING) AS n_chars
        |FROM range(3)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] { Tables.documents(s, dir) }
    assert(e.getMessage.contains("fixture drift"))
    assert(e.getMessage.contains("n_chars"))
  }

  test("assertSchema rejects a missing column") {
    val s = TestSpark.spark
    import s.implicits._
    val bad = Seq(1).toDF("r_regionkey")
    val e = intercept[IllegalArgumentException] {
      Tables.assertSchema(bad, "region")
    }
    assert(e.getMessage.contains("r_name missing"))
  }

  test("the load memo reuses an unchanged relation and re-reads a regenerated fixture (r18)") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_memo")
    def writeDocs(n: Int): Unit =
      s.sql(
        s"""SELECT id AS doc_id, 'hello world' AS text, 'en' AS lang,
           |  'web' AS source, cast(11 AS LONG) AS n_chars FROM range($n)""".stripMargin)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(3)
    val d1 = Tables.documents(s, dir)
    val d2 = Tables.documents(s, dir)
    // same fingerprint → the SAME resolved relation (metadata reuse, the
    // point of the memo); the data itself is still scanned per action
    assert(d1 eq d2, "unchanged fixture should hit the load memo")
    assert(d1.count() == 3)
    // regenerate under the SAME path → the fingerprint must retire the
    // memo entry (file length/mtime change) and the next load sees 5 rows;
    // a stale relation would either fail on vanished part files or return 3
    writeDocs(5)
    val d3 = Tables.documents(s, dir)
    assert(d3.count() == 5, "regenerated fixture must be re-read, not served stale")
  }

  test("the schema memo: a new session loads with no Spark job; a re-typed file or flipped nanosAsLong re-infers") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_schema")
    def writeDocs(extraType: String): Unit =
      s.sql(
        s"""SELECT id AS doc_id, 'hello world' AS text, 'en' AS lang, 'web' AS source,
           |  cast(11 AS LONG) AS n_chars, cast(id AS $extraType) AS extra
           |FROM range(3)""".stripMargin)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def jobs(body: => Any): Int = ptx.tools.Metrics.during(s)(body)._2.jobs.size
    writeDocs("INT")
    Tables.documents(s.newSession(), dir) // the first session pays inference
    val second = s.newSession()
    assert(jobs(Tables.documents(second, dir)) == 0,
      "a second session re-ran parquet schema inference")
    // regenerated under the same path → new fingerprint → new schema
    writeDocs("STRING")
    assert(Tables.documents(s.newSession(), dir).schema("extra").dataType == StringType,
      "a re-typed file was loaded with its old memoized schema")
    val flipped = s.newSession()
    flipped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(jobs(Tables.documents(flipped, dir)) > 0,
      "a session with other parquet-inference settings reused the schema memo entry")
  }

  test("the load memo holds at most one dropped probe session, however many loaded a table") {
    val s = TestSpark.spark
    val probes = (1 to 1000).map { _ =>
      val p = s.newSession()
      Tables.orders(p, sf)
      new java.lang.ref.WeakReference(p)
    }
    def alive = probes.count(_.get != null)
    var tries = 0
    while (alive > 1 && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(alive <= 1, s"$alive of 1000 probe sessions still reachable")
  }

  test("two sessions loading one path concurrently each get their own frame") {
    val (a, b) = (TestSpark.spark.newSession(), TestSpark.spark.newSession())
    val n = Tables.orders(a, sf).count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(a, b).map { s =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = (1 to 200).forall { _ =>
            val o = Tables.orders(s, sf)
            (o.sparkSession eq s) && o.count() == n
          }
        })
      }
      runs.foreach(r => assert(r.get(), "a frame of another session, or a wrong count"))
    } finally pool.shutdown()
  }
}
