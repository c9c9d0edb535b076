package ptx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-asserted loaders for the binding tables (FIXTURES.md).
  *
  * Scale note (100 TB): all loads are plain columnar parquet scans — column
  * pruning and predicate pushdown are preserved because no UDF or cache sits
  * between `spark.read.parquet` and the first transformation. On a real
  * cluster these same paths would be directories of many files; nothing here
  * assumes a single file.
  */
object Tables {
  /** Column types every query in the registry may rely on after loading.
    * A set per column = the types the loader can emit; fixture regeneration
    * has already changed encodings once (events.ts ns→µs, which broke 49
    * queries while only names were asserted), so loads assert names AND
    * types to fail loudly at the first read. Asserts run AFTER
    * normalization: drift in an accepted encoding is absorbed (events.ts →
    * TimestampType, order/ship dates → TIMESTAMP_NTZ below), anything else
    * is one loud fixture-drift error.
    */
  private def exact(dt: DataType): Set[DataType] = Set(dt)

  /** Order/ship-date columns are canonically TIMESTAMP_NTZ (the physical
    * µs-no-tz encoding of the current fixtures). A regen that flips them to
    * DATE or TIMESTAMP (LTZ) is normalized back onto NTZ — a pure relabel
    * under the UTC session — so ~100 downstream queries never see the
    * drift; today's fixtures make this a no-op. */
  private val dateishCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"))

  private def normalizeDateish(df: DataFrame, name: String): DataFrame =
    dateishCols.getOrElse(name, Nil).foldLeft(df) { (acc, c) =>
      acc.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(DateType) | Some(TimestampType) =>
          acc.withColumn(c, col(c).cast(TimestampNTZType))
        case _ => acc // NTZ already, or missing/mistyped — assertSchema reports it
      }
    }

  private val expectedTypes: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)),
    "nation" -> Seq("n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
      "n_regionkey" -> exact(IntegerType)),
    "customer" -> Seq("c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
      "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq("s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
      "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq("p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq("o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> exact(TimestampNTZType), "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq("l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
      "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> exact(TimestampNTZType)),
    "documents" -> Seq("doc_id" -> exact(LongType), "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> exact(LongType)),
    "embeddings" -> Seq("vec_id" -> exact(LongType),
      "embedding" -> Set[DataType](ArrayType(FloatType, true), ArrayType(FloatType, false)),
      "label" -> exact(IntegerType)),
    // post-normalization: events.ts is ALWAYS TimestampType (LTZ) — the
    // normalizer below maps every accepted physical encoding onto it so the
    // 186-query registry sees one stable type regardless of fixture vintage
    "events" -> Seq("event_id" -> exact(LongType), "ts" -> exact(TimestampType),
      "user_id" -> exact(LongType), "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)))

  private[ptx] def assertSchema(df: DataFrame, name: String): DataFrame = {
    val cols = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val problems = expectedTypes(name).flatMap { case (col, allowed) =>
      cols.get(col) match {
        case None => Some(s"$col missing")
        case Some(dt) if !allowed.contains(dt) =>
          Some(s"$col has type ${dt.simpleString}, expected one of " +
            allowed.map(_.simpleString).mkString("{", ", ", "}"))
        case _ => None
      }
    }
    require(problems.isEmpty, s"table $name schema mismatch: ${problems.mkString("; ")} " +
      s"(got ${df.schema.simpleString}) — fixture drift, see FIXTURES.md")
    df
  }

  /** Memo of loaded (normalized + schema-asserted) table frames, keyed by
    * (session, path, file fingerprint).
    *
    * Why (guide §6 file-listing/metadata costs): `spark.read.parquet`
    * re-lists the path and re-reads a parquet footer ON THE DRIVER at every
    * call, and the registry's query functions are re-invoked per bench run —
    * a star join touching 6 tables paid ~0.5-0.7 s of pure per-invocation
    * metadata work before any job ran (q8_market_share: 737 ms of frame
    * construction vs 76 ms of actual Catalyst phases; `ptx.tools.Probe`
    * prints the phase times per query).
    * The memoized value is the resolved LOGICAL PLAN (scan relation +
    * normalization), i.e. metadata only: every action over it still scans
    * parquet and recomputes from disk, so bench/oracle runs do full work —
    * this is the session-scoped analog of Spark's own catalog-table relation
    * cache, NOT a result cache.
    *
    * Staleness: the key carries a filesystem fingerprint (name/length/mtime
    * of the file, or of every child for a directory), so a test that
    * regenerates a fixture under the same path gets a fresh relation — the
    * BpeModel.ensure staleness discipline applied to the loader. Non-local
    * paths (any URI scheme) skip the memo entirely. */
  private val loadMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  private def fsFingerprint(path: String): Option[String] = {
    if (path.contains("://")) return None // non-local FS: skip the memo
    // RECURSE into subdirectories — a partitioned
    // fixture whose leaf files change without touching the top dir's own
    // entries would otherwise be served a stale relation. Depth-capped so
    // a pathological tree degrades to "skip the memo", never to a hang.
    def fp(f: java.io.File, depth: Int): Option[String] =
      if (!f.exists) None
      else if (f.isFile) Some(s"${f.getName}:${f.length}:${f.lastModified}")
      else if (depth <= 0) None
      else {
        val kids = f.listFiles()
        if (kids == null) None
        else {
          val parts = kids.sortBy(_.getName).map(c => fp(c, depth - 1))
          if (parts.exists(_.isEmpty)) None
          else Some(s"${f.getName}[" + parts.flatten.mkString(",") + "]")
        }
      }
    try fp(new java.io.File(path), 8) catch { case _: Throwable => None }
  }

  private def memoized(spark: SparkSession, path: String)
                      (load: => DataFrame): DataFrame =
    fsFingerprint(path) match {
      case None => load
      case Some(fp) =>
        // growth guards: entries owned by STOPPED sessions are
        // evicted on every pass (a long-lived multi-session
        // JVM no longer leaks them until the size trip), and the size
        // guard — regenerated fixtures retire old keys but never remove
        // them — stays as the backstop
        loadMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
        if (loadMemo.size > 512) loadMemo.clear()
        loadMemo.computeIfAbsent((spark, path, fp), _ => load)
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(expectedTypes.contains(name), s"unknown table $name")
    if (name == "events") events(spark, dir)
    else memoized(spark, s"$dir/$name.parquet") {
      assertSchema(
        normalizeDateish(spark.read.parquet(s"$dir/$name.parquet"), name), name)
    }
  }

  /** Normalize the physically-encoded events.ts onto TimestampType (LTZ):
    *
    *   - LongType — the fixture was parquet TIMESTAMP(NANOS), loaded as
    *     epoch-nanos long under `nanosAsLong` (Spark 4 refuses nanos
    *     otherwise). Integer-`div` to micros: `cast(ts/1000 as long)` would
    *     drift ±1 µs (double ulp at 1.7e18 ≈ 256 ns) while `div` is exact
    *     and matches DuckDB's ns→µs truncation bit-for-bit.
    *   - TimestampNTZType — the fixture is parquet timestamp[us] without
    *     timezone (the current vintage). Under
    *     the UTC session `cast(TimestampType)` relabels the same micros
    *     value, so epoch math (`unix_timestamp`, window(), as-of deltas)
    *     is identical to what DuckDB computes on the native µs file.
    *   - TimestampType — already the canonical type; pass through.
    *
    * Anything else (string, double, …) is fixture drift → loud error here
    * instead of 49 per-query analysis failures downstream.
    */
  private[ptx] def normalizeEventsTs(dt: DataType): Column = dt match {
    case LongType         => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => col("ts").cast(TimestampType)
    case TimestampType    => col("ts")
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type ${other.simpleString} " +
        "(expected TIMESTAMP(NANOS) long, TIMESTAMP_NTZ, or TIMESTAMP) — " +
        "fixture drift, see FIXTURES.md")
  }

  /** Batch events load, adaptive to the fixture's physical ts encoding
    * (see [[normalizeEventsTs]]). `nanosAsLong` is set before the read so a
    * nanos-vintage fixture loads instead of throwing; the conf has no effect
    * on µs files. It is session-wide and stays set afterwards — any OTHER
    * nanos parquet read in the same session would load as long instead of
    * failing. Acceptable here (events is the only possibly-nanos table in
    * the binding data); a multi-tenant deployment would scope it.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"$dir/events.parquet") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      require(raw.columns.contains("ts"), s"table events is missing column ts " +
        s"(got ${raw.columns.mkString(",")}) — fixture drift, see FIXTURES.md")
      assertSchema(raw.withColumn("ts", normalizeEventsTs(raw.schema("ts").dataType)), "events")
    }

  /** Streaming read of the events table (file source) with the same
    * ts normalization as the batch loader — the binding table as a stream.
    * Streaming sources need an explicit schema, so peek at the batch
    * footer to learn this fixture's physical ts encoding first.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val peek = spark.read.parquet(s"$dir/events.parquet")
    require(peek.columns.contains("ts"), s"table events is missing column ts " +
      s"(got ${peek.columns.mkString(",")}) — fixture drift, see FIXTURES.md")
    val tsType = peek.schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file source requires a directory; glob-filter the single file
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", normalizeEventsTs(tsType))
  }

  /** Streaming read of the documents table (file source) — for running the
    * stateless curation/text-analysis transforms on a document stream. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  // Shorthand accessors
  def region(s: SparkSession, d: String)    = t(s, d, "region")
  def nation(s: SparkSession, d: String)    = t(s, d, "nation")
  def customer(s: SparkSession, d: String)  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = t(s, d, "supplier")
  def part(s: SparkSession, d: String)      = t(s, d, "part")
  def orders(s: SparkSession, d: String)    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")
}
