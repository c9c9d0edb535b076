package ptx.tools

import org.apache.spark.sql.functions._

/** Dev tool: the events-side hot-key probe behind docs/SCALE.md §probe.
  * Run against BOTH a uniform events dir (sf0.1) and the
  * `ProbeData --hot-events` corpus (80% of rows on one user_id AND one
  * event_type), and compare:
  *
  *   - `join_skew_salted` (the declared salted shuffle join) vs its
  *     UNSALTED twin — identical thresholds dim, identical agg, identical
  *     shuffle_hash pin, no salt — to measure what the salt actually buys
  *     when the join key goes hot;
  *   - the user_id-partitioned window/session family, where no salt can
  *     help (a window over one key is inherently one partition's sort) —
  *     the probe documents the honest degradation shape.
  *
  * Timings use full materialization (`toRdd.count`, the graft.Bench and
  * BASELINE.md method) after one events-scan warm-up.
  *
  *   sbt "runMain ptx.tools.SkewJoinProbe <eventsDir>"
  */
object SkewJoinProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Probe.session()

    def timeIt(label: String, df: org.apache.spark.sql.DataFrame): Unit =
      Probe.timed(s"[skew-probe] $label")(Probe.materialize(df))

    // The partition histogram is the scale-honest metric here: local
    // wall-clock caps the visible damage at the core count (and the scan
    // usually drowns it), but max/avg partition rows is exactly the imbalance a
    // 1000-reducer cluster inherits — one hot partition IS the stage's
    // wall-clock at any cluster size.
    def balance(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val sizes = df.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      val nonEmpty = sizes.filter(_ > 0)
      val mx = if (sizes.isEmpty) 0L else sizes.max
      val avg = if (nonEmpty.isEmpty) 0.0 else nonEmpty.sum.toDouble / nonEmpty.length
      println(f"[skew-probe] $label: partitions=${sizes.length} max=$mx avg=$avg%.0f " +
        f"max/avg=${if (avg > 0) mx / avg else 0.0}%.2f")
    }

    // JVM/codegen warm-up on an events-only query (the hot corpus dir
    // carries no other tables)
    Probe.materialize(ptx.QueryRegistry.all("scan_events_ns")(spark, dir))

    timeIt("join_skew_salted (salted)",
      ptx.QueryRegistry.all("join_skew_salted")(spark, dir))

    // the unsalted twin: one hash bucket per event_type — a hot type is
    // ONE reducer's whole world, regardless of cluster size
    val thr = spark.createDataFrame(ptx.ops.Telemetry.thresholds).toDF("et", "thr")
    timeIt("join_unsalted (naive twin)",
      ptx.Tables.events(spark, dir)
        .join(thr.hint("shuffle_hash"), col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > col("thr"), 1L).otherwise(0L)).as("n_above"))
        .orderBy(col("event_type")))

    // user_id-partitioned windows/sessions: the family a hot user serializes
    Seq("pt_sessionize", "pt_trip_stats", "win_running_sum", "join_asof_tolerance")
      .foreach(q => timeIt(q, ptx.QueryRegistry.all(q)(spark, dir)))

    // the answer for the RE-ASSOCIABLE members of that family: the
    // two-phase segmented running sum (ops.SegmentedScan) — same rows as
    // win_running_sum's window (SkewSpec parity), but partitioned by
    // (user, hour segment) so the hot user's scan splits across its
    // segments instead of serializing on one task
    def segmented = ptx.ops.SegmentedScan.runningSum(
      ptx.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      key = Seq("user_id"), order = Seq("ts", "event_id"),
      segment = expr("unix_micros(ts) div 3600000000"),
      value = col("value"), out = "running")
    timeIt("segmented running sum (two-phase twin)", segmented)

    // shuffle balance: pre-aggregation join output (what each reducer
    // holds). Measured at 32 reducers with AQE frozen: AQE-coalescing on
    // a few local cores folds everything to a few partitions and hides
    // the layout a real cluster's reducer count would see; the histogram below is the
    // hash-partitioner's raw assignment, which is what scales.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val ev = ptx.Tables.events(spark, dir)
    balance("unsalted join shuffle",
      ev.join(thr.hint("shuffle_hash"), col("event_type") === col("et")))
    balance("salted join shuffle",
      ptx.functions.Skew.saltedJoin(ev, thr, "event_type", "et", 8,
        forceShuffle = true))
    // the window family's exchange shape (hash on user_id)
    balance("window exchange (user_id)",
      ev.repartition(col("user_id")))
    // ...and the segmented twin's exchange shape: hash on (user_id, hour
    // segment) — the hot user spreads across its segments
    balance("segmented exchange (user_id, segment)",
      ev.repartition(col("user_id"), expr("unix_micros(ts) div 3600000000")))
    spark.stop()
  }
}
