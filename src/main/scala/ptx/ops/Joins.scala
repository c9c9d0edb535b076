package ptx.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** G3 — join surface (SURVEY.md §2 G3).
  *
  * Scale notes (100 TB): large⋈large (orders⋈customer, lineitem⋈orders) are
  * left to Catalyst's sort-merge with AQE skew handling; dimension tables
  * (region/nation/supplier/part) are explicitly `broadcast()` so no shuffle
  * of the fact side's key is wasted on a small build side. The range join is
  * bucketized into an equi-join (hour alignment) so it hash-joins instead of
  * exploding into a broadcast-nested-loop at scale. The as-of join uses a
  * per-key window (single shuffle on user_id) rather than a self-join.
  */
object Joins {

  def queries: Map[String, QFn] = Map(
    "join_inner_shuffle" -> ((s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"), "inner")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_custkey"))
    }),
    "join_broadcast" -> ((s, d) => {
      val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .reportSort(col("p_brand"))
    }),
    "join_left_outer" -> ((s, d) => {
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),
    "join_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey")).distinct()
      val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_custkey").isNotNull.as("in_cust"),
          col("o_custkey").isNotNull.as("in_ord"))
        .orderBy(col("k"))
    }),
    "join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1998)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1998)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "join_cross" -> ((s, d) => {
      val r = Tables.region(s, d).select(col("r_name"))
      val n = Tables.nation(s, d).select(col("n_name"))
      r.crossJoin(n).reportSort(col("r_name"), col("n_name"))
    }),
    "join_theta" -> ((s, d) => {
      val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
      // equi key + non-equi residual: Catalyst extracts the equality so this
      // stays a hash/SMJ join with a post-filter, not a nested loop.
      l.join(broadcast(p),
          col("l_partkey") === col("p_partkey") &&
          col("l_extendedprice") < col("p_retailprice") * 2.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          round(col("l_extendedprice"), 2).as("price"))
        // (l_orderkey, l_linenumber) is not unique; p_partkey+price make
        // remaining ties full-row duplicates
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"), col("price"))
    }),
    "join_range_interval" -> ((s, d) => {
      val e = Tables.events(s, d)
      // hour buckets 2024-01-01 .. 2024-01-31; the alignment equality makes
      // this an equi-join (scalable); the range predicate is kept as the
      // declared semantic.
      val buckets = s.range(1).select(explode(sequence(
        to_timestamp(lit("2024-01-01 00:00:00")),
        to_timestamp(lit("2024-01-31 00:00:00")),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
      e.join(broadcast(buckets),
          date_trunc("hour", col("ts")) === col("bucket") &&
          col("ts") >= col("bucket") &&
          col("ts") < col("bucket") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
        .reportSort(col("bucket"))
    }),
    "join_asof_last_error" -> ((s, d) => {
      // r19 note: the explicit user_id spread (join_asof_next/nearest
      // keep it) was tried here and MEASURED WORSE in both quiet sweeps
      // (0.52 → 0.64-0.70 s): this variant's single backward frame is too
      // cheap to amortize the exchange. Same for join_asof_tolerance.
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.select(col("event_id"), col("user_id"), col("ts"),
          last(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
            .over(w).as("last_error_ts"))
        .orderBy(col("event_id"))
    }),
    // ✓ as-of FORWARD (r6): the first same-user error event strictly
    // AFTER each event — pandas merge_asof direction='forward', the
    // "time-to-next-failure" alignment. Mirror image of
    // join_asof_last_error: same single user_id shuffle, one forward
    // window frame, no self-join.
    "join_asof_next_error" -> ((s, d) => {
      // r19: explicit user_id spread off the AQE-coalesced single
      // partition (the pt_gap_fill note) — this variant's forward frame
      // is heavy enough to win (0.90 → 0.60 s in both quiet sweeps);
      // the cheap single-backward-frame variants measured worse and
      // stay unspread (the join_asof_last_error note)
      val e = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      e.select(col("event_id"), col("user_id"), col("ts"),
          first(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
            .over(w).as("next_error_ts"))
        .orderBy(col("event_id"))
    }),
    // as-of NEAREST: the closest same-user error event in EITHER direction
    // (backward wins exact ties) — the nearest-reading alignment telemetry
    // engines ship next to the backward as-of. Same scale shape as
    // join_asof_last_error: one shuffle on user_id, two frame passes over
    // the same sort, no self-join. Deltas compared in exact µs integers.
    "join_asof_nearest_error" -> ((s, d) => {
      val e = Tables.events(s, d) // r19 spread — the join_asof_next_error note
        .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val back = ord.rowsBetween(Window.unboundedPreceding, -1)
      val fwd = ord.rowsBetween(1, Window.unboundedFollowing)
      e.select(col("event_id"), col("user_id"), col("ts"),
          last(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
            .over(back).as("prev_err"),
          first(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
            .over(fwd).as("next_err"))
        .withColumn("nearest_error_ts",
          when(col("prev_err").isNull, col("next_err"))
            .when(col("next_err").isNull, col("prev_err"))
            .when(unix_micros(col("ts")) - unix_micros(col("prev_err")) <=
                  unix_micros(col("next_err")) - unix_micros(col("ts")), col("prev_err"))
            .otherwise(col("next_err")))
        .select(col("event_id"), col("user_id"), col("ts"), col("nearest_error_ts"))
        .orderBy(col("event_id"))
    }),
    // ✓ as-of with TOLERANCE (r4): the backward as-of, but the matched
    // error must be within 10 minutes — pandas merge_asof's `tolerance`
    // and kdb's wj window-join bound. Same single-shuffle window shape
    // as join_asof_last_error; the bound is a post-filter on exact-µs
    // integers, so stale matches become NULL instead of joining data
    // from hours ago (the semantics telemetry alignment actually wants).
    "join_asof_tolerance" -> ((s, d) => {
      val e = Tables.events(s, d) // no spread — the join_asof_last_error note
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.select(col("event_id"), col("user_id"), col("ts"),
          last(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
            .over(w).as("prev_err"))
        .withColumn("asof_error_ts",
          when(unix_micros(col("ts")) - unix_micros(col("prev_err")) <= 600000000L,
            col("prev_err")))
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_error_ts"))
        .orderBy(col("event_id"))
    }),
    // lineitem streams through a broadcast of the filtered customer ⋈
    // orders. Unhinted, CBO-off size estimation multiplies a join's input
    // sizes, so c ⋈ o looks larger than column-pruned lineitem and
    // JoinSelection builds the hash relation from the fact table (600k
    // rows, 33 MiB at sf0.1) for ~23k probing orders. The hinted side is
    // one year of orders (~1/7): broadcast-sized on the fixtures, not at
    // cluster scale, where this join belongs to a shuffle on o_orderkey.
    "join_star_q5" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).where(
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val l = Tables.lineitem(s, d); val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      l.join(broadcast(c.join(o, col("c_custkey") === col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
                   col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .reportSort(col("revenue").desc, col("n_name"))
    }),
    // ✓ salted shuffle join as a declared query (Skew.saltedJoin): the join
    // key event_type has only 5 live values, so an unsalted shuffle join
    // funnels each type's rows — ~20 TB per type at the design point —
    // through ONE reducer regardless of cluster size. Salting splits each
    // type over 8 sub-keys and replicates the 5-row threshold dim 8×.
    // Salting is purely physical (each row still matches exactly its own
    // dim row), so the oracle is the plain join — same thresholds table as
    // pt_threshold_alerts, rendered into the SQL from the same Seq.
    // forceShuffle pins the shuffled-join plan (shuffle on (type, salt));
    // without it JoinSelection would broadcast this 5-row dim and the salt
    // would never reach a partitioner (plan-asserted in OperatorSpec).
    "join_skew_salted" -> ((s, d) => {
      val thr = s.createDataFrame(Telemetry.thresholds).toDF("et", "thr")
      ptx.functions.Skew.saltedJoin(Tables.events(s, d), thr, "event_type", "et", 8,
          forceShuffle = true)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > col("thr"), 1L).otherwise(0L)).as("n_above"))
        .reportSort(col("event_type"))
    }),
    // ✓ mark join (r6) — existence as a COLUMN, not a filter: every
    // customer row survives, annotated with whether an urgent order
    // exists. This is the decorrelation primitive optimizers rewrite
    // `EXISTS(...)` in a SELECT list / disjunction into (semi join can
    // only filter; the mark keeps non-matching rows). Composed as
    // distinct-then-left-join: the distinct bounds the probe side at
    // |custkeys with urgent orders| BEFORE the join, so the exchange
    // carries keys, not orders. No broadcast hint — the distinct side is
    // |customer|-scale in the worst case, AQE makes the size call.
    "join_mark_exists" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          col("o_custkey").isNotNull.as("has_urgent"))
        .orderBy(col("c_custkey"))
    })
  )

  /** events with ns→µs-truncated ts, as DuckDB sees it after CAST. */
  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  def oracle: Map[String, String] = Map(
    "join_mark_exists" ->
      """SELECT c_custkey, c_name, u.o_custkey IS NOT NULL AS has_urgent
        |FROM customer
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT') u
        |  ON c_custkey = u.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "join_inner_shuffle" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "join_broadcast" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS k,
        |       c_custkey IS NOT NULL AS in_cust, o_custkey IS NOT NULL AS in_ord
        |FROM (SELECT DISTINCT c_custkey FROM customer) c
        |FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey
        |ORDER BY k""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND year(o_orderdate) = 1998)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND year(o_orderdate) = 1998)
        |ORDER BY c_custkey""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "join_theta" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, round(l_extendedprice, 2) AS price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_extendedprice < p_retailprice * 2.0
        |ORDER BY l_orderkey, l_linenumber, p_partkey, price""".stripMargin,
    "join_range_interval" ->
      s"""SELECT bucket, count(*) AS n, round(sum(value), 2) AS sum_val
        |FROM $EV e JOIN (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
        |                                INTERVAL 1 HOUR)) AS bucket) b
        |ON date_trunc('hour', e.ts) = b.bucket
        |   AND e.ts >= b.bucket AND e.ts < b.bucket + INTERVAL 1 HOUR
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "join_asof_last_error" ->
      s"""SELECT event_id, user_id, ts,
        |       last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |FROM $EV ORDER BY event_id""".stripMargin,
    "join_asof_next_error" ->
      s"""SELECT event_id, user_id, ts,
        |       first_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_error_ts
        |FROM $EV ORDER BY event_id""".stripMargin,
    "join_asof_nearest_error" ->
      s"""WITH w AS (
        |  SELECT event_id, user_id, ts,
        |    last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_err,
        |    first_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
        |  FROM $EV)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN prev_err IS NULL THEN next_err
        |       WHEN next_err IS NULL THEN prev_err
        |       WHEN epoch_us(ts) - epoch_us(prev_err) <= epoch_us(next_err) - epoch_us(ts)
        |         THEN prev_err ELSE next_err END AS nearest_error_ts
        |FROM w ORDER BY event_id""".stripMargin,
    "join_asof_tolerance" ->
      s"""WITH w AS (
        |  SELECT event_id, user_id, ts,
        |    last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_err
        |  FROM $EV)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN prev_err IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(prev_err) <= 600000000
        |       THEN prev_err END AS asof_error_ts
        |FROM w ORDER BY event_id""".stripMargin,
    "join_star_q5" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "join_skew_salted" -> {
      val values = Telemetry.thresholds
        .map { case (t, v) => s"('$t', $v)" }.mkString(", ")
      s"""WITH thr AS (SELECT * FROM (VALUES $values) t(et, thr))
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN value > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM $EV JOIN thr ON event_type = et
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    }
  )
}
