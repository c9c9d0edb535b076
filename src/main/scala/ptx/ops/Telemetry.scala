package ptx.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** G9 — powertrain/telemetry analytics over `events` (SURVEY.md §2 G9).
  * Batch twins of the streaming pipelines in ptx.stream: tumbling/hopping
  * windows, gap sessionization, trip rollups, threshold alerts.
  *
  * Scale notes (100 TB): sessionization is one shuffle on user_id then two
  * window passes — the scalable form of per-key gap detection (no
  * self-join). Hopping windows expand each event into len/slide rows before
  * the aggregate; partial aggregation absorbs the 4× blowup map-side.
  * Threshold lookup is a broadcast join against a tiny static dimension.
  *
  * Fixed-point discipline (FIXTURES.md "half-up integer mean"): every
  * `(2N+D) div (2D)` half-up mean here PRESUPPOSES a non-negative
  * numerator — `div` truncates toward zero, so N<0 would mis-round
  * (half-down) on both engines. events.value ≥ 0 in the binding fixture
  * and every N below is a sum/count of non-negative terms; a value domain
  * going negative must switch to the negate-divide-negate pattern
  * (`agg_conditional`'s avg_neg_e6). Sums feeding a ·10⁴/·10⁶ product are
  * DECIMAL(38,0) so ANSI overflow cannot abort at cluster row counts.
  */
object Telemetry {

  /** Static per-type alert thresholds — the [PK]-flavored rule table. */
  val thresholds: Seq[(String, Double)] = Seq(
    "click" -> 300.0, "view" -> 310.0, "purchase" -> 290.0,
    "signup" -> 280.0, "error" -> 250.0)

  def queries: Map[String, QFn] = Map(
    // ✓ value-distribution drift per event stream: PSI of each
    // event_type's VALUE distribution against the all-streams reference —
    // the telemetry twin of dq_drift_psi ("did the error stream's latency
    // distribution move?"), computed by the SAME exact-integer core
    // (Extras.psiAgainst): one pinned (type,bucket) cell agg, grid
    // arithmetic, e6-snap-before-sum. Buckets are floor(value/10) —
    // identical doubles floor identically on both engines.
    "pt_value_drift" -> ((s, d) => {
      val c = ptx.Caching.pin(Tables.events(s, d)
        .groupBy(col("event_type").as("source"),
          floor(col("value") / 10).cast("long").as("b"))
        .agg(count(lit(1)).as("n")))
      Extras.psiAgainst(c, Extras.ownGrid(c))
        .select(col("source").as("event_type"), col("n_docs").as("n_events"),
          col("psi_e6"), col("drifted"))
        .reportSort(col("event_type"))
    }),
    "pt_threshold_alerts" -> ((s, d) => {
      val thr = s.createDataFrame(thresholds).toDF("event_type", "thr")
      Tables.events(s, d)
        .join(broadcast(thr), Seq("event_type"))
        .filter(col("value") > col("thr"))
        .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
        .orderBy(col("event_id"))
    }),
    "pt_tumbling_1h" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
        .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_val"))
        .reportSort(col("hour"), col("event_type"))
    }),
    "pt_sliding_1h_15m" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
        .select(col("w.start").as("hop_start"), col("event_type"), col("n"), col("sum_val"))
        .reportSort(col("hop_start"), col("event_type"))
    }),
    "pt_sessionize" -> ((s, d) => {
      sessions(s, d)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),
    "pt_trip_stats" -> ((s, d) => {
      sessions(s, d)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_val"),
          round(avg(col("value")), 6).as("avg_val"),
          round(max(col("sec")) - min(col("sec")), 6).as("duration_s"))
        .orderBy(col("user_id"), col("session_id"))
    }),
    // per-type z-score anomaly detection: per-type stats are rounded to 6dp
    // BEFORE the z computation so both engines derive z from identical
    // stats (raw avg/stddev differ in the last ulp across engines)
    "pt_anomaly_zscore" -> ((s, d) => {
      val e = Tables.events(s, d)
      val stats = e.groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("mu"),
          round(stddev_samp(col("value")), 6).as("sigma"))
      e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
        .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"),
          col("z"), (abs(col("z")) > 3.0).as("is_anomaly"))
        .orderBy(col("event_id"))
    }),
    // native session_window in the BATCH surface (its streaming twin is
    // ptx.stream.Pipelines.sessions); end = last event + gap by definition
    "pt_session_native" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_val"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_val"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "pt_daily_pivot" -> ((s, d) => {
      // conditional-agg pivot: deterministic column set, zero-filled
      val e = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      e.groupBy(col("day"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("click"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("error"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).as("signup"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("view"))
        .reportSort(col("day"))
    }),
    // per-user signal derivative: Δvalue/Δt (per second) between consecutive
    // events — the classic telemetry rate-of-change signal. NULL for a
    // user's first event and for zero Δt (duplicate-timestamp guard: double
    // ÷0 gives ±Inf in Spark but NULL in DuckDB — the CASE keeps both
    // engines identical). One shuffle on user_id, one lag pass.
    "pt_rate_of_change" -> ((s, d) => {
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("event_id"), col("user_id"), col("ts"), col("value"),
          lag(col("value"), 1).over(w).as("pv"),
          lag(col("ts"), 1).over(w).as("pt"))
        .withColumn("dt_us", unix_micros(col("ts")) - unix_micros(col("pt")))
        .withColumn("dv_dt",
          when(col("pt").isNull || col("dt_us") === 0, lit(null))
            .otherwise((col("value") - col("pv")) * lit(1e6) / col("dt_us")))
        .select(col("event_id"), col("user_id"), col("ts"), col("dv_dt"))
        .orderBy(col("event_id"))
    }),
    // ✓ deterministic decimation (r4): keep every 10th event per user in
    // event-time order — the standard telemetry downsampling step before
    // long-horizon retention (100 TB/day in, 10 TB/day kept, exactly
    // reproducible unlike RNG sampling). One shuffle on user_id; the
    // count-based rule keeps per-user rates uniform regardless of each
    // user's event frequency.
    "pt_downsample" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter((col("rn") - 1) % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("rn"))
        .orderBy(col("event_id"))
    }),
    // ✓ ordered conversion funnel (r5): users who viewed, then clicked
    // AFTER their first view, then purchased AFTER that first click —
    // order-sensitive (a purchase before the click does not count), which
    // is what separates a funnel from three independent counts. The
    // chained-window formulation reuses ONE shuffle on user_id for all
    // three stages (each stage's min(CASE) window reads the previous
    // stage's column) — no per-stage self-join of the event log, which is
    // the formulation that dies at 100 TB.
    "pt_funnel" -> ((s, d) => {
      val wu = Window.partitionBy(col("user_id"))
      val staged = Tables.events(s, d)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(wu))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(wu))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
            col("ts"))).over(wu))
      // stage times are per-user constants; collapse then count non-nulls
      staged.groupBy(col("user_id"))
        .agg(max(col("t_view")).as("t_view"), max(col("t_click")).as("t_click"),
          max(col("t_purchase")).as("t_purchase"))
        .agg(count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_click_after_view"),
          count(col("t_purchase")).as("n_purchase_after_click"))
    }),
    // ✓ calendar gap-fill + forward-fill (r5): regularize each user's
    // signal onto a 6-hour grid (epoch-aligned like the hop windows),
    // filling empty buckets with the last observed bucket-average — the
    // standard step before any fixed-step time-series model. The spine is
    // generated per user from its own min/max bucket (span/step rows per
    // user, bounded — never a global calendar cross join), and the fill is
    // one ignoreNulls window over the same user_id partitioning the join
    // just shuffled on. Bucket avg is rounded 6dp BEFORE the fill so both
    // engines propagate identical values.
    "pt_gap_fill" -> ((s, d) => {
      // r19 (guide §2.5 synthetic-parallelism / the llm_dedup_lev spread
      // precedent): one EXPLICIT hash exchange on user_id at core-count
      // parallelism feeds the whole chain — the bucket agg, the per-user
      // spine agg and the fill window all cluster by user_id (subset
      // rule), so no further exchange follows. Without it AQE coalesced
      // the ~2 MB shuffle to ONE partition and the agg→agg→window chain
      // ran serially (5 single-task stages measured on pt_interp_linear).
      // defaultParallelism-parameterized, not a constant — at cluster
      // scale the same expression is the cluster's core count.
      val ag = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("user_id"))
        .groupBy(col("user_id"), window(col("ts"), "6 hours")("start").as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("v"))
      // r18 (guide §2.4): the spine join is gone — each user's observed
      // buckets ride along as a per-user map on the SAME aggregate row the
      // spine bounds come from, and the grid explodes off it directly.
      // Removes the spine-side exchange AND the (user, bucket) join (plan:
      // 5 exchanges → 3); the map is span-bounded exactly like the spine.
      // Row content is identical: element_at(m, bucket) ≡ the left join's
      // matched row (NULL on gap buckets).
      val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      ag.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"),
          map_from_entries(collect_list(struct(col("bucket"),
            struct(col("n"), col("v"))))).as("m"))
        .select(col("user_id"),
          explode(expr("sequence(b0, b1, interval 6 hours)")).as("bucket"),
          col("m"))
        .select(col("user_id"), col("bucket"),
          element_at(col("m"), col("bucket")).as("e"))
        .select(col("user_id"), col("bucket"),
          coalesce(col("e.n"), lit(0L)).as("n_events"),
          last(col("e.v"), ignoreNulls = true).over(w).as("avg_val_ff"))
        .orderBy(col("user_id"), col("bucket"))
    }),
    // ✓ linear-interpolation resampling (r6): the gap-fill grid, but an
    // empty bucket takes the time-weighted lerp between the nearest
    // observed bucket-averages on each side instead of carrying the last
    // one forward — the resampler a rate/derivative model needs (forward
    // fill puts a step exactly where a slope belongs). Interior gaps
    // always have both neighbors because each user's spine spans its own
    // observed min..max bucket. Same single user_id shuffle as
    // pt_gap_fill: the spine join and the four ignoreNulls frames all
    // reuse one partitioning. Everything is exact fixed-point INTEGER
    // arithmetic end-to-end (r7, tightening the r6 q8 discipline): the
    // bucket mean is a half-up integer division of the exact e2 sum
    // scaled to e6 (no double avg, no round() — bucket counts can be
    // 2^a·5^b and land a double ratio exactly on the grid), and the lerp
    // numerator pv·(nb−b) + nv·(b−pb) stays integer with a half-up
    // integer quotient (denominators are multiples of 21600 — even, so
    // round(double) there was one unlucky numerator from a half-point
    // flip).
    "pt_interp_linear" -> ((s, d) => {
      // r19: same explicit user_id spread as pt_gap_fill (see the note
      // there) — the bucket agg, spine agg and all four ignoreNulls
      // frames ride one core-count-parallel exchange instead of the
      // single AQE-coalesced partition
      val ag = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("user_id"))
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("v2"))
        .groupBy(col("user_id"), window(col("ts"), "6 hours")("start").as("bucket"))
        .agg(expr("(2 * sum(cast(v2 as decimal(38,0))) * 10000 + count(1))" +
          " div (2 * count(1))").as("v"))
      // r18: same spine-join removal as pt_gap_fill (see the note there) —
      // the per-user (bucket → v) map rides the aggregate row, the grid
      // explodes off it, and the four ignoreNulls frames read the looked-up
      // v. Row content identical; two exchanges fewer.
      val ord = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      val back = ord.rowsBetween(Window.unboundedPreceding, 0)
      val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
      ag.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"),
          map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
        .select(col("user_id"),
          explode(expr("sequence(b0, b1, interval 6 hours)")).as("bucket"),
          col("m"))
        .select(col("user_id"), col("bucket"),
          element_at(col("m"), col("bucket")).as("v"))
        .select(col("user_id"), col("bucket"), col("v"),
          last(col("v"), ignoreNulls = true).over(back).as("pv"),
          last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true)
            .over(back).as("pb"),
          first(col("v"), ignoreNulls = true).over(fwd).as("nv"),
          first(when(col("v").isNotNull, col("bucket")), ignoreNulls = true)
            .over(fwd).as("nb"))
        .select(col("user_id"), col("bucket"),
          when(col("v").isNotNull, col("v")).otherwise(expr(
            """(2 * (pv * (unix_timestamp(nb) - unix_timestamp(bucket))
              |     + nv * (unix_timestamp(bucket) - unix_timestamp(pb)))
              | + (unix_timestamp(nb) - unix_timestamp(pb)))
              |div (2 * (unix_timestamp(nb) - unix_timestamp(pb)))"""
              .stripMargin))
            .as("v_interp_e6"))
        .orderBy(col("user_id"), col("bucket"))
    }),
    // ✓ percentile winsorization (r5): clip each type's values to its own
    // exact [p05, p95] and report raw-vs-clipped means — the outlier
    // containment step upstream of any z-score/threshold rule. Exact
    // percentile is a full sort per group; at 100 TB swap in
    // approx_percentile (same clip shape) — kept exact here because it is
    // the oracle-checkable anchor. Percentiles rounded 6dp before the clip
    // (engine-identical boundaries); the type dimension is tiny so the
    // clip join broadcasts.
    "pt_winsorize" -> ((s, d) => {
      val e = Tables.events(s, d)
      // clip bounds snapped to e6 integers (round of an already-6dp
      // double is ulp-safe), clipping and both means in exact integer
      // space — round(avg) of e2 data over a row-count denominator is
      // the r6 half-point hazard class (r7 sweep)
      // r18: the ExactPercentiles window form was tried here and MEASURED
      // WORSE (0.58 → 0.84 s at sf0.1): with only 5 event types over 100k
      // rows the built-in's per-group buffering is small, and the window
      // form's extra sort+join stages cost more than the maps save —
      // kept the built-in (OPTIMIZATION_r18.md)
      val pct = e.groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.05)"), 6).as("p05d"),
        round(expr("percentile(value, 0.95)"), 6).as("p95d"))
        .select(col("event_type"),
          round(col("p05d") * 1e6).cast("long").as("p05_e6"),
          round(col("p95d") * 1e6).cast("long").as("p95_e6"))
      e.join(broadcast(pct), Seq("event_type"))
        .withColumn("v_e6",
          expr("cast(round(value * 100) as bigint) * 10000"))
        .groupBy(col("event_type"))
        // e6 sums as DECIMAL(38,0): a BIGINT sum of per-row e6 values
        // overflow-aborts near 1.8e9 rows per group under ANSI (q8 rule)
        .agg(count(lit(1)).as("n"),
          expr("(2 * sum(cast(v_e6 as decimal(38,0))) + count(1))" +
            " div (2 * count(1))").as("avg_raw_e6"),
          expr("(2 * sum(cast(least(greatest(v_e6, p05_e6), p95_e6)" +
            " as decimal(38,0))) + count(1))" +
            " div (2 * count(1))").as("avg_winsor_e6"))
        .reportSort(col("event_type"))
    }),
    // ✓ hysteresis alerting (r5): an alert ARMS when value ≥ 200 and only
    // clears when value ≤ 50 — the two-threshold debounce every telemetry
    // monitor needs (a single threshold flaps on noise around it; compare
    // pt_threshold_alerts). Pure windows: raw crossings → last-non-null
    // forward fill = the alarm state machine, lag of that = edge
    // detection. Both window passes share ONE user_id shuffle; emitted
    // rows are only the rising edges.
    "pt_hysteresis" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("raw",
          when(col("value") >= 200.0, 1).when(col("value") <= 50.0, 0))
        .withColumn("state",
          coalesce(last(col("raw"), ignoreNulls = true).over(run), lit(0)))
        .withColumn("prev", coalesce(lag(col("state"), 1).over(w), lit(0)))
        .filter(col("state") === 1 && col("prev") === 0)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
    // ✓ cohort retention (r5): users grouped by first-seen day, distinct
    // actives per (cohort, day-offset), plus the retention fraction
    // against the cohort size. Two shuffles, both on natural keys: one
    // groupBy(user) for first-seen, one groupBy(cohort, offset) — the
    // user⋈first join reuses the user_id partitioning. Offsets divide by
    // 7-free exact day deltas (both frames day-truncated), and the
    // retention rate is an e6 micro-rate from half-up INTEGER division —
    // no float exists anywhere in the query.
    // At 100 TB the cohort dimension (days × cohort sizes) is tiny; only
    // the per-user first-seen frame scales with users, and it broadcasts
    // or shuffle-joins as AQE decides.
    "pt_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day")).agg(
        count(lit(1)).as("cohort_n"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day").cast("date"), col("cohort_day").cast("date"))
            .as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), Seq("cohort_day"))
        // e6 micro-rate via half-up integer division — cohort sizes are
        // row counts, i.e. one 2^a·5^b away from an exact half-point
        .select(col("cohort_day"), col("day_offset"), col("n_active"),
          expr("(n_active * 2000000 + cohort_n) div (2 * cohort_n)")
            .as("retention_e6"))
        .reportSort(col("cohort_day"), col("day_offset"))
    }),
    // ✓ truncated exponential moving average (r6): halflife-one EWM over
    // the last 8 samples per user. Weights are powers of two (128..1) and
    // values are e2 fixed point (the fixture has exactly 2dp), so the
    // numerator/denominator are exact BIGINTs and the quotient is taken
    // with half-up INTEGER division — warm-up denominators are EVEN
    // (128..254), i.e. exactly the half-point class where round(double)
    // diverges across engines (r6 burn-rate lesson). The 8-term truncation keeps the EWM expressible
    // as a fixed lag() expression tree (no sequential recursion): one
    // user_id shuffle, one window pass, codegen throughout. The residual
    // weight below 2^-8 is under 0.4% — the normalizing denominator
    // (sum of PRESENT weights) removes the warm-up bias a fixed divisor
    // would have on the first 7 rows.
    "pt_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = Tables.events(s, d)
        .withColumn("v", round(col("value") * 100).cast("long"))
      val cols = Seq(col("event_id"), col("user_id"), col("ts"), col("v")) ++
        (1 to 7).map(k => lag(col("v"), k).over(w).as(s"v$k"))
      val lagged = e.select(cols: _*)
      val num = (1 to 7).foldLeft(col("v") * lit(128L)) { (acc, k) =>
        acc + coalesce(col(s"v$k"), lit(0L)) * lit(1L << (7 - k)) }
      val den = (1 to 7).foldLeft(lit(128L): org.apache.spark.sql.Column) {
        (acc, k) =>
          acc + when(col(s"v$k").isNotNull, lit(1L << (7 - k))).otherwise(lit(0L)) }
      lagged
        .select(col("event_id"), col("user_id"), col("ts"),
          num.as("num"), den.as("den"))
        // half-up integer division (den is EVEN on warm-up rows —
        // 128..254 — exactly the 2^a·5^b half-point hazard class)
        .withColumn("ewma_e2", expr("(2 * num + den) div (2 * den)"))
        .select(col("event_id"), col("user_id"), col("ts"), col("ewma_e2"))
        .orderBy(col("event_id"))
    }),
    // ✓ CUSUM drift detection (r6): per-user cumulative sum of deviations
    // from the GLOBAL mean, flagged where the sum rises > 500.00 above its
    // running minimum — the classic one-sided change-point detector.
    // Everything stays in exact e2 BIGINTs: the global mean is an integer
    // sum/count (order-independent) broadcast as a one-row frame, the
    // cumsum is an integer running window, and the drift flag compares
    // integers — no float crosses an engine boundary. One user_id shuffle,
    // two stacked running-window passes over the same sort.
    "pt_cusum" -> ((s, d) => {
      val v = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("v"))
      // half-up integer mean (not round(sum/count): a 2^a·5^b count puts
      // the ratio exactly on the rounding grid — the r6 burn-rate bug)
      // global agg: guard the empty-input count like dq_profile/q22 —
      // zero events would otherwise be an ANSI div-by-zero abort
      val m = v.agg(
        expr("CASE WHEN count(1) > 0 THEN (2 * sum(cast(v as decimal(38,0)))" +
          " + count(1)) div (2 * count(1)) END").as("mean_e2"))
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.crossJoin(broadcast(m))
        .withColumn("cusum_e2", sum(col("v") - col("mean_e2")).over(run))
        .withColumn("drift",
          col("cusum_e2") - min(col("cusum_e2")).over(run) > lit(50000L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("cusum_e2"), col("drift"))
        .orderBy(col("event_id"))
    }),
    // ✓ hourly OHLC bars (r6): open/high/low/close + count per
    // (event_type, hour) — the standard time-series bar rollup. First/last
    // are taken via row_number over a TOTAL (ts, event_id) order rather
    // than min_by/arg_min, so ties can never make the bar
    // engine-dependent, and values pass through untouched (no arithmetic
    // → no float boundary). Both row_number windows and the groupBy share
    // one (event_type, hour) shuffle: the second window re-sorts within
    // partitions and the aggregate sees its clustering already satisfied.
    "pt_ohlc" -> ((s, d) => {
      val bar = date_trunc("hour", col("ts"))
      val wa = Window.partitionBy(col("event_type"), col("bar"))
        .orderBy(col("ts"), col("event_id"))
      val wd = Window.partitionBy(col("event_type"), col("bar"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("bar", bar)
        .withColumn("ra", row_number().over(wa))
        .withColumn("rd", row_number().over(wd))
        .groupBy(col("event_type"), col("bar"))
        .agg(
          max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .reportSort(col("event_type"), col("bar"))
    }),
    // ✓ local-maximum peak detection (r6): events strictly above both
    // neighbors in the per-user series — the simplest telemetry peak
    // picker (spike counting, cycle detection upstream). Boundary rows
    // (no prev/next) are by definition not peaks. One user_id shuffle,
    // one window pass, raw values pass through.
    "pt_peak_detect" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("nv", lead(col("value"), 1).over(w))
        .filter(col("pv").isNotNull && col("nv").isNotNull &&
          col("value") > col("pv") && col("value") > col("nv"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .orderBy(col("event_id"))
    }),
    // ✓ Apdex score (r6): per event_type, satisfied (≤T=100) and
    // tolerating (≤4T=400) counts and the standard
    // (satisfied + tolerating/2) / total score — the canonical
    // latency-SLO rollup. The counts are exact integers and the score is
    // an e6 micro-score from half-up INTEGER division (apdex = (2·sat +
    // tol)/(2n), so e6 = ((2·sat+tol)·10⁶ + n) div (2n)) — round() of an
    // integer-ratio double is banned since r6's pt_burn_rate half-point
    // flip (2^a·5^b denominators land exactly on the grid).
    // Map-side-combinable conditional sums — two-phase hash agg.
    "pt_apdex" -> ((s, d) => {
      val sat = sum(when(col("value") <= 100.0, 1L).otherwise(0L))
      val tol = sum(when(col("value") > 100.0 && col("value") <= 400.0, 1L)
        .otherwise(0L))
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sat.as("satisfied"), tol.as("tolerating"),
          count(lit(1)).as("n"))
        // count·10⁶ products lifted to DECIMAL(38,0): 2·n·10⁶ passes the
        // BIGINT ceiling near 4.6e12 rows per group (q8 rule)
        .withColumn("apdex_e6",
          expr("((2 * cast(satisfied as decimal(38,0)) + tolerating)" +
            " * 1000000 + n) div (2 * n)"))
        .reportSort(col("event_type"))
    }),
    // ✓ hourly latency percentiles (r9): the p50/p95/p99-per-hour board
    // every SLI dashboard renders. EXACT per-group percentile (buffers one
    // group's values) — the declared bounded-memory path at 100 TB is the
    // mergeable sketch (agg_approx_percentile); same plan shape, hour+type
    // grouping keeps groups to one hour of one event type.
    "pt_hourly_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        .reportSort(col("hour"), col("event_type"))
    }),
    // ✓ SLI heatmap (r9): hour-of-day × value-bucket 2-D histogram — the
    // latency-over-the-day heat grid. One two-key hash agg; bucket edges
    // are IEEE-identical on both engines (same double divide + floor, the
    // agg_histogram discipline).
    "pt_sli_heatmap" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(hour(col("ts")).as("hod"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .reportSort(col("hod"), col("bucket"))
    }),
    // ✓ moving median (r6): 5-row centered median per user — the robust
    // denoise filter (median rejects spikes a moving MEAN averages in).
    // Spark has no median window function, so the frame is materialized
    // with collect_list + sort_array and the middle taken explicitly —
    // for even (boundary-clipped) frames the two middles average, which
    // is the oracle's interpolation rule. No aggregation arithmetic: the
    // only float op is one two-value average, deterministic both engines.
    // The 5-element frame list is O(1) per row; one user_id shuffle.
    "pt_moving_median" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 2)
      Tables.events(s, d)
        .withColumn("vals", sort_array(collect_list(col("value")).over(w)))
        .withColumn("k", size(col("vals")))
        .withColumn("med",
          when(col("k") % 2 === 1,
            element_at(col("vals"), expr("(k + 1) div 2").cast("int")))
          .otherwise((element_at(col("vals"), expr("k div 2").cast("int")) +
            element_at(col("vals"), expr("k div 2 + 1").cast("int"))) / 2.0))
        .select(col("event_id"), col("user_id"), col("ts"), col("med"))
        .orderBy(col("event_id"))
    }),
    // ✓ seasonal-baseline anomaly detection (r6): the hour-of-day profile
    // per event_type (5 types × 24 hours = 120 baseline rows) broadcast
    // back over the stream; events deviating > 300.00 from their seasonal
    // mean are flagged. The upgrade over pt_anomaly_zscore's global
    // stats: a nightly batch job IS anomalous at noon. Means stay exact
    // e2 integers (sum/count, order-free), deviations exact — no float
    // crosses the engine boundary. One (type, hod) agg + broadcast join.
    "pt_seasonal_baseline" -> ((s, d) => {
      val v = Tables.events(s, d).select(col("event_id"), col("event_type"),
        hour(col("ts")).as("hod"),
        round(col("value") * 100).cast("long").as("v"))
      // half-up integer mean — same e2 discipline as pt_cusum (a
      // round()'d double mean flips on 2^a·5^b group counts)
      val m = v.groupBy(col("event_type"), col("hod"))
        .agg(expr("(2 * sum(cast(v as decimal(38,0))) + count(1))" +
          " div (2 * count(1))").as("mean_e2"))
      v.join(broadcast(m), Seq("event_type", "hod"))
        .select(col("event_id"), col("event_type"), col("hod"),
          (col("v") - col("mean_e2")).as("dev_e2"),
          (abs(col("v") - col("mean_e2")) > 30000L).as("anomalous"))
        .orderBy(col("event_id"))
    }),
    // ✓ multi-window SLO burn rate (r6) — the SRE alerting recipe: page
    // only when BOTH a fast window (1h error rate > 25%) and a slow
    // window (trailing-6h rate > 20%) burn, so a blip can't page but a
    // sustained burn pages fast. The trailing window is a RANGE frame
    // over the hour NUMBER (gap-robust: a missing hour narrows the
    // window rather than silently stretching it to 6 buckets of
    // arbitrary age). Scale: the global window runs AFTER hourly
    // aggregation, so its input is |calendar hours| (8.8k/year) no
    // matter the event volume — the one acceptable unpartitioned window
    // shape. Rates are e6 micro-rates from half-up INTEGER division —
    // (errs*2e6 + total) div (2*total) — because round() of an
    // integer-ratio double lands on exact half-points whenever total is
    // 2^a*5^b (r6: total=128 flipped 6 rows under a half-to-even DuckDB
    // build). The alert compares RAW integers (errs*4 > total AND
    // errs6*5 > total6), so no float exists anywhere in the query.
    "pt_burn_rate" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
        .select(col("w.start").as("hour"),
          expr("unix_timestamp(w.start) div 3600").as("hr"),
          col("total"), col("errs"))
      val w6 = Window.orderBy(col("hr")).rangeBetween(-5, 0)
      hourly
        .withColumn("errs6", sum(col("errs")).over(w6))
        .withColumn("total6", sum(col("total")).over(w6))
        .withColumn("rate_1h_e6",
          expr("(errs * 2000000 + total) div (2 * total)"))
        .withColumn("rate_6h_e6",
          expr("(errs6 * 2000000 + total6) div (2 * total6)"))
        .select(col("hour"), col("total"), col("errs"), col("rate_1h_e6"),
          col("rate_6h_e6"),
          (col("errs") * 4 > col("total") &&
            col("errs6") * 5 > col("total6")).as("burn_alert"))
        .reportSort(col("hour"))
    }),
    // ✓ per-user running event-type histogram (r6) — each event annotated
    // with "how many of THIS type has this user produced so far" and the
    // user's running total. The declared batch twin of the streaming
    // MapState pipeline (Pipelines.typeHistogram): both windows share ONE
    // user_id shuffle; (ts, event_id) makes the order total (event_id
    // unique).
    // ✓ funnel latency (r6) — time from first view to first purchase per
    // user: the "how fast do users convert" twin of pt_funnel's "how
    // many". One grouped pass (conditional min — never per-stage scans);
    // latency in whole seconds via INTEGER division of exact epoch-µs
    // (a double divide would straddle engines on fractional seconds);
    // converted is coalesce'd so no three-valued NULL leaks into the flag.
    "pt_time_to_convert" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .withColumn("converted", coalesce(
          col("first_view").isNotNull && col("first_purchase") > col("first_view"),
          lit(false)))
        .withColumn("latency_s", when(col("converted"),
          expr("(unix_micros(first_purchase) - unix_micros(first_view)) div 1000000")))
        .orderBy(col("user_id"))
    }),
    "pt_type_running_hist" -> ((s, d) => {
      val byType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          count(lit(1)).over(byType).as("n_type"),
          count(lit(1)).over(byUser).as("n_seen"))
        .orderBy(col("user_id"), col("event_id"))
    })
  )

  /** Gap-based 30-min sessions: lag + cumulative-sum of gap>1800s flags.
    * Boundary semantics — verified empirically against `session_window`
    * (StreamingSpec "session boundary" test): Spark MERGES an event whose
    * gap is exactly the session timeout (per-event windows [ts, ts+gap)
    * are unioned when adjacent-or-overlapping, so an event landing exactly
    * on the previous window's end extends the session). Hence the split
    * predicate is strictly `gap > 1800`, matching both `session_window`
    * and the DuckDB oracle twin below. `sec` is the µs-exact epoch-seconds
    * double (cast of the µs-truncated ts), so both engines compute gaps
    * over identical values.
    */
  def sessionize(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("sec", col("ts").cast("double"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(wOrd))
      .withColumn("session_id",
        sum(when(col("gap").isNull || col("gap") > 1800.0, 1).otherwise(0)).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Events range-partitioned on `user_id` once: the window, the
    * per-session aggregate and the final `(user_id, session_id)` order all
    * read that one exchange. Its bounds sampler reads the scan, not the
    * window; at cluster scale that is one more pass over the events. */
  private def sessions(s: org.apache.spark.sql.SparkSession, d: String) =
    sessionize(Tables.events(s, d).repartitionByRange(col("user_id")))

  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** DuckDB twin of `sessions`. */
  private val SESS =
    s"""(SELECT user_id, ts, event_id, value,
       |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
       |  sec
       | FROM (SELECT *, epoch(ts) AS sec,
       |         epoch(ts) - lag(epoch(ts), 1)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
       |       FROM $EV) g)""".stripMargin

  def oracle: Map[String, String] = Map(
    "pt_value_drift" ->
      """WITH c AS (SELECT event_type AS source,
        |             CAST(floor(value / 10) AS BIGINT) AS b, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT b, CAST(sum(n) AS BIGINT) AS gn FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(gn) AS BIGINT) AS gt, count(*) AS nb FROM g),
        |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS sn_tot FROM c GROUP BY 1),
        |grid AS (SELECT s.source, g.b, g.gn, coalesce(c.n, 0) AS sn
        |         FROM (SELECT DISTINCT source FROM c) s
        |         CROSS JOIN g LEFT JOIN c ON c.source = s.source AND c.b = g.b),
        |terms AS (
        |  SELECT grid.source, sn_tot,
        |    CAST(round((((sn + 1e0) / (sn_tot + nb) - (gn + 1e0) / (gt + nb)) *
        |                ln(((sn + 1e0) / (sn_tot + nb)) /
        |                   ((gn + 1e0) / (gt + nb)))) * 1000000) AS BIGINT)
        |      AS term_e6
        |  FROM grid JOIN st ON st.source = grid.source CROSS JOIN tot)
        |SELECT source AS event_type, sn_tot AS n_events,
        |  CAST(sum(term_e6) AS BIGINT) AS psi_e6,
        |  CAST(sum(term_e6) AS BIGINT) > 250000 AS drifted
        |FROM terms GROUP BY source, sn_tot ORDER BY event_type""".stripMargin,
    "pt_burn_rate" ->
      s"""WITH hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS hr,
        |         count(*) AS total,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS errs
        |  FROM $EV GROUP BY 1, 2),
        |win AS (
        |  SELECT hour, total, errs,
        |         sum(errs) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING
        |                         AND CURRENT ROW) AS errs6,
        |         sum(total) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING
        |                          AND CURRENT ROW) AS total6
        |  FROM hourly)
        |SELECT hour, total, errs,
        |       CAST((errs * 2000000 + total) // (2 * total) AS BIGINT)
        |         AS rate_1h_e6,
        |       CAST((CAST(errs6 AS BIGINT) * 2000000 + total6)
        |            // (2 * CAST(total6 AS BIGINT)) AS BIGINT) AS rate_6h_e6,
        |       errs * 4 > total
        |         AND CAST(errs6 AS BIGINT) * 5 > CAST(total6 AS BIGINT)
        |         AS burn_alert
        |FROM win ORDER BY hour""".stripMargin,
    "pt_time_to_convert" ->
      s"""WITH per AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM $EV GROUP BY 1)
        |SELECT user_id, first_view, first_purchase,
        |       coalesce(first_view IS NOT NULL
        |                AND first_purchase > first_view, false) AS converted,
        |       CASE WHEN coalesce(first_view IS NOT NULL
        |                          AND first_purchase > first_view, false)
        |            THEN (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000
        |            END AS latency_s
        |FROM per ORDER BY user_id""".stripMargin,
    "pt_type_running_hist" ->
      s"""SELECT user_id, event_id, ts, event_type,
        |       count(*) OVER (PARTITION BY user_id, event_type
        |                      ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS n_type,
        |       count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS n_seen
        |FROM $EV ORDER BY user_id, event_id""".stripMargin,
    "pt_threshold_alerts" ->
      s"""SELECT event_id, event_type, round(value, 2) AS value
        |FROM $EV e JOIN (VALUES ('click', 300.0), ('view', 310.0), ('purchase', 290.0),
        |                        ('signup', 280.0), ('error', 250.0)) t(event_type, thr)
        |USING (event_type)
        |WHERE value > thr ORDER BY event_id""".stripMargin,
    "pt_tumbling_1h" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_val
        |FROM $EV GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin,
    "pt_sliding_1h_15m" ->
      s"""SELECT make_timestamp(((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900) * 1000000) AS hop_start,
        |       event_type, count(*) AS n, round(sum(value), 2) AS sum_val
        |FROM $EV e CROSS JOIN (VALUES (0), (1), (2), (3)) hops(k)
        |GROUP BY hop_start, event_type ORDER BY hop_start, event_type""".stripMargin,
    "pt_sessionize" ->
      s"""SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM $SESS GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "pt_trip_stats" ->
      s"""SELECT user_id, session_id, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_val, round(avg(value), 6) AS avg_val,
        |       round(max(sec) - min(sec), 6) AS duration_s
        |FROM $SESS GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "pt_anomaly_zscore" ->
      s"""SELECT event_id, e.event_type, round(value, 2) AS value,
        |       round((value - mu) / sigma, 6) AS z,
        |       abs(round((value - mu) / sigma, 6)) > 3.0 AS is_anomaly
        |FROM $EV e JOIN (
        |  SELECT event_type, round(avg(value), 6) AS mu,
        |         round(stddev_samp(value), 6) AS sigma
        |  FROM events GROUP BY event_type) st
        |ON e.event_type = st.event_type
        |ORDER BY event_id""".stripMargin,
    "pt_session_native" ->
      s"""SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_val
        |FROM $SESS GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "pt_daily_pivot" ->
      s"""SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM $EV GROUP BY day ORDER BY day""".stripMargin,
    "pt_rate_of_change" ->
      s"""WITH w AS (
        |  SELECT event_id, user_id, ts, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
        |  FROM $EV)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN pt IS NULL OR epoch_us(ts) - epoch_us(pt) = 0 THEN NULL
        |       ELSE (value - pv) * 1e6 / (epoch_us(ts) - epoch_us(pt)) END AS dv_dt
        |FROM w ORDER BY event_id""".stripMargin,
    "pt_downsample" ->
      s"""SELECT event_id, user_id, ts, value, rn FROM (
        |  SELECT event_id, user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM $EV) t
        |WHERE (rn - 1) % 10 = 0 ORDER BY event_id""".stripMargin,
    "pt_funnel" ->
      s"""WITH a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |             OVER (PARTITION BY user_id) AS t_view FROM $EV),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
        |        OVER (PARTITION BY user_id) AS t_click FROM a),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
        |        OVER (PARTITION BY user_id) AS t_purchase FROM b),
        |u AS (SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
        |        max(t_purchase) AS t_purchase FROM c GROUP BY user_id)
        |SELECT count(t_view) AS n_view, count(t_click) AS n_click_after_view,
        |       count(t_purchase) AS n_purchase_after_click FROM u""".stripMargin,
    "pt_gap_fill" ->
      s"""WITH ag AS (
        |  SELECT user_id,
        |    make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 * 1000000) AS bucket,
        |    count(*) AS n, round(avg(value), 6) AS v
        |  FROM $EV GROUP BY user_id, bucket),
        |sp AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(bucket), max(bucket), INTERVAL 6 HOUR)) AS bucket
        |  FROM ag GROUP BY user_id)
        |SELECT sp.user_id, sp.bucket, coalesce(n, 0) AS n_events,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY sp.user_id ORDER BY sp.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_val_ff
        |FROM sp LEFT JOIN ag ON sp.user_id = ag.user_id AND sp.bucket = ag.bucket
        |ORDER BY sp.user_id, sp.bucket""".stripMargin,
    "pt_interp_linear" ->
      s"""WITH ag AS (
        |  SELECT user_id,
        |    make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 * 1000000) AS bucket,
        |    (2 * CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) * 10000
        |     + count(*)) // (2 * count(*)) AS v
        |  FROM $EV GROUP BY user_id, bucket),
        |sp AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(bucket), max(bucket), INTERVAL 6 HOUR)) AS bucket
        |  FROM ag GROUP BY user_id),
        |j AS (
        |  SELECT sp.user_id, sp.bucket, v,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN sp.bucket END IGNORE NULLS) OVER wb AS pb,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN sp.bucket END IGNORE NULLS) OVER wf AS nb
        |  FROM sp LEFT JOIN ag ON sp.user_id = ag.user_id AND sp.bucket = ag.bucket
        |  WINDOW wb AS (PARTITION BY sp.user_id ORDER BY sp.bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY sp.user_id ORDER BY sp.bucket
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, bucket,
        |  CASE WHEN v IS NOT NULL THEN v
        |       ELSE (2 * (pv * CAST(epoch(nb) - epoch(bucket) AS BIGINT)
        |                  + nv * CAST(epoch(bucket) - epoch(pb) AS BIGINT))
        |             + CAST(epoch(nb) - epoch(pb) AS BIGINT))
        |            // (2 * CAST(epoch(nb) - epoch(pb) AS BIGINT))
        |       END AS v_interp_e6
        |FROM j ORDER BY user_id, bucket""".stripMargin,
    "pt_winsorize" ->
      s"""SELECT e.event_type, count(*) AS n,
        |  (2 * CAST(sum(CAST(round(value * 100) AS BIGINT) * 10000) AS BIGINT)
        |   + count(*)) // (2 * count(*)) AS avg_raw_e6,
        |  (2 * CAST(sum(least(greatest(
        |         CAST(round(value * 100) AS BIGINT) * 10000, p05_e6), p95_e6))
        |       AS BIGINT)
        |   + count(*)) // (2 * count(*)) AS avg_winsor_e6
        |FROM $EV e JOIN (
        |  SELECT event_type,
        |         CAST(round(round(quantile_cont(value, 0.05), 6) * 1e6) AS BIGINT)
        |           AS p05_e6,
        |         CAST(round(round(quantile_cont(value, 0.95), 6) * 1e6) AS BIGINT)
        |           AS p95_e6
        |  FROM $EV GROUP BY event_type) q USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "pt_hysteresis" ->
      s"""WITH a AS (
        |  SELECT *, CASE WHEN value >= 200.0 THEN 1
        |                 WHEN value <= 50.0 THEN 0 END AS raw
        |  FROM $EV),
        |b AS (
        |  SELECT *, coalesce(last_value(raw IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING), 0) AS state
        |  FROM a),
        |c AS (
        |  SELECT *, coalesce(lag(state) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), 0) AS prev
        |  FROM b)
        |SELECT user_id, event_id, ts, round(value, 2) AS value
        |FROM c WHERE state = 1 AND prev = 0
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "pt_retention" ->
      s"""WITH ev AS (
        |  SELECT user_id, date_trunc('day', ts) AS day FROM $EV),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_day, count(*) AS cohort_n FROM f GROUP BY cohort_day),
        |act AS (
        |  SELECT cohort_day,
        |         CAST(CAST(day AS DATE) - CAST(cohort_day AS DATE) AS INTEGER)
        |           AS day_offset,
        |         count(DISTINCT ev.user_id) AS n_active
        |  FROM ev JOIN f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, day_offset, n_active,
        |       (n_active * 2000000 + cohort_n) // (2 * cohort_n) AS retention_e6
        |FROM act JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "pt_ewma" ->
      s"""WITH v AS (
        |  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS v
        |  FROM $EV),
        |l AS (
        |  SELECT event_id, user_id, ts, v,
        |    lag(v,1) OVER w AS v1, lag(v,2) OVER w AS v2, lag(v,3) OVER w AS v3,
        |    lag(v,4) OVER w AS v4, lag(v,5) OVER w AS v5, lag(v,6) OVER w AS v6,
        |    lag(v,7) OVER w AS v7
        |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ts,
        |  (2 * (v*128 + coalesce(v1,0)*64 + coalesce(v2,0)*32
        |    + coalesce(v3,0)*16 + coalesce(v4,0)*8 + coalesce(v5,0)*4
        |    + coalesce(v6,0)*2 + coalesce(v7,0)*1)
        |   + (128 + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
        |      + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END))
        |  // (2 * (128 + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
        |      + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END)) AS ewma_e2
        |FROM l ORDER BY event_id""".stripMargin,
    "pt_hourly_percentiles" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM $EV GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pt_sli_heatmap" ->
      s"""SELECT CAST(hour(ts) AS INTEGER) AS hod,
        |  CAST(floor(value / 50.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM $EV GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pt_cusum" ->
      s"""WITH v AS (
        |  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS v
        |  FROM $EV),
        |m AS (
        |  SELECT CASE WHEN count(*) > 0 THEN
        |      (2 * CAST(sum(v) AS BIGINT) + count(*)) // (2 * count(*)) END
        |    AS mean_e2 FROM v),
        |cs AS (
        |  SELECT event_id, user_id, ts,
        |    sum(v - mean_e2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM v, m)
        |SELECT event_id, user_id, ts, CAST(cusum AS BIGINT) AS cusum_e2,
        |  cusum - min(cusum) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 50000 AS drift
        |FROM cs ORDER BY event_id""".stripMargin,
    "pt_ohlc" ->
      s"""WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bar, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM $EV)
        |SELECT event_type, bar,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pt_peak_detect" ->
      s"""WITH w AS (
        |  SELECT event_id, user_id, ts, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
        |    lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nv
        |  FROM $EV)
        |SELECT event_id, user_id, ts, value
        |FROM w
        |WHERE pv IS NOT NULL AND nv IS NOT NULL AND value > pv AND value > nv
        |ORDER BY event_id""".stripMargin,
    "pt_apdex" ->
      s"""SELECT event_type,
        |  CAST(sum(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS satisfied,
        |  CAST(sum(CASE WHEN value > 100.0 AND value <= 400.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tolerating,
        |  count(*) AS n,
        |  ((2 * CAST(sum(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    + CAST(sum(CASE WHEN value > 100.0 AND value <= 400.0
        |               THEN 1 ELSE 0 END) AS BIGINT)) * 1000000 + count(*))
        |    // (2 * count(*)) AS apdex_e6
        |FROM $EV GROUP BY event_type ORDER BY event_type""".stripMargin,
    "pt_moving_median" ->
      s"""SELECT event_id, user_id, ts,
        |  median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS med
        |FROM $EV ORDER BY event_id""".stripMargin,
    "pt_seasonal_baseline" ->
      s"""WITH v AS (
        |  SELECT event_id, event_type, CAST(hour(ts) AS INTEGER) AS hod,
        |    CAST(round(value*100) AS BIGINT) AS v FROM $EV),
        |m AS (
        |  SELECT event_type, hod,
        |    (2 * CAST(sum(v) AS BIGINT) + count(*)) // (2 * count(*))
        |      AS mean_e2
        |  FROM v GROUP BY 1, 2)
        |SELECT event_id, v.event_type, v.hod, v - mean_e2 AS dev_e2,
        |  abs(v - mean_e2) > 30000 AS anomalous
        |FROM v JOIN m USING (event_type, hod) ORDER BY event_id""".stripMargin
  )
}
