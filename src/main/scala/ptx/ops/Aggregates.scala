package ptx.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** G4 — aggregation surface (SURVEY.md §2 G4).
  *
  * Scale notes (100 TB): every groupBy here compiles to Spark's two-phase
  * hash aggregate (partial map-side combine, then final after one shuffle on
  * the grouping key) — the shape that scales linearly with executors.
  * `countDistinct` expands to the 2-shuffle exact plan; at 100 TB prefer the
  * declared `agg_approx_distinct` (HLL, single pass, mergeable sketches).
  * Rounding of double aggregates is part of the oracle-parity discipline
  * (FIXTURES.md), not presentation.
  */
object Aggregates {

  /** `cast(round(y) as bigint)` without `round`'s per-row `BigDecimal`:
    * below 2^52 every k + 0.5 is an exact double and `y - floor(y)` is
    * exact, so half-up on the magnitude with the sign restored is the same
    * value bit for bit. NaN, ±∞ and larger magnitudes take `round`. */
  private[ptx] def roundToLong(y: Column): Column = {
    val a = abs(y)
    val up = floor(a) + (a - floor(a) >= 0.5).cast("long")
    when(a < 4503599627370496.0, when(y < 0, -up).otherwise(up))
      .otherwise(round(y).cast("long"))
  }

  /** `x` in BIGINT cents: `cast(round(x * 100) as bigint)`. */
  private[ptx] def cents(x: Column): Column = roundToLong(x * 100)

  def queries: Map[String, QFn] = Map(
    "agg_global" -> ((s, d) => {
      // avg_disc_e6: e6 micro-mean via half-up integer division over the
      // exact e2 sum — round(avg) of fixed-point data ties whenever the
      // reduced sum/count denominator is 2^(d+1) (r7 half-point sweep).
      // Summed as DECIMAL(38,0) (q8 discipline): 2·sum(e2)·10⁴ in BIGINT
      // overflows near 8.7e7 rows and ANSI mode ABORTS — far below the
      // 100 TB design point; `div` accepts decimal operands, returns long.
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        expr("CASE WHEN count(1) > 0 THEN" +
          " (2 * sum(cast(round(l_discount * 100) as decimal(38,0))) * 10000" +
          " + count(1)) div (2 * count(1)) END").as("avg_disc_e6"))
    }),
    "agg_pricing_summary" -> ((s, d) => {
      // Every sum is exact, so the output does not depend on the rows'
      // addition order: quantity, price, discount and tax as BIGINT cents,
      // the discounted and charged prices from their e4 and e6 cent
      // products. Each product is summed as two BIGINT limbs (bits 20+ and
      // the low 20 bits), joined per group in DECIMAL(38,0); the e2 means
      // widen their BIGINT sums to DECIMAL(38,0) for the ×2·10⁴ scaling.
      // Headroom: at the fixture's mean l_extendedprice (5.3e6 in e2) the
      // BIGINT price sum overflows past ≈1.7e12 rows, about 3× lineitem at
      // SF 100 000 (6e11 rows); with every row at the 1.05e7 maximum, past
      // 8.8e11. A low limb is below 2^20 and a high limb at most
      // 1.05e7·100·108 / 2^20 ≈ 1.1e5, so the limb sums hold past 8.8e12
      // rows. ANSI mode aborts on overflow; it never wraps.
      def limbSum(x: Column) =
        sum(shiftright(x, 20)).cast("decimal(38,0)") * 1048576 + sum(x.bitwiseAND(1048575))
      def meanE6(c: String) =
        expr(s"(2 * cast(sum($c) as decimal(38,0)) * 10000 + count(1)) div (2 * count(1))")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("q"), cents(col("l_extendedprice")).as("p"),
          cents(col("l_discount")).as("dc"), cents(col("l_tax")).as("t"))
        .withColumn("p_e4", col("p") * (lit(100) - col("dc")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(col("q")) / 100.0).as("sum_qty"),
          (sum(col("p")) / 100.0).as("sum_base_price"),
          round(limbSum(col("p_e4")) / 10000, 2).cast("double").as("sum_disc_price"),
          round(limbSum(col("p_e4") * (lit(100) + col("t"))) / 1000000, 2)
            .cast("double").as("sum_charge"),
          meanE6("q").as("avg_qty_e6"),
          meanE6("p").as("avg_price_e6"),
          meanE6("dc").as("avg_disc_e6"),
          count(lit(1)).as("count_order"))
        .reportSort(col("l_returnflag"), col("l_linestatus"))
    }),
    "agg_count_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .reportSort(col("event_type"))
    }),
    "agg_conditional" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(lit(0.0))), 2).as("pos_bal"),
          count(when(col("c_mktsegment") === "BUILDING", lit(1))).as("n_building"),
          // negative balances: half-AWAY-FROM-ZERO via negated
          // non-negative half-up integer division (keeps div/​// operand
          // signs identical across engines)
          expr("""CASE WHEN count(CASE WHEN c_acctbal < 0 THEN 1 END) > 0
            | THEN -((2 * -sum(CASE WHEN c_acctbal < 0
            |          THEN cast(round(c_acctbal * 100) as decimal(38,0)) END) * 10000
            |        + count(CASE WHEN c_acctbal < 0 THEN 1 END))
            |       div (2 * count(CASE WHEN c_acctbal < 0 THEN 1 END)))
            | END""".stripMargin).as("avg_neg_e6"))
        .reportSort(col("n_name"))
    }),
    // ✓ boolean aggregates (r6): bool_and / bool_or per group — the SQL
    // EVERY/ANY surface (invariant checks, "did any row spike"). Both are
    // map-side-combinable partial aggregates (AND/OR are associative), so
    // the shape is the standard two-phase hash agg.
    "agg_bool" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(bool_and(col("value") < 400.0).as("all_below"),
          bool_or(col("value") > 450.0).as("any_spike"),
          count(lit(1)).as("n"))
        .reportSort(col("event_type"))
    }),
    "agg_having" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice")), 2).as("total"), count(lit(1)).as("n"))
        .filter(col("total") > 1000000.0)
        .orderBy(col("l_suppkey"))
    }),
    "agg_rollup" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d); val r = Tables.region(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .reportSort(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),
    "agg_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .reportSort(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "agg_grouping_sets" -> ((s, d) => {
      val v = s"ev_gs_${math.abs(d.hashCode)}" // per-dir name: no rebind race
      Tables.events(s, d)
        .select(col("event_type"), (col("user_id") % 10).as("bucket"))
        .createOrReplaceTempView(v)
      s.sql(
        s"""SELECT event_type, bucket, grouping(event_type) AS g_type,
          |       grouping(bucket) AS g_bucket, count(*) AS n
          |FROM $v
          |GROUP BY GROUPING SETS ((event_type), (bucket), ())
          |ORDER BY g_type, g_bucket,
          |         event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin)
    }),
    "agg_stats" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("cov_pq"))
        .reportSort(col("l_returnflag"))
    }),
    // ✓ linear-regression aggregates (r6): slope/intercept/R²/mean-x/
    // mean-y of extendedprice ~ quantity per returnflag — the one-pass
    // OLS stats family. Each regr_* compiles into the same fused
    // two-phase hash aggregate as sum/avg (partial moments map-side, one
    // shuffle), NOT a join of separately-computed moments.
    "agg_regression" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("regr_count(l_extendedprice, l_quantity)").cast("long").as("n_pairs"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          round(expr("regr_avgx(l_extendedprice, l_quantity)"), 6).as("avg_x"),
          round(expr("regr_avgy(l_extendedprice, l_quantity)"), 6).as("avg_y"))
        .reportSort(col("l_returnflag"))
    }),
    // ✓ ordered string aggregation (r6): the LISTAGG / string_agg shape.
    // Deterministic by construction — set → sort → join — because
    // collect_set/collect_list order is partition-layout-dependent; an
    // unordered string_agg would be the §2.1(7) trap in disguise.
    "agg_string_concat" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n"))
        .reportSort(col("o_orderpriority"))
    }),
    // r18: the window formulation of the SAME exact percentiles (see
    // ExactPercentiles — bit-identical interpolation, OperatorSpec-pinned;
    // 1.9 s → the built-in buffered the whole column in one task's hash map)
    "agg_percentile" -> ((s, d) => {
      ExactPercentiles.groupPercentiles(
          Tables.orders(s, d), Seq("o_orderstatus"), "o_totalprice",
          Seq(0.5 -> "m_raw", 0.9 -> "p_raw"))
        .select(col("o_orderstatus"),
          round(col("m_raw"), 6).as("median"),
          round(col("p_raw"), 6).as("p90"))
        .reportSort(col("o_orderstatus"))
    }),
    // ✓ DISCRETE percentiles (r6): SQL-standard percentile_disc — the
    // smallest actual data value whose cumulative distribution ≥ p. The
    // result is always a real element, never an interpolated float, so
    // the oracle compares exactly with no rounding discipline at all.
    // Oracle side avoids DuckDB's quantile_disc (its index rule differs
    // from the standard) and instead encodes the definition directly via
    // cume_dist.
    // r18: the window formulation of the same discrete percentiles (see
    // ExactPercentiles.groupPercentilesDisc — the oracle's own cume_dist
    // definition, OperatorSpec-pinned vs the built-in on the fixtures)
    "agg_percentile_disc" -> ((s, d) => {
      ExactPercentiles.groupPercentilesDisc(
          Tables.orders(s, d), Seq("o_orderstatus"), "o_totalprice",
          Seq(0.5 -> "median_disc", 0.9 -> "p90_disc", 0.99 -> "p99_disc"))
        .reportSort(col("o_orderstatus"))
    }),
    "agg_collect_sorted" -> ((s, d) => {
      val sup = Tables.supplier(s, d); val n = Tables.nation(s, d)
      sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"))
        .reportSort(col("n_name"))
    }),
    "agg_histogram" -> ((s, d) => {
      // fixed-width value histogram: arithmetic binning (width_bucket is
      // not portable to the oracle dialect); empty bins are absent by
      // construction on both engines
      Tables.events(s, d)
        .groupBy(floor(col("value") / 25.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          expr("(2 * sum(cast(round(value * 100) as decimal(38,0))) * 10000" +
            " + count(1)) div (2 * count(1))").as("bin_avg_e6"))
        .reportSort(col("bin"))
    }),
    // ◌ no oracle: sketch quantiles are engine-specific; unit-tested
    // against the exact percentile within the declared accuracy. This is
    // the 100 TB path — exact `percentile` buffers every value per group,
    // the sketch is bounded-memory and mergeable.
    "agg_approx_percentile" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("median_approx"),
          expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90_approx"))
        .reportSort(col("o_orderstatus"))
    }),
    // ◌ no oracle: HLL sketch values are engine-specific; unit-tested vs
    // exact ±5% instead (SURVEY §2 G4).
    "agg_approx_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .reportSort(col("event_type"))
    }),
    // ◌ no oracle: Datasketches HLL binary is engine-specific; unit-tested
    // vs exact ±5%. Unlike approx_count_distinct (whose sketch lives only
    // inside one aggregation), hll_sketch_agg EXPOSES the sketch as a
    // column — the persistable form: store one sketch per partition/day
    // and union later without rescanning (see agg_hll_union).
    "agg_hll_sketch" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_users"))
        .reportSort(col("event_type"))
    }),
    // ◌ no oracle (same reason). The incremental-stats pattern at 100 TB:
    // per-day sketches (what a daily job would persist) merged by
    // hll_union_agg into the whole-period distinct estimate — the union costs
    // |days| sketch buffers, not a rescan of the corpus, and is exactly
    // how cross-partition/cross-table rollups stay one-pass.
    "agg_hll_union" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      daily.agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users_union"))
    }),
    // ✓ EXACT distributed distinct via bitmap aggregation: bucketize the id
    // space (32k bits/bucket), build one compressed bitmap per (group,
    // bucket) with map-side partials, then count bits. Same semantics as
    // agg_count_distinct (same oracle), different physical strategy: the
    // shuffle carries fixed-width bitmaps instead of countDistinct's
    // expanded (group, id) rows, and the per-bucket bitmaps are
    // persistable/mergeable via bitmap_or_agg — the exact sibling of the
    // HLL sketch pair for id-typed keys.
    "agg_bitmap_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .reportSort(col("event_type"))
    }),
    // ✓ mode with a deterministic tiebreak: the modal l_quantity per
    // returnflag, smallest value winning ties. Spark's built-in `mode()`
    // is explicitly non-deterministic under ties, so the engine pins the
    // tiebreak with the count-then-rank formulation: a two-phase hash
    // aggregate over (flag, qty) — tiny result — then a row_number over
    // that frame. At 100 TB the corpus-sized work is all in the first
    // aggregate (map-side combinable); the window runs on |distinct qty|
    // rows per group.
    "agg_mode_tiebreak" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("l_quantity"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt").as("n"))
        .reportSort(col("l_returnflag"))
    }),
    // ✓ skew-resistant two-phase aggregation: pre-aggregate on
    // (key, salt) so a pathologically hot key (event_type has only 5
    // values — at 100 TB each is ~20 TB of rows) fans out over 16
    // reducers before the final 5-row merge. Same result as the plain
    // groupBy (the oracle IS the plain groupBy): salting redistributes
    // sum/count partials, which re-merge exactly. The salt comes from
    // murmur3(event_id) — engine-specific, but it never reaches the
    // result. Double sums are rounded AFTER the final merge (2dp — the
    // ~1e-9 accumulation-order noise is far below the 5e-3 boundary
    // spacing; avg derives from the rounded sum so both engines divide
    // identical numerators).
    "agg_salted_twophase" -> ((s, d) => {
      val partial = Tables.events(s, d)
        .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(sum(col("value")).as("s"), count(lit(1)).as("c"))
      partial.groupBy(col("event_type"))
        .agg(round(sum(col("s")), 2).as("sum_value"), sum(col("c")).as("n"))
        // avg from the ROUNDED sum's exact e2 integer, half-up int div —
        // identical operands AND identical quotient rule on both engines;
        // decimal(38,0) so the ·10⁴ product cannot overflow-abort (q8 rule)
        .withColumn("avg_value_e6",
          expr("(2 * cast(round(sum_value * 100) as decimal(38,0)) * 10000 + n)" +
            " div (2 * n)"))
        .reportSort(col("event_type"))
    }),
    // ✓ heavy hitters via the Frequent-Items sketch (approx_top_k): per-lang
    // words occurring ≥ 50×. The sketch is EXACT while the tracked-item
    // budget (1024) exceeds the live domain (31 corpus words), so the
    // declared query pins that regime and the oracle is the plain
    // GROUP BY/HAVING — the same result the sketch path must produce.
    // Saturation behavior is unit-tested in OperatorSpec: a budget below
    // the live domain can return an EMPTY estimate on Spark 4.1, so the
    // budget here must stay ≥ the domain (a real deployment sizes it to
    // the expected heavy-hitter vocabulary, not the full tail). The
    // estimate's k=64 is a second exactness bound: the threshold filter
    // runs AFTER the top-64 truncation, so k must stay ≥ the number of
    // items that can meet the threshold (64 ≥ the 31-word domain here —
    // a vocabulary change that grows past 64 qualifying items would
    // silently drop rows the oracle reports).
    // Threshold selection (not rank-k) keeps ties deterministic:
    // equal-count words at a rank boundary would make top-k set choice
    // engine-arbitrary.
    // 100 TB shape: one map-side-combinable sketch per group crosses the
    // shuffle (bounded bytes/group), then the tiny array explodes
    // driver-free into rows.
    "agg_topk_sketch" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"))
        .agg(expr("approx_top_k(word, 64, 1024)").as("tk"))
        .select(col("lang"), explode(col("tk")).as("e"))
        .select(col("lang"), col("e.item").as("item"),
          col("e.count").cast("long").as("cnt"))
        .filter(col("cnt") >= 50)
        .reportSort(col("lang"), col("cnt").desc, col("item"))
    }),
    // ✓ the mergeable form of the same sketch — accumulate per source
    // (what a per-partition job would persist), combine, then estimate the
    // global ≥200× hitters. Like agg_hll_union this is the incremental
    // rollup pattern: re-ranking the whole corpus costs |sources| sketch
    // buffers, not a rescan. Exactness argument as agg_topk_sketch.
    "agg_topk_union" -> ((s, d) => {
      val perSource = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"))
        .agg(expr("approx_top_k_accumulate(word, 1024)").as("sk"))
      perSource
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 1024), 64)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").cast("long").as("cnt"))
        .filter(col("cnt") >= 200)
        .reportSort(col("cnt").desc, col("item"))
    }),
    // ✓ ROLLUP with GROUPING flags (r6) — the disambiguator agg_rollup
    // alone lacks: a NULL group value is indistinguishable from a
    // subtotal row without grouping() (a real warehouse hits this the
    // first time a dimension column is nullable). Flags cast to INT on
    // both engines (Spark returns TINYINT, DuckDB BIGINT).
    "agg_grouping_id" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        // grouping() must live INSIDE the agg — the grouping metadata
        // column doesn't survive past the Aggregate node
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
        .reportSort(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    // ✓ weighted percentile (r6) — no Spark built-in (percentile() weights
    // each ROW equally; percentile_approx has no weight arg). Definition:
    // the weighted p-quantile is the smallest value whose running weight
    // share reaches p — here price weighted by shipped quantity, so a
    // 50-unit lineitem counts 50×. Exactness: weights are integral
    // (quantity rounds to long), the cume compare is INTEGER (cw·10 ≥ p·10·tw
    // — no double share near the cut), and the result is a SELECTED
    // element, never arithmetic — zero rounding discipline needed.
    // Scale shape: pre-grouping by (flag, price) bounds the window input
    // to |distinct prices| per flag and makes the ORDER BY total (no
    // intra-price tie ambiguity); one flag shuffle shared by both window
    // frames and the final agg. At 100 TB the per-flag running sum is
    // sequential within a partition — acceptable because the grouped
    // frame is |distinct prices|, not |lineitem|; a t-digest sketch
    // (agg_approx_percentile) is the declared approximate path.
    "agg_weighted_percentile" -> ((s, d) => {
      // r19: the (flag, price) pre-aggregation barely reduces (~594k
      // groups from 600k rows at sf0.1), so its map-side hash map was
      // built inside the fixture's ONE scan task — an explicit hash
      // exchange on price (a subset of the grouping key, so the agg adds
      // no second exchange) spreads that build across cores. The
      // SegmentedScan two-phase cume was ALSO tried here and MEASURED
      // WORSE (1.33 → 1.65 s, 4 → 13 jobs: the segment machinery's extra
      // joins outweigh two 198k-row serial window passes at this scale) —
      // the window form stays; it remains the documented hot-key trade.
      val per = Tables.lineitem(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("w"))
      val cume = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(col("l_returnflag"))
      per.withColumn("cw", sum(col("w")).over(cume))
        .withColumn("tw", sum(col("w")).over(whole))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("cw") * 10 >= col("tw") * 5, col("price"))).as("wp50"),
          min(when(col("cw") * 10 >= col("tw") * 9, col("price"))).as("wp90"))
        .reportSort(col("l_returnflag"))
    })
  )

  def oracle: Map[String, String] = Map(
    "agg_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INT) AS g_status,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
        |         l_linestatus NULLS FIRST""".stripMargin,
    "agg_weighted_percentile" ->
      """WITH per AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, price, w,
        |         sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
        |                      ROWS UNBOUNDED PRECEDING) AS cw,
        |         sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM per)
        |SELECT l_returnflag,
        |       min(CASE WHEN cw*10 >= 5*tw THEN price END) AS wp50,
        |       min(CASE WHEN cw*10 >= 9*tw THEN price END) AS wp90
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_global" ->
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       CASE WHEN count(*) > 0 THEN
        |         (2 * CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |          * 10000 + count(*)) // (2 * count(*)) END AS avg_disc_e6
        |FROM lineitem""".stripMargin,
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  (2 * CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |   * 10000 + count(*)) // (2 * count(*)) AS avg_qty_e6,
        |  (2 * CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |   * 10000 + count(*)) // (2 * count(*)) AS avg_price_e6,
        |  (2 * CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |   * 10000 + count(*)) // (2 * count(*)) AS avg_disc_e6,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same semantic contract as agg_count_distinct — deliberately: the
    // bitmap plan is an alternative physical strategy for the identical
    // exact result
    "agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_mode_tiebreak" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt AS n
        |FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt,
        |        row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY count(*) DESC, l_quantity) AS rn
        |      FROM lineitem GROUP BY l_returnflag, l_quantity) t
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    // the oracle is the UNSALTED groupBy — the salted two-phase plan must
    // be semantically invisible
    "agg_salted_twophase" ->
      """SELECT event_type, round(sum(value), 2) AS sum_value,
        |       count(*) AS n,
        |       (2 * CAST(round(round(sum(value), 2) * 100) AS BIGINT) * 10000
        |        + count(*)) // (2 * count(*)) AS avg_value_e6
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_conditional" ->
      """SELECT n_name,
        |  round(sum(CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END), 2) AS pos_bal,
        |  count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS n_building,
        |  CASE WHEN count(CASE WHEN c_acctbal < 0 THEN 1 END) > 0
        |   THEN -((2 * -CAST(sum(CASE WHEN c_acctbal < 0
        |            THEN CAST(round(c_acctbal * 100) AS BIGINT) END) AS BIGINT)
        |           * 10000
        |          + count(CASE WHEN c_acctbal < 0 THEN 1 END))
        |         // (2 * count(CASE WHEN c_acctbal < 0 THEN 1 END)))
        |   END AS avg_neg_e6
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_bool" ->
      """SELECT event_type,
        |  bool_and(value < 400.0) AS all_below,
        |  bool_or(value > 450.0) AS any_spike,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_having" ->
      """SELECT l_suppkey, round(sum(l_extendedprice), 2) AS total, count(*) AS n
        |FROM lineitem GROUP BY l_suppkey
        |HAVING round(sum(l_extendedprice), 2) > 1000000.0
        |ORDER BY l_suppkey""".stripMargin,
    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n,
        |       (2 * CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |        * 10000 + count(*)) // (2 * count(*)) AS bin_avg_e6
        |FROM events GROUP BY bin ORDER BY bin""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT event_type, bucket, grouping(event_type) AS g_type,
        |       grouping(bucket) AS g_bucket, count(*) AS n
        |FROM (SELECT event_type, user_id % 10 AS bucket FROM events) t
        |GROUP BY GROUPING SETS ((event_type), (bucket), ())
        |ORDER BY g_type, g_bucket,
        |         event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_disc" ->
      """WITH cd AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    cume_dist() OVER (PARTITION BY o_orderstatus
        |                      ORDER BY o_totalprice) AS c
        |  FROM orders)
        |SELECT o_orderstatus,
        |  min(CASE WHEN c >= 0.5 THEN o_totalprice END) AS median_disc,
        |  min(CASE WHEN c >= 0.9 THEN o_totalprice END) AS p90_disc,
        |  min(CASE WHEN c >= 0.99 THEN o_totalprice END) AS p99_disc
        |FROM cd GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_regression" ->
      """SELECT l_returnflag,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
        |  round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_string_concat" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS median,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_collect_sorted" ->
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the sketch is exact in the pinned regime (domain ≤ tracked budget),
    // so the oracle is the plain count — see the query comment
    "agg_topk_sketch" ->
      """SELECT lang, word AS item, count(*) AS cnt
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY lang, word HAVING count(*) >= 50
        |ORDER BY lang, cnt DESC, item""".stripMargin,
    "agg_topk_union" ->
      """SELECT word AS item, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word HAVING count(*) >= 200
        |ORDER BY cnt DESC, item""".stripMargin
  )
}
