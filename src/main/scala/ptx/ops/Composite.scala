package ptx.ops

import org.apache.spark.sql.functions._
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** G17 — composite analytics: the classic TPC-H multi-operator shapes
  * (Q13/Q17/Q18/Q21/Q22) adapted to the binding columns (no partsupp,
  * no l_commitdate/l_receiptdate, no c_phone — each query notes its
  * adaptation). These exercise the *composition* patterns a warehouse
  * workload actually runs — outer-join re-aggregation, correlated-avg
  * decorrelation, having-over-join, multi-correlated exists/not-exists,
  * anti-join + scalar subquery — on top of operators that are each
  * individually covered in G3/G4/G15.
  *
  * Scale notes (100 TB):
  *  - every per-key aggregate here shuffles once on its natural key and
  *    re-aggregates a tiny frame (counts-of-counts, per-part avgs);
  *  - the correlated subqueries are expressed as join + groupBy so the
  *    plan is an explicit shuffle/broadcast choice, not an opaque rewrite
  *    (Extras.sub_correlated covers Catalyst's decorrelator already);
  *  - the q17 per-part threshold frame is partkey-grouped (tiny relative
  *    to lineitem) and joins back broadcast-or-shuffle as AQE decides.
  */
object Composite {

  def queries: Map[String, QFn] = Map(
    // Q13 shape: how many customers placed 0, 1, 2 … orders (order-count
    // distribution). LEFT join so never-ordered customers count at 0;
    // "non-urgent" predicate stands in for Q13's comment filter.
    "q13_cust_distribution" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
      val perCust = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips the null-matched rows
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .reportSort(col("custdist").desc, col("c_count").desc)
    }),
    // Q17 shape: revenue lost by only stocking small orders — lineitems of
    // STANDARD-type parts with quantity below 20% of that part's average.
    // Correlated avg expressed as an explicit per-part aggregate + join
    // (the scale-stable plan: the per-part frame is |part|-sized, not
    // |lineitem|-sized).
    "q17_small_qty_revenue" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_type").startsWith("STANDARD"))
        .select(col("p_partkey"))
      val perPart = l.groupBy(col("l_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(perPart, Seq("l_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    }),
    // Q18 shape: large-volume orders — orders whose total quantity exceeds
    // 300, with customer attribution, top-100 by price. HAVING over a join
    // feeding a second join.
    "q18_large_orders" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val big = l.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 300)
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("price"),
          col("total_qty"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(100)
    }),
    // Q21 shape adapted (no l_receiptdate/l_commitdate in the binding
    // lineitem): suppliers who were the sole latest shipper on a
    // multi-supplier order — their lineitem hit the order's max shipdate
    // and no other supplier shares that max. EXISTS (another supplier on
    // the order) + NOT EXISTS (another supplier at the max date), both
    // expressed as aggregates over one per-(order, supplier) frame so the
    // order's lineitems shuffle once, not three times.
    "q21_late_suppliers" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      // r19: one explicit orderkey exchange feeds the per-(order, supp)
      // aggregation AND the three chained windows (subset clustering) —
      // the partial agg had been serial in the fixture's one scan task
      val perOrderSupp = l
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("supp_max"))
      // both EXISTS predicates as chained windows over ONE l_orderkey
      // shuffle (the per-order frame is |orders|·|supps-per-order|-sized)
      val w = Window.partitionBy(col("l_orderkey"))
      val flagged = perOrderSupp
        .withColumn("order_max", max(col("supp_max")).over(w))
        .withColumn("n_supps", count(lit(1)).over(w))
        .withColumn("n_at_max",
          sum(when(col("supp_max") === col("order_max"), 1L).otherwise(0L)).over(w))
      flagged
        .filter(col("n_supps") > 1 && col("supp_max") === col("order_max") &&
          col("n_at_max") === 1)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),
    // Q22 shape adapted (no c_phone country code; every fixture customer
    // has ≥1 order, so "never ordered" would be vacuous — the anti-join
    // target is "no URGENT order" instead): wealthy customers — balance
    // above the positive-balance average — with no urgent order, counted
    // per nation. Anti join + scalar aggregate, both explicit.
    "q22_idle_customers" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      // threshold as an exact e6 INTEGER (half-up integer division of the
      // exact e2 sum) compared against the balance's exact e2 integer —
      // a rounded double avg still ties on 2^(d+1)-reduced sum/count
      // ratios, and a flipped threshold flips row membership (r7 sweep)
      // DECIMAL(38,0) sum (q8 rule) + count guard: zero positive-balance
      // customers would make this an ANSI div-by-zero ABORT; NULL threshold
      // → the filter below selects nothing, which is the right semantics
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(expr("CASE WHEN count(1) > 0 THEN" +
          " (2 * sum(cast(round(c_acctbal * 100) as decimal(38,0))) * 10000" +
          " + count(1)) div (2 * count(1)) END").as("a_e6"))
      val idle = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgBal))
        .filter(expr("cast(round(c_acctbal * 100) as bigint) * 10000 > a_e6"))
      idle.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .reportSort(col("c_nationkey"))
    }),
    // Q14 shape: promo revenue share in ship-year 1997. The share divides
    // the two ROUNDED sums so both engines divide identical operands
    // (raw double sums differ in accumulation order).
    "q14_promo_share" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(
        col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
            .as("promo_rev"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
          round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
            .as("promo_share"))
    }),
    // Q19 shape: disjunctive multi-column predicate (three OR'd
    // brand/size/quantity triples) — the pattern that exercises CNF
    // conversion and partial predicate pushdown; grouped by brand so the
    // result hashes more than one row.
    "q19_disjunctive" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 30) &&
            col("l_quantity").between(20, 30)))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .reportSort(col("p_brand"))
    }),
    // Q3 shape: shipping priority — top-10 unshipped-revenue orders for one
    // market segment at a cutoff date. The fact-fact join (lineitem⋈orders)
    // shuffles once on orderkey; the filtered customer side stays unhinted
    // so AQE picks broadcast at this SF and shuffle at 100 TB. l_orderkey
    // added to the sort for a deterministic LIMIT under revenue ties.
    "q3_shipping_priority" -> ((s, d) => {
      val cutoff = to_timestamp(lit("1998-06-01"))
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),
    // Q4 shape adapted (no l_commitdate/l_receiptdate): order-priority
    // checking — orders in 1997Q1 where at least one lineitem shipped more
    // than 90 days after the order date ("slow fulfilment" stands in for
    // Q4's late-receipt EXISTS). The EXISTS is a LEFT SEMI join: equi key
    // l_orderkey + a residual date predicate, so it stays a hash/SMJ semi
    // join (never a BNLJ) and dedups order keys inside the join.
    // A semi join can only build its right side, so `o ⋉ lineitem` would
    // broadcast all of lineitem (600k rows, 33 MiB at sf0.1). Instead
    // lineitem streams through a broadcast of the quarter's orders, keeping
    // the late lines (a few thousand), and the orders semi-join those.
    // Each late line names exactly its own order (o_orderkey is unique), so
    // the rows are those of the one-step EXISTS. The hinted quarter of
    // orders is broadcast-sized on the fixtures, not at cluster scale.
    "q4_priority_count" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(
        col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-04-01")))
      val late = Tables.lineitem(s, d)
        .join(broadcast(o.select(col("o_orderkey"), col("o_orderdate"))),
          col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .select(col("l_orderkey"))
      o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .reportSort(col("o_orderpriority"))
    }),
    // Q7 shape: volume shipping between two nations, by direction and ship
    // year. Suppliers/customers are pre-filtered to the two nations via
    // broadcast nation joins (each filtered dim is tiny → broadcasts into
    // the fact scans), so the only big shuffle is lineitem⋈orders.
    // Q6 shape (r6): the forecast-revenue-change query — a single
    // predicate-pushed scan and one global sum, THE canonical
    // filter-selectivity benchmark. sum(price·disc) is exact in double
    // (both factors 2dp-clean → 4dp products; total ≪ 2^53 at any SF the
    // fixture reaches), so round(2) is presentation, not parity glue.
    // All three predicates push to the parquet scan (PushedFilters).
    "q6_forecast_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n"))
    }),
    // Q12 shape (r6): shipping-speed vs order-priority cross-tab. The
    // fixture has no l_shipmode/commitdate, so the Q12 bucketing is
    // re-keyed on ship lag (shipped >60 days after order date = 'slow');
    // the analytical core — a fact⋈fact equi-join feeding conditional
    // counts into a 2-row result — is intact. Both sides project to 2-3
    // columns before the one orderkey shuffle; the conditional sums are
    // map-side partial aggregates, so the final exchange moves 2 rows.
    "q12_ship_lag_priority" -> ((s, d) => {
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("speed",
          when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "slow").otherwise("fast"))
        .groupBy(col("speed"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .reportSort(col("speed"))
    }),
    "q7_volume_shipping" -> ((s, d) => {
      val n = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_18", "NATION_19"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val l = Tables.lineitem(s, d).filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .reportSort(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    // Q8 shape: market share of one supplier nation (NATION_2) within one
    // region's (ASIA) customer orders for one part type, per order year.
    // Conditional aggregation over ONE joined frame — not two scans union'd.
    // Revenue is summed EXACTLY in fixed point: price and discount are 2dp
    // decimals, so vol·10⁴ = round(price·100)·round((1−disc)·100) is an
    // exact BIGINT — double sums of this year-sized frame land ON the 2dp
    // rounding boundary (observed: …0.935 vs …0.945 across engines), which
    // the q14 round-then-divide discipline cannot absorb.
    "q8_market_share" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cust = Tables.customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val supNation = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))
      // supplier is UNFILTERED here (every supplier's nation feeds the
      // conditional agg) — no broadcast hint: at 100 TB a full supplier
      // dim exceeds the broadcast limit, so AQE must make the size call
      // (it still broadcasts at the test SFs). Only nation is pinned.
      val sup = Tables.supplier(s, d)
        .join(broadcast(supNation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val p = Tables.part(s, d).filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      // Summed as DECIMAL(38,0), not BIGINT: per-row vol·10⁴ reaches ~1e9,
      // so a per-year group at the 100 TB design point approaches the
      // 9.2e18 long max and under ANSI mode an overflow would ABORT the
      // job (ADVICE r5). Decimal keeps the fixed-point sum exact at any
      // row count; the one cast back to double happens after aggregation,
      // on group-count-many values.
      val volE4 = (round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long"))
        .cast("decimal(38,0)")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_2", volE4)).as("nat_e4"),
          sum(volE4).as("tot_e4"))
        .select(col("o_year"),
          round(col("nat_e4") / 1e4, 2).as("nation_rev"),
          round(col("tot_e4") / 1e4, 2).as("total_rev"))
        .select(col("o_year"), col("nation_rev"), col("total_rev"),
          round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
        .reportSort(col("o_year"))
    }),
    // Q9 shape adapted (no partsupp.ps_supplycost): product-line profit per
    // supplier nation per year, with cost proxied as 10% of the part's
    // retail price per unit. Exercises the 5-way star: the FILTERED part
    // dim broadcast into lineitem, the unfiltered supplier attribution
    // side left to AQE, one fact-fact shuffle (⋈orders for the year).
    "q9_profit_proxy" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      // supplier unfiltered (see q8): leave the broadcast decision to AQE
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.1) * col("p_retailprice") * col("l_quantity")), 2).as("profit"))
        .reportSort(col("nation"), col("o_year").desc)
    }),
    // Q11 shape adapted (no partsupp.ps_availqty·ps_supplycost: value =
    // shipped value observed in lineitem): value concentration of
    // ASIA-supplied parts — keep parts whose supplied value exceeds 2×
    // the mean per-part value. The Q11 essence is HAVING against a
    // scalar subquery: the threshold is a second aggregate over the SAME
    // per-part frame (a |part|-sized frame, so the re-aggregate is
    // cheap), broadcast back as one row. The compare runs EXACTLY in
    // fixed point — v·np > 2·t in DECIMAL(38,0) — because near the cut
    // a double mean would tie-break differently per engine. Double
    // appears only in the final display division.
    "q11_part_value_conc" -> ((s, d) => {
      val asiaSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // vol·10⁴ summed as DECIMAL(38,0) — same ANSI-overflow rationale as q8
      val volE4 = (round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long"))
        .cast("decimal(38,0)")
      val per = Tables.lineitem(s, d)
        .join(broadcast(asiaSup), col("l_suppkey") === col("s_suppkey"))
        // a one-row-group file puts the partkey-grain partial aggregation
        // in ONE scan task — explicit spread
        .repartition(s.sparkContext.defaultParallelism, col("l_partkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(volE4).as("v"))
      val pinned = ptx.Caching.pin(per) // apex: threshold branch + filter branch
      val tot = pinned.agg(sum(col("v")).as("t"),
        count(lit(1)).cast("decimal(38,0)").as("np"))
      // e4 → 2dp display: half-up in INTEGER space ((v+50) div 100), then
      // one IEEE division of an exact integer — round(v/1e4, 2) straddles
      // engines when v ends in …50 (exactly on the 2dp grid; observed at
      // sf0.1 rows 374/504: .075 → Spark .08 decimal-exact vs DuckDB .07
      // via the double path)
      pinned.crossJoin(broadcast(tot))
        .filter(col("v") * col("np") > lit(2) * col("t"))
        .select(col("l_partkey"),
          (floor((col("v") + 50) / 100).cast("double") / 100).as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),
    // Q20 shape adapted (no partsupp.ps_availqty: availability = shipped
    // volume): suppliers whose 1996 shipments of PROMO parts exceed half
    // that pair's all-time shipped quantity — "surplus candidates". The
    // Q20 essence is a correlated double-aggregate threshold feeding a
    // semi-join chain up the dimension: BOTH sums come from ONE grouped
    // pass (conditional agg — never two lineitem scans), the threshold
    // compare is exact fixed point (2·q96 > qall in e2), and the
    // surviving pairs re-aggregate to supplier grain BEFORE the dim
    // join, so the join input is |supplier|-bounded. Supplier side
    // unhinted: a region is ~20% of the dim — at 100 TB that exceeds any
    // broadcast limit, so AQE makes the size call (q8 discipline).
    "q20_promo_surplus" -> ((s, d) => {
      val pp = Tables.part(s, d).filter(col("p_type").startsWith("PROMO"))
        .select(col("p_partkey"))
      val qtyE2 = round(col("l_quantity") * 100).cast("long")
        .cast("decimal(38,0)")
      val in96 = col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01"))
      val surplus = Tables.lineitem(s, d)
        .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(when(in96, qtyE2).otherwise(lit(0).cast("decimal(38,0)")))
          .as("q96_e2"),
          sum(qtyE2).as("qall_e2"))
        .filter(col("q96_e2") > 0 && col("q96_e2") * 2 > col("qall_e2"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("surplus_parts"))
      val eurSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      surplus.join(eurSup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("surplus_parts"))
        .orderBy(col("s_suppkey"))
    }),
    // Q10 shape: returned-item reporting — top-20 customers by revenue lost
    // to returns in 1997Q1. Aggregate BEFORE the customer join: the
    // group-by runs on (orderkey-joined) facts keyed by custkey, and only
    // the 20-row-bound result side carries customer attributes.
    "q10_returned_items" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(
        col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-04-01")))
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val perCust = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      perCust.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    // Q15 shape: top supplier — revenue per supplier for one quarter, then
    // the supplier(s) hitting the maximum. The max is a one-row frame
    // broadcast back (crossJoin) — never a re-scan of lineitem; equality is
    // on the ROUNDED revenue so both engines compare identical doubles.
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d).filter(
          col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val pinned = ptx.Caching.pin(rev) // apex: max branch + equality branch
      val mx = pinned.agg(max(col("total_revenue")).as("mx"))
      pinned.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .reportSort(col("s_suppkey"))
    }),
    // Q2 shape adapted (no partsupp.ps_supplycost: cost = observed unit
    // price from shipments): the cheapest supplier per size-9 part — the
    // classic per-group argmin. row_number over (ROUNDED price, suppkey)
    // instead of min_by: exact-double argmin ties are engine-arbitrary,
    // and the rounded sort key + suppkey tie-break is deterministic in
    // both engines. One shuffle on partkey; supplier/nation broadcast.
    "q2_min_cost_supplier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, d).filter(col("p_size") === 9)
        .select(col("p_partkey"))
      // unit_price_e6 = half-up integer division of exact e2 price by the
      // integral quantity. Precondition: l_quantity ≥ 1 (FIXTURES domain
      // 1..50) — a zero quantity would ANSI-abort here AND error the
      // oracle's `//`; a source without that guarantee needs a
      // CASE WHEN l_quantity > 0 guard on both sides.
      // The fixture REALLY hits the round() tie here:
      // 7 rows at sf0.1 have qty=32 and cents≡25 (mod 50), i.e. the price
      // ratio is exactly odd/128, the binary-representable half-point
      // where engine rounding rules diverge (r7 sweep)
      val up = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          expr("(2 * cast(round(l_extendedprice * 100) as bigint) * 10000" +
            " + cast(l_quantity as bigint))" +
            " div (2 * cast(l_quantity as bigint))").as("unit_price_e6"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("unit_price_e6"), col("l_suppkey"))
      up.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey"), col("s_name"), col("n_name"),
          col("unit_price_e6"))
        .orderBy(col("l_partkey"))
    }),
    // Q16 shape adapted (no partsupp: supplier⟷part pairs come from
    // lineitem shipments): how many distinct suppliers shipped each
    // (brand, type, size) combination, excluding one brand and limiting to
    // six sizes. countDistinct over the part-attribute grouping — the
    // two-shuffle expand/dedup plan Spark generates is the scalable one.
    "q16_supplier_variety" -> ((s, d) => {
      val p = Tables.part(s, d).filter(
        col("p_brand") =!= "Brand#5" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) cc
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type LIKE 'STANDARD%'
        |JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) pa ON l_partkey = pa.pk
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 2) AS price, total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 2) > 300) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY price DESC, o_orderkey LIMIT 100""".stripMargin,
    "q21_late_suppliers" ->
      """WITH pos AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max
        |  FROM lineitem GROUP BY l_orderkey, l_suppkey),
        |w1 AS (
        |  SELECT *, max(supp_max) OVER (PARTITION BY l_orderkey) AS order_max,
        |         count(*) OVER (PARTITION BY l_orderkey) AS n_supps
        |  FROM pos),
        |w2 AS (
        |  SELECT *, sum(CASE WHEN supp_max = order_max THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY l_orderkey) AS n_at_max
        |  FROM w1)
        |SELECT s_name, count(*) AS numwait
        |FROM w2 JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supps > 1 AND supp_max = order_max AND n_at_max = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |       round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer c
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * 10000 >
        |      (SELECT CASE WHEN count(*) > 0 THEN
        |         (2 * CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
        |              AS BIGINT) * 10000 + count(*)) // (2 * count(*)) END
        |       FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q14_promo_share" ->
      """SELECT promo_rev, total_rev,
        |       round(100.0 * promo_rev / total_rev, 6) AS promo_share
        |FROM (
        |  SELECT
        |    round(sum(CASE WHEN p_type = 'PROMO'
        |              THEN l_extendedprice * (1 - l_discount) END), 2) AS promo_rev,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') t""".stripMargin,
    "q19_disjunctive" ->
      """SELECT p_brand, count(*) AS n,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 30
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "q4_priority_count" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q12_ship_lag_priority" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |            THEN 'slow' ELSE 'fast' END AS speed,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        |       round(CAST(nat_e4 AS DOUBLE) / 1e4, 2) AS nation_rev,
        |       round(CAST(tot_e4 AS DOUBLE) / 1e4, 2) AS total_rev,
        |       round(round(CAST(nat_e4 AS DOUBLE) / 1e4, 2)
        |             / round(CAST(tot_e4 AS DOUBLE) / 1e4, 2), 6) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(sum(CASE WHEN n1.n_name = 'NATION_2'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * CAST(round((1 - l_discount) * 100) AS BIGINT) END)
        |      AS BIGINT) AS nat_e4,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * CAST(round((1 - l_discount) * 100) AS BIGINT))
        |      AS BIGINT) AS tot_e4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  GROUP BY 1) t
        |ORDER BY o_year""".stripMargin,
    "q9_profit_proxy" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       round(sum(l_extendedprice * (1 - l_discount)
        |                 - 0.1 * p_retailprice * l_quantity), 2) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, revenue, n_name
        |FROM (
        |  SELECT o_custkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY o_custkey) pc
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH up AS (
        |  SELECT l_partkey, l_suppkey,
        |         (2 * CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
        |          + CAST(l_quantity AS BIGINT))
        |         // (2 * CAST(l_quantity AS BIGINT)) AS unit_price_e6
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size = 9),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_partkey
        |             ORDER BY unit_price_e6, l_suppkey) AS rn FROM up)
        |SELECT l_partkey, s_name, n_name, unit_price_e6
        |FROM ranked JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "q11_part_value_conc" ->
      """WITH base AS (
        |  SELECT l_partkey,
        |         CAST(round(l_extendedprice*100) AS BIGINT) *
        |         CAST(round((1-l_discount)*100) AS BIGINT) AS vol_e4
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |), per AS (
        |  SELECT l_partkey, CAST(sum(vol_e4) AS DECIMAL(38,0)) AS v
        |  FROM base GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(v) AS DECIMAL(38,0)) AS t,
        |         CAST(count(*) AS DECIMAL(38,0)) AS np FROM per)
        |SELECT l_partkey,
        |       CAST(floor((v + 50) / 100) AS DOUBLE) / 100 AS part_value
        |FROM per, tot WHERE v * np > 2 * t
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q20_promo_surplus" ->
      """WITH sp AS (
        |  SELECT l_suppkey,
        |         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |                   AND l_shipdate < TIMESTAMP '1997-01-01'
        |             THEN CAST(round(l_quantity*100) AS BIGINT) ELSE 0 END) AS q96_e2,
        |         sum(CAST(round(l_quantity*100) AS BIGINT)) AS qall_e2
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_type LIKE 'PROMO%'
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS surplus_parts
        |FROM sp
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND q96_e2 > 0 AND 2*q96_e2 > qall_e2
        |GROUP BY s_suppkey, s_name
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  )
}
