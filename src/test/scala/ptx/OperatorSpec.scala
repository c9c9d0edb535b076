package ptx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import ptx.tools.Metrics
import ptx.tools.Metrics.Shape

/** Per-group value checks: golden rows (cross-checked against DuckDB on the
  * binding data), plan-shape assertions (pushdown/pruning/broadcast), and
  * exact-vs-approx tolerances. SURVEY §5.1/5.5.
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def q(name: String) = QueryRegistry.all(name)(spark, TestSpark.SF)

  test("agg_pricing_summary matches DuckDB golden rows at sf0.001") {
    val got = q("agg_pricing_summary")
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val want = Seq(
      ("A", "F", 20488.0, 809L), ("A", "O", 20198.0, 817L),
      ("N", "F", 23213.0, 891L), ("N", "O", 20795.0, 831L),
      ("R", "F", 20269.0, 810L), ("R", "O", 20489.0, 807L))
    assert(got.toSeq == want)
  }

  test("join_star_q5 (the flagship entry) returns rows with positive revenue") {
    val rows = graft.SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(1) > 0))
  }

  test("agg_approx_percentile is within 1% of the exact percentile") {
    val approx = q("agg_approx_percentile").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = q("agg_percentile").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (m, p90)) =>
      assert(math.abs(approx(k)._1 - m) <= m * 0.01, s"$k median ${approx(k)._1} vs $m")
      assert(math.abs(approx(k)._2 - p90) <= p90 * 0.01, s"$k p90 ${approx(k)._2} vs $p90")
    }
  }

  test("ExactPercentiles.groupPercentiles is bit-identical to the percentile() built-in (r18)") {
    import org.apache.spark.sql.functions._
    // fixture grain: the exact frames agg_percentile / pt_winsorize feed it
    for ((tbl, key, value) <- Seq(
        ("orders", "o_orderstatus", "o_totalprice"),
        ("events", "event_type", "value"))) {
      val df = Tables.t(spark, TestSpark.SF, tbl)
      val ps = Seq(0.05, 0.5, 0.9, 0.95, 0.99)
      val pcols = ps.map(p => expr(s"percentile($value, $p)").as(s"p$p"))
      val builtin = df.groupBy(col(key)).agg(pcols.head, pcols.tail: _*)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1)))).toMap
      val viaWindow = ops.ExactPercentiles.groupPercentiles(
          df, Seq(key), value, ps.map(p => p -> s"p$p"))
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1)))).toMap
      assert(viaWindow == builtin,
        s"$tbl($key, $value): window percentiles diverged from the built-in (raw bits)")
    }
    // degenerate group sizes: n = 1 and n = 2 (interpolation boundary)
    val tiny = spark.createDataFrame(Seq(("a", 3.0), ("b", 1.0), ("b", 2.0)))
      .toDF("k", "v")
    val b2 = tiny.groupBy(col("k")).agg(expr("percentile(v, 0.25)").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w2 = ops.ExactPercentiles.groupPercentiles(tiny, Seq("k"), "v", Seq(0.25 -> "p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w2 == b2, s"tiny-group percentiles diverged: $w2 vs $b2")
  }

  test("ExactPercentiles.groupPercentilesDisc equals the percentile_disc built-in (r18)") {
    import org.apache.spark.sql.functions._
    // the discrete result is always an actual element, so plain equality
    // (no raw-bits dance needed — both pick from the same value set)
    for ((tbl, key, value) <- Seq(
        ("orders", "o_orderstatus", "o_totalprice"),
        ("events", "event_type", "value"))) {
      val df = Tables.t(spark, TestSpark.SF, tbl)
      val ps = Seq(0.05, 0.5, 0.9, 0.95, 0.99)
      val pcols = ps.map(p =>
        expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $value)").as(s"p$p"))
      val builtin = df.groupBy(col(key)).agg(pcols.head, pcols.tail: _*)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(i + 1))).toMap
      val viaWindow = ops.ExactPercentiles.groupPercentilesDisc(
          df, Seq(key), value, ps.map(p => p -> s"p$p"))
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(i + 1))).toMap
      assert(viaWindow == builtin,
        s"$tbl($key, $value): window percentile_disc diverged from the built-in")
    }
    // degenerate group sizes (n = 1, n = 2) and duplicate values (ties:
    // cume_dist counts the whole peer group, so the duplicated value must
    // be picked exactly when its LAST peer crosses p)
    val tiny = spark.createDataFrame(
        Seq(("a", 3.0), ("b", 1.0), ("b", 2.0), ("c", 5.0), ("c", 5.0), ("c", 7.0)))
      .toDF("k", "v")
    for (p <- Seq(0.25, 0.5, 2.0 / 3, 0.9)) {
      val b2 = tiny.groupBy(col("k"))
        .agg(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as("p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val w2 = ops.ExactPercentiles.groupPercentilesDisc(tiny, Seq("k"), "v", Seq(p -> "p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(w2 == b2, s"p=$p: tiny-group percentile_disc diverged: $w2 vs $b2")
    }
  }

  test("metrics listener records exchanges and scans for a query run") {
    // the flag/status aggregate and the output sort over one lineitem scan
    assert(Metrics.shape(hermeticRun("agg_pricing_summary")) ==
      Shape(exchanges = 2, broadcasts = 0, scans = 1))
    // a pinned aggregate read twice, whose plan renders its own adaptive
    // plan in the middle of the query's: its (custkey, status) shuffle and
    // orders scan count once; the merge join shuffles both sides on custkey
    // (the pin is partitioned on both keys), one customer scan; the scalar
    // subquery over the pin adds its single-partition shuffle
    val joined = hermetic { s =>
      val spent = Caching.pin(Tables.orders(s, TestSpark.SF)
        .groupBy("o_custkey", "o_orderstatus").agg(sum("o_totalprice").as("spent")))
      val cust = Tables.customer(s, TestSpark.SF)
        .where(col("c_custkey") <= spent.agg(max("o_custkey")).scalar())
      spent.join(cust.hint("merge"), col("o_custkey") === col("c_custkey"))
    }
    try assert(Metrics.shape(joined) == Shape(exchanges = 4, broadcasts = 0, scans = 2))
    finally ptx.Caching.releaseAll()
  }

  /** The frame `build` makes on a fresh session over a cleared cache,
    * collected. The whole test run shares one session (TestSpark), and
    * earlier suites leave pins the CacheManager substitutes into matching
    * subtrees, and session-conf residue, that shift a plan. A
    * `newSession()` (own SQLConf and catalog, shared context) plus a cache
    * clear measures the query's own plan, and builds its own pins, alone
    * or in a full run. */
  private def hermetic(build: SparkSession => DataFrame): DataFrame = {
    ptx.Caching.releaseAll()
    spark.catalog.clearCache()
    val df = build(spark.newSession())
    df.collect()
    df
  }

  private def hermeticRun(name: String): DataFrame =
    hermetic(QueryRegistry.all(name)(_, TestSpark.SF))

  /** Shuffle plus broadcast exchanges of the named query's final plan, by
    * [[Metrics.shape]], pinned caches included. */
  private def measuredExchanges(name: String): Int = {
    val shape = Metrics.shape(hermeticRun(name))
    ptx.Caching.releaseAll()
    shape.exchanges + shape.broadcasts
  }

  /** Shared plan-budget assertion. */
  private def budget(name: String, bound: Int): Unit = {
    val n = measuredExchanges(name)
    assert(n <= bound, s"$name spent $n exchanges (budget $bound)")
  }

  test("star joins stream lineitem: no broadcast holds a sixth of its rows") {
    // Unhinted, CBO-off size estimation made these queries build their
    // broadcast from lineitem (600k, 336k and 600k rows at sf0.1). The
    // bound scales with the fixture: 100k rows at sf0.1.
    val bound = Tables.lineitem(spark, TestSpark.SF).count() / 6
    Seq("join_star_q5", "topk_global", "q4_priority_count").foreach { name =>
      val rows = Metrics.maxBroadcastRows(hermeticRun(name))
      assert(rows <= bound, s"$name broadcasts $rows rows (bound $bound)")
    }
  }

  test("plan budget: pricing summary spends at most 2 exchanges (agg + sort)") {
    assert(measuredExchanges("agg_pricing_summary") <= 2)
  }

  test("sessionized events share one user_id range exchange with the window, the aggregate and the order") {
    Seq("pt_sessionize", "pt_trip_stats").foreach { name =>
      assert(Metrics.shape(hermeticRun(name)) == Shape(exchanges = 1, broadcasts = 0, scans = 1),
        name)
    }
  }

  test("the cents helper equals cast(round(y) as bigint), and pricing sums do not depend on row order") {
    import spark.implicits._
    val ys = Seq(0.49999999999999994, 0.5, 2.5, -2.5, -0.0, 100.49999999999999,
      4503599627370496.0 - 0.5, 4503599627370496.0 + 0.5, -4503599627370496.0 + 0.5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def outcome(y: Option[Double], c: Column => Column) = scala.util.Try(
      Seq(y).toDF("y").select(c(col("y"))).collect()(0).get(0)).toEither.left.map(_.getClass)
    (ys.map(Some(_)) :+ None).foreach { y =>
      val got = outcome(y, ops.Aggregates.roundToLong)
      assert(got == outcome(y, c => round(c).cast("long")), s"y = $y: $got")
    }
    assert(Seq(0.125, 1.005, -0.015).toDF("x").select(ops.Aggregates.cents(col("x")))
      .collect().map(_.get(0)).toSeq ==
      Seq(0.125, 1.005, -0.015).toDF("x").select(round(col("x") * 100).cast("long"))
        .collect().map(_.get(0)).toSeq)
    // lineitem rewritten as several files of shuffled rows reads the same
    val dir = TestSpark.tmpDir("ptx_pricing")
    Tables.lineitem(spark, TestSpark.SF).orderBy(rand(7)).repartition(4)
      .write.parquet(s"$dir/lineitem.parquet")
    def rows(d: String) =
      QueryRegistry.all("agg_pricing_summary")(spark, d).collect().map(_.toSeq).toSeq
    assert(new java.io.File(s"$dir/lineitem.parquet").list().count(_.endsWith(".parquet")) > 1)
    assert(rows(dir) == rows(TestSpark.SF))
  }

  test("plan budget: knn spends at most 3 exchanges (top-k agg, explode, sort)") {
    assert(measuredExchanges("llm_knn_cosine") <= 3)
  }

  test("plan budget: dedup family shuffle structure holds") {
    // exchanges of the final plan, the pinned-cache fill's included —
    // these budgets fail if someone reintroduces a distinct() over the
    // exploded shingle stream or breaks the broadcast/partitioning
    // structure. Static sparkPlan counting is not usable here: exchanges
    // are inserted by EnsureRequirements and adaptive planning.
    // bounds = max observed across sessions (2-5) + headroom; the old
    // distinct()-based shingle formulation measured well above these
    budget("llm_dedup_near", 6)
    budget("llm_dedup_minhash_lsh", 6)
    budget("llm_decontaminate", 6)
    budget("llm_token_budget", 6)
  }

  test("plan budget: r5 additions hold their shuffle structure") {
    // zero-shuffle scan + output sort only
    budget("llm_quality_filter", 2)
    // one user_id shuffle shared by all windows/aggs + output sort
    budget("win_error_streaks", 3)
    // corpus is never shuffled per word: vocab agg + model fold + sort
    // (the naive explode+join+re-agg formulation measures well above)
    // +1: the explicit doc_id spread of the interpreted scoring
    // lambda off the single-task fixture scan
    budget("llm_unigram_logprob", 7)
    // one (order,supplier) agg + windows + final agg + sort
    budget("q21_late_suppliers", 5)
  }

  test("plan budget: r6 additions hold their shuffle structure") {
    // each is ONE two-phase hash aggregate + the output sort — decimal
    // sums, regression moments, and the set-sort-join string agg must all
    // stay map-side-combinable single-shuffle shapes
    budget("agg_decimal_pricing", 2)
    budget("agg_regression", 2)
    budget("agg_string_concat", 2)
    // mirror of join_asof_last_error: one user_id shuffle + output sort
    budget("join_asof_next_error", 2)
    // cell-key candidate join + distinct + anti-ish left join + sort —
    // the point is that NO exchange is corpus-crossing (all on label/id)
    budget("llm_semdedup", 6)
    // the 7-lag EWM tree must stay ONE user_id window pass (measured 1) —
    // a naive per-lag self-join formulation would measure ~8
    budget("pt_ewma", 2)
    // global-mean agg + user_id window + output sort (broadcast of the
    // one-row mean is not a shuffle); measured 3
    budget("pt_cusum", 4)
    // one orderkey shuffle pair + 2-row conditional agg; measured 3
    budget("q12_ship_lag_priority", 4)
    // both row_number windows AND the bar aggregate share one
    // (event_type, hour) shuffle + output sort; measured 2 — a min_by or
    // self-join formulation would add exchanges
    budget("pt_ohlc", 3)
    // one user_id window pass + output sort; measured 2
    budget("pt_peak_detect", 3)
    // two-phase hash aggs + output sort; measured 2 each
    budget("agg_bool", 3)
    budget("pt_apdex", 3)
    // single user_id window (5-element frame lists) + sort; measured 1
    budget("pt_moving_median", 2)
    // ONE corpus tokenize feeding both tf and df (df counts tf's rows per
    // word — a second explode would re-scan the corpus); vocab-bounded
    // shuffles thereafter; measured 8
    budget("llm_keyword_extract", 9)
  }

  test("plan budget: Q11/Q20/bigram-LM hold their shuffle structure (r6)") {
    // one lineitem pass for the scalar subquery and the filter: the pinned
    // per-part frame holds the l_partkey spread and three dim broadcasts
    // (ASIA region → nation → supplier → lineitem); above it, the 1-row
    // threshold agg, its broadcast, and the output sort
    budget("q11_part_value_conc", 7)
    // one (supp,part) agg + supplier-grain re-agg + dim join + sort, PLUS
    // four counted BroadcastExchanges (part/nation/region/supplier dims);
    // measured 8 — the two period sums come from the SAME grouped pass (a
    // two-scan formulation would add a corpus-sized shuffle)
    budget("q20_promo_surplus", 9)
    // tokenize feeds bigram+unigram counts (vocab-bounded shuffles), the
    // model joins back on the bigram key, one doc-grain agg + sort — no
    // exchange is corpus²-sized
    budget("llm_bigram_lm", 9)
  }

  test("plan budget: r6 late additions hold their shuffle structure") {
    // pair explode runs over word TYPES (vocab agg first) — a corpus-grain
    // explode formulation would blow past this
    budget("llm_bpe_pair_counts", 3)
    // two vocab-bounded count passes + support-filtered joins + top-50;
    // no corpus² exchange
    budget("llm_pmi_collocations", 6)
    // 4 edges × (fact-key distinct shuffle + broadcast anti join) + union
    // of one-row aggs — the exchanges carry |keys|, never the fact
    budget("dq_referential", 10)
    // blocked self-join: block-key shuffles + per-block agg + sort; an
    // unblocked all-pairs formulation is structurally impossible here
    budget("llm_dedup_lev", 9)
    // vocab agg → TakeOrdered top-100 → 100-row cumsum window + broadcast
    // total; the window must never see the full vocabulary
    budget("llm_vocab_coverage", 4)
    // two tiny distinct aggs + their broadcast exchanges + one observed-
    // counts agg + its broadcast + output sort (broadcasts are counted) —
    // the fact is scanned once, nothing wide carries it
    budget("dq_completeness", 7)
    // the one-flag-pass formulation. The pinned flag frame: text-key
    // window, doc_id shingle spread, eval-shingle and contaminated-id
    // broadcasts. Above it: block totals and the intra-block window (both
    // on blk), the block-prefix window (single partition) and its
    // broadcast, the budget and funnel aggs (single partition), the budget
    // row's broadcast and the report sort. The per-stage-union formulation
    // measured 24
    budget("llm_curation_pipeline", 12)
  }

  test("plan budget: r9 additions hold their shuffle structure") {
    // each is ONE hash agg + the output sort; the percentile board's
    // buffer lives inside the (hour,type) groups, never a second exchange
    budget("pt_hourly_percentiles", 2)
    budget("pt_sli_heatmap", 2)
    // per-type agg + broadcast 1-row global max + sort — the lag compare
    // must not re-shuffle the 5-row aggregate
    budget("dq_freshness", 4)
    // bucket agg + broadcast 1-row total + sort
    budget("llm_length_histogram", 4)
    // one per-lang two-phase agg + sort
    budget("llm_tokenizer_fertility", 2)
    // shingle-hash agg + df agg + doc agg + rarity window + candidate
    // join/distinct + two verify joins + sort — every exchange is
    // vocab- or candidate-bounded, none is corpus²
    budget("llm_containment_prefix", 12)
  }

  test("plan budget: r9 batch-2 additions hold their shuffle structure") {
    // one pinned per-source agg (its source shuffle); the total and entropy
    // reductions both run on the #sources-sized frame: the total twice
    // (once per branch) and the entropy once, each a single-partition agg
    // with its 1-row result broadcast, plus the report sort — the corpus
    // is scanned exactly once
    budget("llm_mix_entropy", 8)
    // one pinned (source,bucket) cell agg feeds every downstream branch;
    // the per-source totals (source), the bucket grid (b, built twice: for
    // its broadcast and for the grid totals), the grid totals (single
    // partition) and the report sort all run on the sources×buckets frame,
    // with the grid, the cells and the totals broadcast — a second corpus
    // scan would add its own cell agg
    budget("dq_drift_psi", 9)
    // gram stream is scan-local (one HOF + explode, no shuffle to BUILD
    // it); every exchange after keys on gram hash / doc / (doc,pos) —
    // linear in corpus tokens, never a pair join. df skew cannot widen
    // this: a hot gram is one agg group, not an O(|bucket|²) join bucket
    budget("llm_dedup_spans", 10)
    // the only corpus-sized work is the word-count agg; the regression
    // runs on the 100-row TakeOrdered frame (its rank window and the
    // 1-row normal-equation agg never see the vocabulary)
    budget("llm_zipf_fit", 1)
    // one pinned corpus explode feeds both centroid branches; the join
    // and moment sums run on the labels×dim grid with the global side
    // broadcast
    budget("dq_embedding_drift", 5)
    // chunk stream built scan-local off the pinned frame; df agg +
    // occurrence join + doc agg + sort, all keyed on fp/doc — a hot
    // chunk is one agg group, never a pair join
    budget("llm_chunk_dedup", 5)
    // gram stream scan-local; the two-phase distinct agg (expand) is the
    // only shuffle family + output sort
    budget("llm_ngram_diversity", 3)
    // the pinned scored frame: the doc_id spread of the interpreted
    // scoring lambda, the vocab agg, the word total and the model fold
    // (single partition each) with both broadcast; above it, the per-lang
    // exact-tertile agg + broadcast threshold join + (lang, bucket) agg +
    // sort — the corpus is scored ONCE (unpinned, twice)
    budget("llm_ccnet_buckets", 10)
    // one fp-keyed window shuffle + output sort; the 16-byte digest is
    // the shuffle key — payload bytes never cross the wire
    budget("mm_dedup_payload", 2)
    // gram agg (df+keeper in ONE pass), occurrence join, marked distinct,
    // token anti join, doc-keyed rebuild fold, output sort — every
    // exchange corpus-token-linear, none pair-shaped
    budget("llm_span_rewrite", 8)
    // 3 one-row counts (anti/anti/inner on the 8-byte id key) + union;
    // both sides pre-projected to their key column
    budget("dq_doc_embedding_coverage", 5)
    // one vocab df agg (distinct expand) + broadcast doc total + sort
    budget("llm_stopword_candidates", 5)
    // the PSI audit's plan (same driftPanel, same 9): the grid window +
    // max run on sources×buckets rows with the grid, cells and totals
    // broadcast
    budget("dq_drift_ks", 9)
    // one per-source moment agg + 1-row global broadcast + sort; the
    // rest-of-corpus moments are global − source, never a second scan
    budget("dq_drift_ttest", 4)
    // ALL THREE statistics off one pinned cell agg: the panel's 9, plus
    // the Welch side's per-source moments (source, built twice: for the
    // rows and for the 1-row global moments), the global moments agg and
    // its broadcast, and the broadcast join on source — 14 and one corpus
    // scan, where three standalone calls pay 9+9+4 and three scans
    budget("dq_drift_report", 14)
    // pure scan + output sort
    budget("fn_hash", 1)
    // the shared PSI core on (event_type, value-bucket) cells: the
    // dq_drift_psi plan, 9
    budget("pt_value_drift", 9)
  }

  test("q6: all three predicates push to the lineitem scan (r6)") {
    // the query IS the scan — if any predicate falls out of PushedFilters
    // the canonical selectivity benchmark stops measuring the scan
    val scan = q("q6_forecast_revenue").queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // metadata("PushedFilters") holds the TRANSLATED source filters —
    // dataFilters would stay populated even with pushdown disabled
    val pushed = scan.metadata("PushedFilters")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed: $pushed")
  }

  test("q19: the disjunctive predicate partially pushes brand/size to the part scan") {
    // sparkPlan, not executedPlan: the AQE wrapper hides children from collect
    val scans = q("q19_disjunctive").queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.tableIdentifier.isEmpty && s.output.exists(_.name == "p_brand") => s
    }
    assert(scans.nonEmpty, "no part scan found")
    // CNF extraction must surface the brand disjunction as a pushable
    // In/Or filter on p_brand (the per-branch size/quantity conjuncts
    // stay in the post-scan filter)
    assert(scans.head.dataFilters.map(_.toString).exists(f =>
      f.contains("p_brand")), s"p_brand not pushed: ${scans.head.dataFilters}")
  }

  test("agg_approx_distinct is within 5% of exact countDistinct") {
    val approx = q("agg_approx_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = q("agg_count_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) <= math.max(1, ex * 0.05), s"$k: ${approx(k)} vs $ex")
    }
  }

  test("agg_hll_sketch is within 5% of exact countDistinct") {
    val approx = q("agg_hll_sketch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = q("agg_count_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) <= math.max(1, ex * 0.05), s"$k: ${approx(k)} vs $ex")
    }
  }

  test("agg_hll_union: merged per-day sketches estimate the global distinct within 5%") {
    val row = q("agg_hll_union").collect()(0)
    val (nDays, unionEst) = (row.getLong(0), row.getLong(1))
    val exact = Tables.events(spark, TestSpark.SF)
      .select(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("user_id"))).collect()(0).getLong(0)
    assert(nDays > 0)
    assert(math.abs(unionEst - exact) <= math.max(1, exact * 0.05),
      s"union estimate $unionEst vs exact $exact over $nDays daily sketches")
  }

  test("scan_project plan prunes to the 3 selected columns") {
    val plan = q("scan_project").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_shipdate"), "unexpected column in scan")
  }

  test("scan_filter_pushdown pushes the predicate to parquet") {
    val plan = q("scan_filter_pushdown").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"predicate not pushed:\n$plan")
  }

  test("join_broadcast plan actually broadcasts the part side") {
    val plan = q("join_broadcast").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("join_range_interval is an equi-join (no nested loop) despite the range predicate") {
    val plan = q("join_range_interval").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"range join fell back to BNLJ:\n$plan")
  }

  test("llm_decontaminate broadcasts the eval shingle index (corpus side never shuffles for the join)") {
    val plan = q("llm_decontaminate").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval index not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the decontamination join:\n$plan")
  }

  test("llm_token_budget: the global-order window runs on the distinct-domain frame, not the corpus") {
    // sparkPlan, not executedPlan: the AQE wrapper hides its subtree from
    // TreeNode.collect until execution
    val plan = q("llm_token_budget").queryExecution.sparkPlan
    // the corpus-side window must be partitioned (per n_chars key); the only
    // unpartitioned (global-order) window is allowed inside the broadcast
    // subtree, where the tiny distinct-n_chars frame lives
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window in plan:\n$plan")
    // build sides of broadcast joins = the tiny frames (sparkPlan has no
    // BroadcastExchange yet — EnsureRequirements inserts it later)
    val buildSubtrees = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          case _ => j.left
        }
    }
    val globalOutsideBroadcast = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.filterNot(w => buildSubtrees.exists(
      _.collect { case x if x eq w => x }.nonEmpty))
    assert(globalOutsideBroadcast.isEmpty,
      s"global-order window over the corpus:\n$plan")
  }

  test("rank-limit pushdown: WindowGroupLimit guards the capped windows (r4)") {
    // Spark 3.5+ plants WindowGroupLimitExec below the window when a
    // rank-function filter bounds rows per group — at 100 TB this is the
    // difference between sorting every group fully and keeping a k-row
    // heap per group. Guard the plan shape for the two cap queries.
    Seq("llm_domain_cap", "win_topk_per_group").foreach { name =>
      val plan = q(name).queryExecution.sparkPlan
      val limits = plan.collect {
        case l: org.apache.spark.sql.execution.window.WindowGroupLimitExec => l
      }
      assert(limits.nonEmpty, s"$name: no WindowGroupLimit below the window:\n$plan")
    }
  }

  test("limit_offset returns exactly rows 41..60 by key") {
    val keys = q("limit_offset").collect().map(_.getLong(0)).toSeq
    assert(keys.size == 20)
    val all = ops.Scans.queries("scan_project")(spark, TestSpark.SF) // any ordered source
    val expected = Tables.orders(spark, TestSpark.SF)
      .orderBy(col("o_orderkey")).limit(60).collect().map(_.getLong(0)).drop(40).toSeq
    assert(keys == expected)
  }

  test("win_topk_per_group emits at most 3 rows per customer, rank-ordered") {
    val rows = q("win_topk_per_group").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (_, grp) =>
      assert(grp.length <= 3)
      val sorted = grp.sortBy(_._2)
      assert(sorted.map(_._3).reverse.sorted.reverse.toSeq == sorted.map(_._3).toSeq)
    }
  }

  test("set_intersect_all / set_except_all honor bag multiplicities (r4)") {
    val o = Tables.orders(spark, TestSpark.SF)
    val perKey = o.groupBy(col("o_custkey")).agg(
      count(when(col("o_orderstatus") === "F", 1)).as("nf"),
      count(when(col("o_orderstatus") === "O", 1)).as("no"),
      count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ia = q("set_intersect_all").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    perKey.foreach { case (k, (nf, no, _)) =>
      assert(ia.getOrElse(k, 0L) == math.min(nf, no),
        s"intersect_all multiplicity for $k: got ${ia.getOrElse(k, 0L)}, want min($nf,$no)")
    }
    val ea = q("set_except_all").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    perKey.foreach { case (k, (nf, _, n)) =>
      assert(ea.getOrElse(k, 0L) == n - nf,
        s"except_all multiplicity for $k: got ${ea.getOrElse(k, 0L)}, want ${n - nf}")
    }
  }

  test("agg_mode_tiebreak picks the max-count value, smallest value on ties (r4)") {
    val counts = Tables.lineitem(spark, TestSpark.SF)
      .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val want = counts.groupBy(_._1).view.mapValues(
      _.minBy(t => (-t._3, t._2))).toMap
    q("agg_mode_tiebreak").collect().foreach { r =>
      val (flag, qty, n) = (r.getString(0), r.getDouble(1), r.getLong(2))
      assert((flag, qty, n) == want(flag), s"mode for $flag: got ($qty,$n), want ${want(flag)}")
    }
  }

  test("agg_salted_twophase equals the unsalted aggregate (r4)") {
    val salted = q("agg_salted_twophase").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val plain = Tables.events(spark, TestSpark.SF)
      .groupBy(col("event_type"))
      .agg(round(sum(col("value")), 2).as("sum_value"), count(lit(1)).as("n"))
      .withColumn("a",
        expr("(2 * cast(round(sum_value * 100) as bigint) * 10000 + n)" +
          " div (2 * n)"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("llm_domain_cap keeps at most 3 docs per source, longest first (r4)") {
    val rows = q("llm_domain_cap").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    rows.groupBy(_._2).foreach { case (src, grp) =>
      assert(grp.length <= 3, s"$src kept ${grp.length} docs")
      assert(grp.map(_._4).sorted.toSeq == (1 to grp.length).toSeq)
      // the kept docs are the true top-3 by (n_chars desc, doc_id)
      val all = Tables.documents(spark, TestSpark.SF)
        .filter(col("source") === src).select(col("doc_id"), col("n_chars"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val top = all.sortBy(t => (-t._2, t._1)).take(3).map(_._1).toSet
      assert(grp.map(_._1).toSet == top, s"$src kept wrong docs")
    }
  }

  test("llm_pack_sequences: offsets consistent with a serial concat-and-chunk (r4)") {
    val rows = q("llm_pack_sequences").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var cum = 0L
    rows.foreach { case (id, tok, seqId, off) =>
      assert(seqId == cum / 2048, s"doc $id seq_id $seqId, want ${cum / 2048}")
      assert(off == cum % 2048, s"doc $id offset $off, want ${cum % 2048}")
      cum += tok
    }
  }

  test("llm_text_clean matches a hand-computed doc (r4)") {
    val doc = Tables.documents(spark, TestSpark.SF)
      .orderBy(col("doc_id")).select(col("doc_id"), col("text")).first()
    val kept = doc.getString(1).split(" ", -1)
      .filter(w => w != "a" && w != "the" && w.length > 1)
    val got = q("llm_text_clean").filter(col("doc_id") === doc.getLong(0)).collect()(0)
    assert(got.getInt(2) == kept.mkString(" ").length, "clean_len")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(kept.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.getString(3) == md, "clean_fp")
  }

  test("join_asof_tolerance: matches asof_last within 10 min, NULL beyond (r4)") {
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val last = q("join_asof_last_error").collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    q("join_asof_tolerance").collect().foreach { r =>
      val (id, ts, got) = (r.getLong(0), r.getTimestamp(2), Option(r.getTimestamp(3)))
      last(id) match {
        case Some(prev) if us(ts) - us(prev) <= 600000000L =>
          assert(got.contains(prev), s"event $id should keep in-tolerance match")
        case _ =>
          assert(got.isEmpty, s"event $id should drop stale/absent match, got $got")
      }
    }
  }

  test("pt_downsample keeps exactly rows 1, 11, 21, ... per user (r4)") {
    val kept = q("pt_downsample").collect()
      .map(r => (r.getLong(1), r.getInt(4)))
    kept.groupBy(_._1).foreach { case (u, rows) =>
      val rns = rows.map(_._2).sorted.toSeq
      assert(rns == (1 to rns.max by 10).toSeq, s"user $u kept rns $rns")
    }
    val total = Tables.events(spark, TestSpark.SF)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.length == (total(u) + 9) / 10, s"user $u kept ${rows.length} of ${total(u)}")
    }
  }

  test("llm_split partitions every doc deterministically, ~80/10/10 (r4)") {
    val rows = q("llm_split").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = rows.values.sum
    assert(total == Tables.documents(spark, TestSpark.SF).count())
    assert(rows.keySet == Set("train", "val", "test"))
    // multiplicative-hash buckets are uniform-ish; generous bounds
    assert(rows("train").toDouble / total > 0.7 && rows("train").toDouble / total < 0.9)
  }

  test("llm_mix_rebalance keeps ~target docs per language (r4)") {
    val rows = q("llm_mix_rebalance").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val target = rows.map(_._2).min
    rows.foreach { case (lang, nTotal, nKept) =>
      assert(nKept <= nTotal)
      // kept count concentrates near target (hash uniformity; ±60% slack
      // for the small fixture strata)
      assert(nKept >= target * 0.4 && nKept <= target * 1.6,
        s"$lang kept $nKept vs target $target")
    }
    // the smallest language keeps everything (rate = 1)
    val smallest = rows.minBy(_._2)
    assert(smallest._3 == smallest._2, s"smallest stratum not fully kept: $smallest")
  }

  test("approx_top_k: exact when budget ≥ domain; bounded subset when saturated") {
    val words = Tables.documents(spark, TestSpark.SF)
      .select(explode(split(col("text"), " ")).as("word"))
    val n = words.count()
    val exact = words.groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def sketch(budget: Int) = words
      .agg(expr(s"approx_top_k(word, 5, $budget)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // budget ≥ domain (31 corpus words): the regime the declared queries
    // pin — every reported count is EXACT and the 5 reported counts are
    // the 5 largest (set may differ from a specific top-5 only under ties)
    val exactRegime = sketch(32)
    assert(exactRegime.length == 5)
    exactRegime.foreach { case (w, c) =>
      assert(c == exact(w), s"budget≥domain must be exact: '$w' $c vs ${exact(w)}")
    }
    val fifthLargest = exact.values.toSeq.sorted(Ordering[Long].reverse)(4)
    assert(exactRegime.map(_._2).min >= fifthLargest)
    // saturated budget (< domain): reported items must still be real words
    // with counts within the n/budget Frequent-Items bound. (Observed
    // Spark 4.1 behavior on this distribution: a saturated sketch can
    // return an EMPTY estimate — which is why the declared queries must
    // keep budget ≥ domain, and why this assertion allows emptiness.)
    val saturated = sketch(16)
    saturated.foreach { case (w, c) =>
      assert(exact.contains(w), s"saturated sketch invented item '$w'")
      assert(math.abs(c - exact(w)) <= n / 16,
        s"saturated count for '$w' ($c) off by more than n/16 from ${exact(w)}")
    }
  }

  test("join_skew_salted equals the plain broadcast-join formulation") {
    val thr = spark.createDataFrame(ops.Telemetry.thresholds).toDF("et", "thr")
    val plain = Tables.events(spark, TestSpark.SF)
      .join(broadcast(thr), col("event_type") === col("et"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") > col("thr"), 1L).otherwise(0L)).as("n_above"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = q("join_skew_salted")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
    // the declared query must pin the SHUFFLED join with the salt in the
    // join keys — broadcast would never partition by salt (sparkPlan, not
    // executedPlan: AQE hides children from collect)
    val shj = q("join_skew_salted").queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty, "salted join was not planned as a shuffled hash join")
    assert(shj.head.leftKeys.exists(_.toString.contains("__salt")),
      s"salt missing from join keys: ${shj.head.leftKeys}")
  }

  test("llm_quality_filter: pass iff no rule fails, and first_fail recomputes") {
    val rows = q("llm_quality_filter").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, ml, dr, dom) = (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val expected =
        if (nw < 20) "min_words"
        else if (ml < 4.0 || ml > 5.0) "word_len"
        else if (dr < 0.4) "distinct_ratio"
        else if (dom > 0.125) "dominance"
        else null
      assert(r.getBoolean(5) == (expected == null), s"pass flag wrong for doc ${r.getLong(0)}")
      assert((if (r.isNullAt(6)) null else r.getString(6)) == expected,
        s"first_fail wrong for doc ${r.getLong(0)}")
    }
    // both outcomes must occur, or the rules are vacuous on this corpus
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("win_error_streaks: longest streak recomputes from raw events for every user") {
    val raw = Tables.events(spark, TestSpark.SF)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    // full-µs instant for the sort: getTime is ms-truncated and the
    // fixture's events carry sub-ms micros — a ms tie-break could order
    // same-ms events differently than the query's ORDER BY ts
    def us(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val expected = raw.groupBy(_._1).map { case (u, evs) =>
      val types = evs.sortBy(e => (us(e._2), e._3)).map(_._4)
      var cur = 0; var best = 0; var multi = 0L
      types.foreach { t =>
        if (t == "error") { cur += 1; best = math.max(best, cur) }
        else { if (cur >= 2) multi += 1; cur = 0 }
      }
      if (cur >= 2) multi += 1
      u -> (best, multi)
    }.filter(_._2._1 > 0)
    val got = q("win_error_streaks").collect()
      .map(r => r.getLong(0) -> (r.getLong(1).toInt, r.getLong(2))).toMap
    assert(got == expected, s"streaks mismatch: got ${got.size} users, expected ${expected.size}")
  }

  test("llm_unigram_logprob: scores bounded by the rarest/commonest word logprobs") {
    val words = Tables.documents(spark, TestSpark.SF)
      .select(explode(split(col("text"), " ")).as("word"))
    val counts = words.groupBy("word").count().collect().map(_.getLong(1))
    val t = counts.sum.toDouble
    val (lo, hi) = (-math.log(counts.max / t), -math.log(counts.min / t))
    val rows = q("llm_unigram_logprob").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getDouble(1)
      assert(v >= lo - 1e-6 && v <= hi + 1e-6, s"doc ${r.getLong(0)} score $v outside [$lo, $hi]")
      assert(r.getBoolean(2) == (v <= 3.41))
    }
  }

  test("pt_funnel: stage counts recompute from a serial per-user replay (r5)") {
    val evs = Tables.events(spark, TestSpark.SF)
      .select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 + r.getTimestamp(1).getNanos / 1000 % 1000, r.getString(2)))
    var nV = 0L; var nC = 0L; var nP = 0L
    evs.groupBy(_._1).foreach { case (_, rows) =>
      val tView = rows.filter(_._3 == "view").map(_._2).minOption
      val tClick = tView.flatMap(v =>
        rows.filter(e => e._3 == "click" && e._2 > v).map(_._2).minOption)
      val tBuy = tClick.flatMap(c =>
        rows.filter(e => e._3 == "purchase" && e._2 > c).map(_._2).minOption)
      if (tView.isDefined) nV += 1
      if (tClick.isDefined) nC += 1
      if (tBuy.isDefined) nP += 1
    }
    val Array(row) = q("pt_funnel").collect()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((nV, nC, nP)))
    assert(nV >= nC && nC >= nP, "funnel must be monotone")
  }

  test("pt_gap_fill: contiguous 6h grid per user, fills carry the last value (r5)") {
    val rows = q("pt_gap_fill").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val ordered = rs.sortBy(_._2)
      // every step is exactly 6 h — no holes, no duplicates
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 - a._2 == 6L * 3600 * 1000, s"user $u grid step broken")
        case _ =>
      }
      assert(ordered.head._3 > 0, s"user $u spine must start at an observed bucket")
      // a filled bucket repeats the running value; an observed one may change it
      ordered.sliding(2).foreach {
        case Array(a, b) if b._3 == 0 =>
          assert(b._4 == a._4, s"user $u filled bucket changed the carried value")
        case _ =>
      }
    }
  }

  test("pt_winsorize: clipped mean sits between the clip bounds and moves toward them (r5)") {
    val raw = Tables.events(spark, TestSpark.SF)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    q("pt_winsorize").collect().foreach { r =>
      val (t, n, avgRawE6, avgWE6) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val vals = raw.filter(_._1 == t).map(_._2)
      assert(n == vals.length)
      assert(math.abs(avgRawE6 / 1e6 - vals.sum / vals.length) < 1e-4)
      // winsorized mean is bounded by the clip interval by construction
      assert(avgWE6 / 1e6 >= vals.min && avgWE6 / 1e6 <= vals.max)
    }
  }

  test("llm_chunk_overlap: chunk grid covers every doc; fps recompute for one doc (r5)") {
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val chunks = q("llm_chunk_overlap").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    chunks.groupBy(_._1).foreach { case (d, cs) =>
      val w = docs(d)
      val expectStarts = 1 to math.max(w.length, 1) by 48
      assert(cs.length == expectStarts.length, s"doc $d chunk count")
      assert(cs.map(_._2).sorted.toSeq == cs.indices.toSeq, s"doc $d chunk ids")
      cs.sortBy(_._2).zip(expectStarts).foreach { case ((_, _, n, fp), st) =>
        val exp = w.slice(st - 1, st - 1 + 64)
        assert(n == exp.length, s"doc $d chunk at $st length")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(exp.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(fp == md, s"doc $d chunk at $st fingerprint")
      }
    }
  }

  test("llm_sample_temperature: weights normalize and upsample tail languages (r5)") {
    val rows = q("llm_sample_temperature").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2) / 1e6,
        r.getLong(3) / 100.0))
    val nTotal = rows.map(_._2).sum
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "weights must sum to 1")
    // α < 1 compresses the distribution: every tail language's weight
    // exceeds its raw share, every head language's is below it
    rows.foreach { case (lang, n, w, eff) =>
      val share = n.toDouble / nTotal
      if (share < 0.2) assert(w > share, s"$lang tail not upsampled")
      if (share > 0.2) assert(w < share, s"$lang head not downsampled")
      assert(math.abs(eff - w * nTotal) < 0.011)
    }
  }

  test("pt_sessionize: session bounds respect the 30-minute gap invariant") {
    val rows = q("pt_sessionize").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3), r.getTimestamp(4)))
    rows.groupBy(_._1).foreach { case (_, sess) =>
      val ordered = sess.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val gapS = (b._3.getTime - a._4.getTime) / 1000.0
          assert(gapS > 1800.0, s"adjacent sessions closer than gap: $gapS s")
        case _ =>
      }
    }
  }

  test("dq_profile: one column's metrics recompute from a raw collect (r5)") {
    val rows = q("dq_profile").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val qty = Tables.lineitem(spark, TestSpark.SF)
      .select("l_quantity").collect().map(_.getDouble(0))
    val p = rows("l_quantity")
    assert(p.getLong(1) == qty.length)
    assert(p.getLong(2) == 0) // no nulls in the fixture
    assert(p.getLong(3) == qty.distinct.length)
    assert(p.getDouble(4) == qty.min)
    assert(p.getDouble(5) == qty.max)
    // mean_e6 is the half-up integer micro-mean of the exact e2 values
    val sumE2 = qty.map(v => math.round(v * 100)).sum
    assert(p.getLong(6) == (2 * sumE2 * 10000 + qty.length) / (2L * qty.length))
  }

  test("fn_try_arith: try_* yields NULL exactly where the ANSI-strict twin throws (r5)") {
    val rows = q("fn_try_arith").collect()
    assert(rows.nonEmpty)
    // overflow: orderkey > 7 → null; orderkey <= 7 → exact sum
    rows.foreach { r =>
      val k = r.getLong(0)
      if (k > 7) assert(r.isNullAt(3), s"orderkey $k should overflow to null")
      else assert(r.getLong(3) == k + 9223372036854775800L)
    }
    // the strict twin of the same expression THROWS under ANSI mode
    val strict = intercept[Exception] {
      Tables.lineitem(spark, TestSpark.SF)
        .select(expr("l_orderkey + 9223372036854775800L").as("boom"))
        .collect()
    }
    assert(strict.getMessage.toLowerCase.contains("overflow"),
      s"expected ANSI overflow, got: ${strict.getMessage.take(120)}")
    // all three null paths must actually fire within the window
    assert(rows.exists(_.isNullAt(2)), "no zero-divisor rows surfaced")
    assert(rows.exists(!_.isNullAt(2)))
    assert(rows.exists(_.isNullAt(4)), "no non-numeric cast rows surfaced")
    assert(rows.exists(!_.isNullAt(4)))
  }

  test("pt_hysteresis: edges match a serial per-user state-machine replay (r5)") {
    val got = q("pt_hysteresis").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // serial replay: arm at >= 200, clear at <= 50, emit rising edges
    val events = Tables.events(spark, TestSpark.SF)
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.sql.Timestamp](2), r.getDouble(3)))
    // .toSeq: flatMap on the Map overload would rebuild a Map and collapse
    // a user's multiple alert edges onto one key
    val want = events.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      var armed = false
      // full µs precision: getTime alone truncates to ms and misorders
      // same-millisecond events
      evs.sortBy(e => ((e._3.getTime / 1000) * 1000000000L + e._3.getNanos, e._2))
        .toSeq.flatMap { case (_, eid, _, v) =>
        if (v >= 200.0 && !armed) { armed = true; Some((uid, eid)) }
        else { if (v <= 50.0) armed = false; None }
      }
    }.toSet
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty)
  }

  test("pt_retention: day-0 retention is 1.0 and cohorts partition the user base (r5)") {
    val rows = q("pt_retention").collect()
    assert(rows.nonEmpty)
    // every user is active on their first day → offset-0 retention is 1.0
    val day0 = rows.filter(_.getInt(1) == 0)
    assert(day0.nonEmpty)
    day0.foreach(r => assert(r.getLong(3) == 1000000L,
      s"cohort ${r.get(0)} day-0 retention_e6 ${r.getLong(3)}"))
    // offset-0 actives across cohorts == total distinct users (a partition)
    val cohortTotal = day0.map(_.getLong(2)).sum
    val users = Tables.events(spark, TestSpark.SF)
      .select("user_id").distinct().count()
    assert(cohortTotal == users, s"cohorts cover $cohortTotal of $users users")
    // retention_e6 never exceeds 1e6 and is strictly positive
    rows.foreach { r =>
      assert(r.getLong(3) > 0 && r.getLong(3) <= 1000000L)
    }
  }
}
