package ptx.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** Text-analysis operators for a training-data pipeline (builder prompt /
  * SURVEY G11 extension): language-ID heuristic, quality scoring, token
  * counting, document fingerprinting.
  *
  * Scale notes (100 TB): all four are embarrassingly parallel scans (no
  * shuffle except llm_fingerprint's window on the fingerprint — equivalent
  * to one hash partition on fp). Marker/stopword lists are tiny literal
  * arrays folded into codegen, not joins.
  */
object TextAnalysis {

  /** Per-language marker words, drawn from the corpus vocabulary (31 distinct
    * words — FIXTURES probe). The heuristic is n-gram/stopword-list scoring;
    * tie-break by fixed language priority en>es>de>fr>zh.
    */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("join", "hash", "row"),
    "es" -> Seq("batch", "scan", "column"),
    "de" -> Seq("filter", "small", "slow"),
    "fr" -> Seq("merge", "order", "vector"),
    "zh" -> Seq("line", "data", "customer"))

  private def scoreExpr(words: Seq[String]) = {
    val cond = words.map(w => s"x = '$w'").mkString(" OR ")
    s"size(filter(w, x -> $cond))"
  }
  private def scoreSqlDuck(words: Seq[String]) = {
    val cond = words.map(w => s"x = '$w'").mkString(" OR ")
    s"len(list_filter(w, x -> $cond))"
  }

  /** Ordered argmax CASE over the four per-lang scores (same text in both
    * dialects). */
  private val predCase =
    """CASE
      | WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      | WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      | WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      | WHEN s_fr >= s_zh THEN 'fr'
      | ELSE 'zh' END""".stripMargin

  /** High-frequency "stopwords" of this corpus (top-5 by count). */
  private val stop = Seq("join", "hash", "row", "batch", "scan")

  /** Doc-grain winnowing frame for `llm_winnowing` (Schleimer et al.,
    * SIGMOD 2003): input (doc_id, source, text, …) → (source, w, g, fps)
    * where `g` is the word-3-gram polynomial-hash sequence
    * (llm_fingerprint's word feature 17·len + first-char codepoint,
    * base 31 mod 1e9+7 — exact in BIGINT: every partial stays
    * < (1e9+7)·31 + 2^15 < 2^35) and `fps` the distinct window-4 minima.
    * Factored so the guarantee — any shared ≥ w+k−1 = 6-word run between
    * two docs shares a fingerprint — is testable on synthetic docs
    * (LlmOpsSpec) while the declared query runs it over the corpus. */
  private[ptx] def winnowedFingerprints(
      docs: org.apache.spark.sql.DataFrame,
      spread: Boolean = false): org.apache.spark.sql.DataFrame = {
    val fdef = (off: String) =>
      s"CAST(17 * length(element_at(w, i$off)) + " +
        s"ascii(substring(element_at(w, i$off), 1, 1)) AS BIGINT)"
    // r19: `spread = true` hash-exchanges the docs across cores before
    // the interpreted winnow chain (polynomial grams + window minima),
    // which had been serial in the fixture's one scan task. Measured
    // per caller: the UNCAPPED pair anchor wins big (1.8 → 1.0 s —
    // its posting self-join amortizes the exchange), but the capped
    // twin and the stats audit run WORSE spread (their df-semi-join /
    // explode tails multiply the 32-partition stages: capped 1.4 →
    // 1.9 s), so each call site picks.
    val base = if (spread)
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    else docs
    base
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      // word-3-gram polynomial hashes (seed 7: 7*31 = 217)
      .withColumn("g", expr(
        s"""CASE WHEN size(w) >= 3 THEN
           |  transform(sequence(1, size(w) - 2), i ->
           |    ((((217 + ${fdef("")}) % 1000000007) * 31
           |       + ${fdef(" + 1")}) % 1000000007 * 31
           |       + ${fdef(" + 2")}) % 1000000007)
           |ELSE array() END""".stripMargin))
      // robust winnowing selection: window w = 4 over the gram-hash
      // sequence, min per window (slice clamps the final windows; a
      // doc with 1-3 grams selects the min of what it has), then the
      // per-doc distinct fingerprint set
      .withColumn("fps", expr(
        """CASE WHEN size(g) = 0 THEN array()
          |ELSE array_distinct(transform(
          |  sequence(1, greatest(size(g) - 3, 1)),
          |  j -> array_min(slice(g, j, 4)))) END""".stripMargin))
  }

  def queries: Map[String, QFn] = Map(
    "llm_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .withColumn("s_en", expr(scoreExpr(markers("en"))))
        .withColumn("s_es", expr(scoreExpr(markers("es"))))
        .withColumn("s_de", expr(scoreExpr(markers("de"))))
        .withColumn("s_fr", expr(scoreExpr(markers("fr"))))
        .withColumn("s_zh", expr(scoreExpr(markers("zh"))))
        .withColumn("pred", expr(predCase))
        .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"),
          col("s_fr"), col("s_zh"), col("pred"),
          (col("pred") === col("lang")).as("agrees"))
        .orderBy(col("doc_id"))
    }),
    "llm_quality_score" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_words", size(col("w")))
        .withColumn("avg_word_len",
          (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
        .withColumn("stop_hits", expr(scoreExpr(stop)))
        .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_words"))
        .withColumn("quality",
          least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("avg_word_len") / 8.0, lit(1.0)) * 0.3)
        .select(col("doc_id"), col("n_words"), col("avg_word_len"),
          col("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    }),
    "llm_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("re_tokens"),
          ceil(col("n_chars").cast("double") / 4.0).as("est_bpe"))
        .orderBy(col("doc_id"))
    }),
    "llm_fingerprint" -> ((s, d) => {
      val byFp = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .withColumn("fp", md5(col("text")))
        // word-level polynomial rolling hash (seed 7, base 31, mod 1e9+7):
        // left fold, word feature = 17*len + first-char codepoint
        .withColumn("rh", expr(
          """aggregate(
            |  transform(split(text, ' '),
            |    w -> CAST(length(w) * 17 + ascii(substr(w, 1, 1)) AS BIGINT)),
            |  CAST(7 AS BIGINT),
            |  (a, x) -> (a * 31 + x) % 1000000007)""".stripMargin))
        .withColumn("n_copies", count(lit(1)).over(byFp))
        .withColumn("keep_id", min(col("doc_id")).over(byFp))
        .select(col("doc_id"), col("fp"), col("rh"), col("n_copies"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),
    // ✓ C4/Gopher-style rule-chain document filter — see [[qualityFilter]]
    "llm_quality_filter" -> ((s, d) =>
      qualityFilter(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // ✓ BPE pair counts (r6): one merge-learning round of byte-pair
    // encoding — the most frequent adjacent character pair, weighted by
    // word frequency (what a tokenizer trainer computes per merge; the
    // top pair IS the next merge rule). Counting over word TYPES × their
    // corpus counts, so the pair explode touches |vocab| rows, not the
    // corpus; top-20 ties cut by pair text (deterministic LIMIT).
    // ✓ vocabulary coverage curve (r6): cumulative corpus-token share of
    // the top-k most frequent word types — the Zipf curve a tokenizer
    // designer reads to size a vocabulary ("how many types cover 95% of
    // tokens?"). Scale shape: the only full-corpus work is the word-count
    // aggregation; the ranked cumsum window runs AFTER orderBy().limit(100)
    // cuts the vocab to ≤100 rows (TakeOrdered — no global-order window
    // over the vocabulary), and the corpus total arrives as a broadcast
    // one-row frame. Ties in frequency rank by word text so rnk and
    // cum_frac are deterministic.
    "llm_vocab_coverage" -> ((s, d) => {
      val uni = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val top = uni.orderBy(col("c").desc, col("word")).limit(100)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("word"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      top
        .crossJoin(broadcast(uni.agg(sum(col("c")).as("n"))))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("c").desc, col("word")))
          .cast("long"))
        .withColumn("cum_frac",
          round(sum(col("c")).over(w).cast("double") / col("n"), 6))
        .select(col("rnk"), col("word"), col("c"), col("cum_frac"))
        .reportSort(col("rnk"))
    }),
    "llm_bpe_pair_counts" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      wc.filter(length(col("word")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("n"))
        .reportSort(col("n").desc, col("pair"))
        .limit(20)
    }),
    // ◌ BPE merge LEARNER (r14): the iterative loop whose single round
    // `llm_bpe_pair_counts` audits — K = 8 merge rounds of byte-pair
    // encoding over the word-TYPE table (Sennrich et al. 2016: symbols
    // start as characters; each round merges the highest-count adjacent
    // symbol pair, counts weighted by word frequency, left-to-right
    // non-overlapping replacement). Output: the learned merge table
    // (rank, left, right, merged, score) — THE artifact a tokenizer
    // trainer ships. Deterministic: ties cut by (left, right) text, no
    // RNG — a rerun reproduces the table bit-for-bit (the kmeans/
    // sampler discipline).
    // Scale: ONE corpus pass builds (word-type, count); every round
    // after that runs on the |vocab| frame (types, not corpus — the
    // real structure of BPE training) with a 1-row driver collect per
    // round (the sanctioned model-parameter collect) and
    // checkpointLazy + free so round r−1's blocks die when round r
    // materializes (the clusterPairs loop discipline — plan depth and
    // executor storage stay O(1) in rounds).
    // ◌: iterative driver loop — no SQL twin; LlmOpsSpec pins the
    // round-1 agreement with llm_bpe_pair_counts' top pair,
    // non-increasing merge scores, and rerun determinism. The loop body
    // lives in ptx.functions.BpeLearn (its per-round 1-row argmax
    // collect is the sanctioned model-parameter collect, kept off the
    // collect-free ops/ surface — the VectorIndex.kmeans placement).
    // r17: served through the persisted ptx.sources.BpeModel artifact
    // (build-once/encode-many, VERDICT r16 #1) — the learner runs ONCE
    // per (corpus, k) inside BpeModel.ensure and every BPE-grain query
    // reads the artifact; IoSpec pins artifact-read == inline
    // bit-identity, so the declared output is unchanged.
    "llm_bpe_learn" -> ((s, d) =>
      ptx.sources.BpeModel.readMerges(s, ptx.sources.BpeModel.ensure(s, d, k = 8))),
    // ◌ BPE ENCODER (r15): apply the learned K=8 merge table to the
    // word-TYPE table — the corpus-wide pass a pipeline runs to count
    // REAL tokens (budget/packing/fertility under the actual tokenizer,
    // not whitespace words). Output per word type: frequency, final
    // token count, space-joined segmentation. The shared mergeFold makes
    // the segmentation bit-identical to the trainer's final state, and
    // once-per-rank-in-order equals the reference priority-loop encoder
    // (a merge only creates adjacencies of its OWN new symbol — see the
    // BpeLearn.encode scaladoc). ◌: rides the iterative learner → no
    // SQL twin; LlmOpsSpec pins the round trip (tokens concatenate back
    // to the word), the conservation bound corpus_tokens ≥ corpus_chars −
    // Σ merge scores — equality whenever no learned merge is
    // self-adjacent (left == right), since scores count OVERLAPPING
    // pairs while replacement is non-overlapping ('aaa' under a+a:
    // score 2, removes 1 token) — and rerun determinism.
    // Scale: one corpus pass for types; the K merge applications are
    // vocab-sized (the BpeVocabProbe axis), chained as one projection.
    // r17: reads the persisted type table (BpeModel `types/` — encoded
    // once at artifact build; parquet round-trips strings/longs exactly,
    // IoSpec pins bit-identity with the inline learnEncode).
    "llm_bpe_encode" -> ((s, d) =>
      ptx.sources.BpeModel.readTypes(s, ptx.sources.BpeModel.ensure(s, d, k = 8))),
    // ◌ DOC-GRAIN tokenizer counts (r16, VERDICT r15 #3): the encoder's
    // per-TYPE token counts joined back to the corpus and aggregated per
    // document — (doc_id, n_words, n_tokens, n_word_chars), the table
    // the budget/packing family cuts on when it uses REAL tokenizer
    // output instead of the chars/4 estimate (see Curation's
    // llm_pack_sequences_bpe / llm_token_budget_bpe, which consume it).
    // ◌: rides the iterative learner → no SQL twin; LlmOpsSpec pins the
    // conservation identities (Σ doc n_tokens = encoder Σ cnt·n_tokens;
    // Σ n_word_chars likewise; n_words ≤ n_tokens ≤ n_word_chars per
    // doc), per-doc word counts vs a driver recompute, and rerun
    // determinism. Scale: corpus explode ⋈ |vocab|-sized type table on
    // the word key + one doc_id agg — pair-free (BpeLearn.docTokensOf
    // over the persisted BpeModel type table, r17 — the learner no
    // longer re-runs per invocation).
    "llm_bpe_doc_tokens" -> ((s, d) =>
      ptx.sources.BpeModel.docTokensFor(s, d, k = 8)),
    // ◌ REAL-token fertility (r16): subword tokens per word, per lang —
    // THE fertility metric a tokenizer team reads (a lang whose words
    // split into many BPE tokens is under-served by the learned vocab
    // and pays more sequence budget per sentence). The whitespace
    // `llm_tokenizer_fertility` reports chars/token under a split-on-
    // space token; this is its learned-tokenizer twin over the doc-grain
    // table, tokens/word in half-up e6 fixed point (the house integer
    // recipe). ◌: rides the learner; LlmOpsSpec pins per-lang sums
    // against the doc-grain table, the 1 ≤ fertility ≤ chars/word rails,
    // and rerun determinism. Scale: docTokens + a lang-grain agg.
    "llm_tokenizer_fertility_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ptx.sources.BpeModel.docTokensFor(s, d, k = 8)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          expr("CASE WHEN n_words > 0 THEN" +
            " (2 * cast(n_tokens as decimal(38,0)) * 1000000 + n_words)" +
            " div (2 * n_words) END").as("tokens_per_word_e6"))
        .reportSort(col("lang"))
    }),
    // ✓ hot-shingle df audit (r13): top-20 3-word shingles by document
    // frequency (ties broken on the shingle string) plus each one's
    // corpus doc-share — THE df-skew diagnostic that parameterizes the
    // dedup family (the containment prefix filter's rarity cutoff and
    // MinHash banding both assume a df shape; a corpus whose hottest
    // shingle spans half the docs needs the df-robust formulations —
    // SCALE.md measured the containment anchor blowing up ~10× under
    // exactly that skew while the prefix twin held). The shingle-grain
    // sibling of llm_stopword_candidates (word df): stopwords tune
    // CLEANING, hot shingles tune DEDUP. String shingles here — the
    // output IS the shingle and the tie-break must be the string in both
    // engines (a 20-row report, not a shuffle key; the hashed kernel
    // stays for the wide dedup paths).
    // Scale: (shingle → distinct-doc) df agg bounded by the shingle
    // vocabulary, global top-20 = TakeOrdered, broadcast 1-row total.
    // 100 TB posture (SCALE.md: 4.9× at 10× corpus, the one row with
    // string bytes on the exchange): run this audit on a SAMPLE — df
    // RANK (what parameterizes dedup) stabilizes at a few million docs;
    // the full-corpus pass buys only exact counts nobody tunes on.
    "llm_hot_shingles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dfw = docs
        // spread the string-shingle explode + df partial agg: a one-row-
        // group file is scanned by one task
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(w) >= 3 THEN
            |  array_distinct(transform(sequence(1, size(w) - 2),
            |    i -> concat_ws(' ', slice(w, i, 3))))
            |ELSE array() END""".stripMargin)).as("shingle"))
        .groupBy(col("shingle")).agg(countDistinct(col("doc_id")).as("df"))
      dfw.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .select(col("shingle"), col("df"),
          expr("(2 * df * 1000000 + n_docs) div (2 * n_docs)")
            .as("doc_share_e6"))
        .reportSort(col("df").desc, col("shingle"))
        .limit(20)
    }),
    // ✓ winnowing fingerprints (r14): the Schleimer–Wilkerson–Aiken
    // (SIGMOD 2003) local fingerprint selection, per source — hash every
    // word 3-gram (the llm_fingerprint polynomial, word feature
    // 17·len + first-char codepoint, base 31 mod 1e9+7), slide a
    // 4-hash window, keep each window's MINIMUM. The winnowing
    // guarantee: any shared run of ≥ w+k−1 = 6 words between two docs
    // shares a selected fingerprint, at an expected density of
    // 2/(w+1) = 0.4 of the gram count — the audit row's density_e6
    // column CHECKS that bound on real data (a density far above it
    // means adversarially increasing hashes; far below, long repeated
    // runs). This is the storage-sizing number for a fingerprint-index
    // dedup tier: n_fps is what gets persisted, n_grams is what full
    // shingling would persist.
    // Scale: the gram-hash + window-min + distinct chain is ONE
    // per-row HOF pass (no explode until the final fp-vocabulary agg),
    // so the corpus scan is shuffle-free; the only exchanges are the
    // source-grain stats agg and the (source, fp)-keyed distinct —
    // both carry 64-bit hashes, never shingle strings (contrast
    // llm_hot_shingles, whose output must be the string). At 100 TB
    // the fp-distinct agg is bounded by the winnowed vocabulary
    // (~0.4 × gram vocabulary), hash-partitioned — no hot key can
    // exceed a source's own fingerprint count.
    "llm_winnowing" -> ((s, d) => {
      val doc = winnowedFingerprints(Tables.documents(s, d))
      // pin: the doc-grain frame feeds the stats agg AND the
      // fp-vocabulary branch; per-branch column pruning defeats
      // exchange reuse without the cache
      val dd = ptx.Caching.pin(doc.select(col("source"),
        size(col("g")).as("ng"), size(col("fps")).as("nf"), col("fps")))
      val agg = dd.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ng")).cast("long").as("n_grams"),
        sum(col("nf")).cast("long").as("n_fps"))
      val dfp = dd.select(col("source"), explode(col("fps")).as("fp"))
        .groupBy(col("source"))
        .agg(countDistinct(col("fp")).as("n_distinct_fps"))
      agg.join(dfp, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_grams"), col("n_fps"),
          coalesce(col("n_distinct_fps"), lit(0L)).as("n_distinct_fps"),
          // half-up e6 selected-per-gram density (decimal-lifted: the
          // ·1e6 product outgrows BIGINT at corpus scale — q8 rule)
          expr("CASE WHEN n_grams > 0 THEN" +
            " (2 * cast(n_fps as decimal(38,0)) * 1000000 + n_grams)" +
            " div (2 * n_grams) ELSE 0L END").as("density_e6"))
        .reportSort(col("source"))
    }),
    // ✓ length histogram (r9): 50-char bucket distribution of document
    // lengths with each bucket's corpus share — the length profile a
    // curation pass checks before choosing truncation/packing budgets.
    // Bucketing is exact integer `div`; the share is the half-up e6 ratio
    // (decimal-lifted, FIXTURES.md fixed-point discipline) against a
    // broadcast 1-row total.
    "llm_length_histogram" -> ((s, d) => {
      // apex pinned: the bucket aggregate feeds both the output rows and
      // the corpus-total branch — unpinned, the corpus is scanned twice
      val h = ptx.Caching.pin(Tables.documents(s, d)
        .groupBy(expr("n_chars div 50").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")))
      h.crossJoin(broadcast(h.agg(sum(col("n")).as("total"))))
        .select(col("bucket"), col("n"), col("sum_chars"),
          expr("CASE WHEN total > 0 THEN" +
            " (2 * cast(n as decimal(38,0)) * 1000000 + total)" +
            " div (2 * total) END").as("share_e6"))
        .reportSort(col("bucket"))
    }),
    // ✓ tokenizer fertility (r9): the multilingual tokenizer-efficiency
    // stat, reported as its conventional inverse — chars-per-token
    // (HIGHER = the tokenizer covers more text per token = MORE
    // efficient; a high-fertility language pays more tokens per char and
    // so scores LOWER here). Whitespace tokens as everywhere in this
    // corpus; char counts from the fixture's n_chars (= length(text),
    // FIXTURES.md — same source as llm_length_histogram, so the two r9
    // ops cannot drift apart); exact integer ratio as half-up e6 with
    // the decimal lift, zero-token guard per the ANSI discipline.
    "llm_tokenizer_fertility" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("CASE WHEN n_tokens > 0 THEN" +
            " (2 * cast(sum_chars as decimal(38,0)) * 1000000 + n_tokens)" +
            " div (2 * n_tokens) END").as("chars_per_token_e6"))
        .reportSort(col("lang"))
    }),
    // ✓ corpus-derived stopword candidates (r9): word types appearing in
    // ≥50% of documents, with doc frequency and the half-up e6 df ratio —
    // the data-driven denylist that feeds llm_text_clean (whose shipped
    // list is hand-pinned; a real pipeline derives it from exactly this
    // query, per-corpus, before cleaning). Ordered (df desc, word) so the
    // report reads top-down.
    // Scale: one (word → distinct-doc) df aggregation — vocab-bounded
    // output, corpus-bounded input, the llm_tfidf df pass reused verbatim;
    // the doc total is a broadcast 1-row frame.
    "llm_stopword_candidates" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dfw = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
      dfw.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .filter(col("df") * 2 >= col("n_docs"))
        .select(col("word"), col("df"), col("n_docs"),
          expr("(2 * cast(df as decimal(38,0)) * 1000000 + n_docs)" +
            " div (2 * n_docs)").as("df_ratio_e6"))
        .reportSort(col("df").desc, col("word"))
    }),
    // ✓ n-gram diversity (r9): per-source distinct-4-gram / total-4-gram
    // type-token ratio — the standard templated/synthetic-text tell (a
    // template-generated shard repeats its 4-grams; natural text's ratio
    // stays high). The corpus-level complement to the per-doc repetition
    // score (llm_repetition sees within-doc loops; this sees a THOUSAND
    // docs stamped from one template, each individually clean). Distinct
    // counts 64-bit GramHashes keys (r10 — 8-byte shuffle keys through
    // the two-phase distinct agg instead of gram strings, the
    // llm_dedup_spans trade; identical counts mod the documented ≈2e-11
    // collision caveat, parity-verified against the string oracle).
    // templated = ttr < 0.5, the conventional real-world gate; VACUOUS on
    // this fixture (every source measures 0.97-1.0 — natural-ish synthetic
    // text, the llm_text_clean no-PII-tokens precedent) but the dup-heavy
    // 10x probe corpus does trip it.
    // Scale: gram stream linear in corpus tokens, built scan-local; the
    // two-phase distinct agg is the only shuffle (plus output sort).
    // ✓ per-doc NOVELTY attribution (r11): for each doc, the fraction of
    // its distinct word-8-grams whose FIRST owner (min doc_id over every
    // doc containing the gram) is the doc itself — the "how much new text
    // does this doc actually contribute" signal data-curation ORDERING
    // uses (a doc whose grams all appeared earlier adds nothing and is
    // the first candidate to drop under a token budget; llm_dedup_spans
    // flags the duplicated spans, this scores the contributing side).
    // The min-doc_id owner is the SAME keeper rule llm_span_rewrite
    // applies per gram, lifted to a per-doc score. Docs with < 8 words
    // carry no gram and are excluded (both engines).
    // Scale: two gram-keyed shuffles on 8-byte GramHashes keys — the
    // per-doc distinct and the first-owner agg — then one fan-in join
    // back to occurrences; everything linear in corpus tokens, a hot
    // boilerplate gram is one agg group and its join fan-out equals its
    // occurrence count (already paid in the scan). Same ≈2e-11 64-bit
    // collision caveat as the other hashed-gram oracles (DuckDB groups
    // gram STRINGS).
    "llm_doc_novelty" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      // r18 (guide §2.4): the owner used to be a separate gram-grain
      // aggregate JOINED back to the (doc, gram) frame, which forced the
      // frame pinned (two consumers) and shuffled it twice (once for the
      // owner agg, once for the join). min-over-a-window computes the same
      // owner IN PLACE: one hash exchange on the gram key up front, which
      // the distinct, the window, and nothing else below re-pays — the
      // gram stream is hashed once, shuffled once, never cached. The
      // repartition(h) is load-bearing: hash partitioning on h satisfies
      // the (doc_id, h) distinct's clustering requirement (subset rule),
      // so the distinct runs exchange-free on the same pass the window
      // needs. Profile before: 11 jobs / 14 s summed task time; the pin
      // build alone wrote the ~1M-row gram frame to block storage per run.
      val g = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr("gram_hashes(w, 8)")).as("h"))
        .repartition(col("h"))
        .distinct()
      val wOwn = Window.partitionBy(col("h"))
      g.withColumn("owner", min(col("doc_id")).over(wOwn))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("owner") === col("doc_id"), 1)).as("n_novel"))
        .withColumn("novelty_e6",
          expr("(2 * n_novel * 1000000 + n_grams) div (2 * n_grams)"))
        .orderBy(col("doc_id"))
    }),
    "llm_ngram_diversity" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("w"))
        .select(col("source"), explode(expr("gram_hashes(w, 4)")).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_distinct"))
        .select(col("source"), col("n_grams"), col("n_distinct"),
          expr("CASE WHEN n_grams > 0 THEN" +
            " (2 * cast(n_distinct as decimal(38,0)) * 1000000 + n_grams)" +
            " div (2 * n_grams) END").as("ttr_e6"))
        .withColumn("templated", col("ttr_e6") < lit(500000L))
        .reportSort(col("source"))
    }),
    // ✓ Zipf fit (r9): OLS of ln(count) on ln(rank) over the top-100 word
    // types — the slope (≈ −1 for natural language, flatter for templated/
    // synthetic text) plus r² is the classic one-glance corpus-health
    // diagnostic next to the coverage curve (llm_vocab_coverage shares the
    // rank order). Determinism end to end: ranks tie-break on word text,
    // each regression INPUT is e6-snapped (x=ln rank, y=ln count as
    // BIGINTs — per-term rounding precedes every order-sensitive sum, the
    // dq_drift_psi lesson), and slope/intercept/r² come out of the exact
    // integer normal equations via sign-aware half-up division (the
    // numerators go NEGATIVE — slope ≈ −1 — so the plain half-up identity
    // is wrong here; negate-divide-negate keeps both engines' integer
    // division on non-negative operands, where they agree).
    // Products are lifted to DECIMAL(38,0): n·Σxy at 100 TB token counts
    // (y_e6 ≈ 41e6 at 1e18 tokens) leaves BIGINT's 9.2e18 headroom.
    // Scale: the only corpus-sized work is the word-count agg; the
    // regression runs on a 100-row frame after TakeOrdered.
    "llm_zipf_fit" -> ((s, d) => {
      val uni = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val top = uni.orderBy(col("c").desc, col("word")).limit(100)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("c").desc, col("word")))
          .cast("long"))
        .withColumn("x", expr("cast(round(ln(rnk) * 1e6) as long)"))
        .withColumn("y", expr("cast(round(ln(c) * 1e6) as long)"))
      top.agg(
        count(lit(1)).as("n_types"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
        sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"))
        // normal equations on the e6 grid: num/den/syyc are exact integers
        // (the 1e12 input scale cancels in every ratio below)
        .withColumn("num", expr("n_types * sxy - sx * sy"))
        .withColumn("den", expr("n_types * sxx - sx * sx"))
        .withColumn("syyc", expr("n_types * syy - sy * sy"))
        // r² = num²/(den·syyc): num² would pass DECIMAL(38,0)'s 1e38
        // ceiling (num ~1e18 even at fixture scale), so num and den·syyc
        // are first truncated by 1e6/1e18 — the scales chosen so
        // r2_e6 = rk²/dk exactly (the 1e12 input scale and the e6 output
        // scale fold into the divisors) and every intermediate fits both
        // LONG (div results) and DECIMAL(38,0) (the rk² square, lifted
        // below). A ≤1e-10 relative perturbation of the true r², identical
        // integer ops on both engines — parity is exact
        .withColumn("rk", expr("abs(num) div 1000000"))
        .withColumn("dk", expr("(den * syyc) div 1000000000000000000"))
        .select(col("n_types"),
          expr("""CASE WHEN den > 0 THEN
            |  CASE WHEN num >= 0
            |    THEN (2 * num * 1000000 + den) div (2 * den)
            |    ELSE -((2 * (-num) * 1000000 + den) div (2 * den))
            |  END END""".stripMargin).as("slope_e6"),
          expr("""CASE WHEN den > 0 THEN
            |  CASE WHEN sy * den - num * sx >= 0
            |    THEN (2 * (sy * den - num * sx) + n_types * den)
            |         div (2 * n_types * den)
            |    ELSE -((2 * (num * sx - sy * den) + n_types * den)
            |           div (2 * n_types * den))
            |  END END""".stripMargin).as("intercept_e6"),
          expr("""CASE WHEN dk > 0 THEN
            |  (2 * cast(rk as decimal(38,0)) * rk + dk) div (2 * dk)
            |  END""".stripMargin).as("r2_e6"))
    })
  )

  /** C4/Gopher-style rule-chain document filter: length, mean word length,
    * vocabulary diversity, single-word dominance — each doc gets a pass
    * flag plus the FIRST failing rule (the audit trail a curation pipeline
    * reports). Thresholds are pinned to split this corpus non-trivially
    * (measured: 91% / 97% / 66% / ~85% per-rule pass at sf0.01);
    * punctuation/boilerplate rules are vacuous on the no-punctuation
    * fixture text and deliberately omitted.
    *
    * Scale: pure scan, zero shuffle — dominance (max in-doc word
    * multiplicity) folds over the SORTED word array as a max run length in
    * one HOF instead of an explode + per-word groupBy. Stateless
    * project-only arithmetic, so it runs UNCHANGED on a streaming
    * documents frame (StreamingSpec asserts the batch-twin property) —
    * quality filtering is the curation step most often applied at INGEST
    * time, before anything lands in the lake.
    */
  def qualityFilter(docs: org.apache.spark.sql.DataFrame,
                    keep: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")))
      .withColumn("mean_len",
        expr("aggregate(w, 0, (a, x) -> a + length(x))").cast("double") /
          col("n_words"))
      .withColumn("distinct_ratio",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("max_run", expr(
        """aggregate(sort_array(w), named_struct('prev', '', 'run', 0, 'mx', 0),
          |  (a, x) -> named_struct(
          |    'prev', x,
          |    'run', IF(x = a.prev, a.run + 1, 1),
          |    'mx', greatest(a.mx, IF(x = a.prev, a.run + 1, 1))),
          |  a -> a.mx)""".stripMargin))
      .withColumn("dominance", col("max_run").cast("double") / col("n_words"))
      .withColumn("first_fail",
        when(col("n_words") < 20, "min_words")
          .when(col("mean_len") < 4.0 || col("mean_len") > 5.0, "word_len")
          .when(col("distinct_ratio") < 0.4, "distinct_ratio")
          .when(col("dominance") > 0.125, "dominance"))
      .select(col("doc_id") +: col("n_words") +: col("mean_len") +:
        col("distinct_ratio") +: col("dominance") +:
        col("first_fail").isNull.as("pass") +: col("first_fail") +:
        keep.map(col): _*)

  /** The winnowing DuckDB CTE chain (words → gram-hash sequence →
    * window-min fingerprint sets, at doc grain with source and gram
    * count carried) — ONE SQL source shared by the `llm_winnowing`
    * oracle here and the `llm_dedup_winnow` oracle in LlmScale, exactly
    * as the Spark side shares [[winnowedFingerprints]]: an edit to the
    * polynomial hash cannot diverge the two. Compose as
    * `WITH $winnowSqlCtes, …`; `sel(doc_id, source, ng, fps)`. */
  private[ptx] def winnowSqlCtes: String =
    """words AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |           FROM documents),
      |feat AS (SELECT doc_id, source,
      |  CASE WHEN len(w) >= 3 THEN
      |    list_transform(generate_series(1, len(w) - 2), i ->
      |      ((((217 + (17 * len(w[i]) + ascii(w[i][1]))) % 1000000007) * 31
      |         + (17 * len(w[i + 1]) + ascii(w[i + 1][1]))) % 1000000007 * 31
      |         + (17 * len(w[i + 2]) + ascii(w[i + 2][1]))) % 1000000007)
      |  ELSE [] END AS g FROM words),
      |sel AS (SELECT doc_id, source, len(g) AS ng,
      |  CASE WHEN len(g) = 0 THEN []
      |       ELSE list_distinct(list_transform(
      |         generate_series(1, greatest(len(g) - 3, 1)),
      |         j -> list_min(list_slice(g, j, j + 3)))) END AS fps
      |  FROM feat)""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_stopword_candidates" ->
      """WITH dfw AS (
        |  SELECT word, count(DISTINCT doc_id) AS df
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents) e
        |  GROUP BY word),
        |t AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT word, df, n_docs,
        |  (2 * df * 1000000 + n_docs) // (2 * n_docs) AS df_ratio_e6
        |FROM dfw CROSS JOIN t
        |WHERE df * 2 >= n_docs
        |ORDER BY df DESC, word""".stripMargin,
    // string shingles on BOTH sides (the tie-break is the string);
    // count(DISTINCT) is BIGINT so no HUGEINT cast needed
    "llm_hot_shingles" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM words, unnest(generate_series(1, len(w) - 2)) AS s(i)
        |  WHERE len(w) >= 3),
        |dfw AS (SELECT shingle, count(DISTINCT doc_id) AS df FROM g GROUP BY shingle),
        |t AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT shingle, df,
        |  CAST((2 * df * 1000000 + n_docs) // (2 * n_docs) AS BIGINT) AS doc_share_e6
        |FROM dfw CROSS JOIN t
        |ORDER BY df DESC, shingle LIMIT 20""".stripMargin,
    // winnowing: same polynomial gram hash / window-min / distinct chain
    // as the Spark HOFs, in DuckDB list functions (list_slice is
    // bounds-inclusive where Spark's slice takes a length — j..j+3 ≡
    // slice(g, j, 4); both clamp at the tail)
    "llm_winnowing" ->
      (s"WITH $winnowSqlCtes,\n" +
      """agg AS (SELECT source, count(*) AS n_docs,
        |          CAST(sum(ng) AS BIGINT) AS n_grams,
        |          CAST(sum(len(fps)) AS BIGINT) AS n_fps
        |        FROM sel GROUP BY source),
        |dfp AS (SELECT source, count(DISTINCT fp) AS n_distinct_fps
        |        FROM (SELECT source, unnest(fps) AS fp FROM sel) u
        |        GROUP BY source)
        |SELECT a.source, n_docs, n_grams, n_fps,
        |  COALESCE(n_distinct_fps, 0) AS n_distinct_fps,
        |  CASE WHEN n_grams > 0 THEN
        |    CAST((2 * n_fps * 1000000 + n_grams) // (2 * n_grams) AS BIGINT)
        |  ELSE 0 END AS density_e6
        |FROM agg a LEFT JOIN dfp USING (source)
        |ORDER BY a.source""".stripMargin),
    // grams grouped by their STRING here (the Spark side's 64-bit
    // GramHashes keys are a shuffle-width optimization; identical counts
    // absent a 64-bit collision — the llm_dedup_spans precedent)
    "llm_doc_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM t, unnest(generate_series(1, len(w) - 7)) AS s(i)
        |  WHERE len(w) >= 8),
        |own AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  count(CASE WHEN own.owner = g.doc_id THEN 1 END) AS n_novel,
        |  (2 * count(CASE WHEN own.owner = g.doc_id THEN 1 END) * 1000000
        |     + count(*)) // (2 * count(*)) AS novelty_e6
        |FROM g JOIN own USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "llm_ngram_diversity" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT source, array_to_string(w[i:i+3], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(w) - 3)) AS s(i)
        |  WHERE len(w) >= 4)
        |SELECT source, count(*) AS n_grams,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
        |  CASE WHEN count(*) > 0 THEN
        |    (2 * count(DISTINCT g) * 1000000 + count(*)) // (2 * count(*))
        |    END AS ttr_e6,
        |  (2 * count(DISTINCT g) * 1000000 + count(*)) // (2 * count(*))
        |    < 500000 AS templated
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // HUGEINT mirrors the Spark side's DECIMAL(38,0) lift; every // runs
    // on non-negative operands (negate-divide-negate) so both engines'
    // integer division agrees
    "llm_zipf_fit" ->
      """WITH uni AS (SELECT word, count(*) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY 1),
        |top AS (SELECT * FROM (
        |    SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rnk
        |    FROM uni) WHERE rnk <= 100),
        |xy AS (SELECT CAST(round(ln(rnk) * 1e6) AS BIGINT) AS x,
        |              CAST(round(ln(c) * 1e6) AS BIGINT) AS y FROM top),
        |s AS (SELECT count(*) AS n,
        |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |        CAST(sum(x * y) AS HUGEINT) AS sxy,
        |        CAST(sum(x * x) AS HUGEINT) AS sxx,
        |        CAST(sum(y * y) AS HUGEINT) AS syy FROM xy),
        |d AS (SELECT n, sx, sy, n * sxy - sx * sy AS num,
        |        n * sxx - sx * sx AS den, n * syy - sy * sy AS syyc FROM s),
        |e AS (SELECT *, abs(num) // 1000000 AS rk,
        |        (den * syyc) // 1000000000000000000 AS dk FROM d)
        |SELECT n AS n_types,
        |  CAST(CASE WHEN den > 0 THEN CASE WHEN num >= 0
        |    THEN (2 * num * 1000000 + den) // (2 * den)
        |    ELSE -((2 * (-num) * 1000000 + den) // (2 * den)) END END
        |    AS BIGINT) AS slope_e6,
        |  CAST(CASE WHEN den > 0 THEN CASE WHEN sy * den - num * sx >= 0
        |    THEN (2 * (sy * den - num * sx) + n * den) // (2 * n * den)
        |    ELSE -((2 * (num * sx - sy * den) + n * den) // (2 * n * den))
        |    END END AS BIGINT) AS intercept_e6,
        |  CAST(CASE WHEN dk > 0 THEN
        |    (2 * rk * rk + dk) // (2 * dk) END AS BIGINT) AS r2_e6
        |FROM e""".stripMargin,
    "llm_length_histogram" ->
      """WITH h AS (
        |  SELECT n_chars // 50 AS bucket, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
        |SELECT bucket, n, sum_chars,
        |  CASE WHEN total > 0 THEN
        |    (2 * n * 1000000 + total) // (2 * total) END AS share_e6
        |FROM h, t ORDER BY bucket""".stripMargin,
    "llm_tokenizer_fertility" ->
      """WITH s AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    (2 * sum_chars * 1000000 + n_tokens) // (2 * n_tokens) END
        |    AS chars_per_token_e6
        |FROM s ORDER BY lang""".stripMargin,
    "llm_vocab_coverage" ->
      """WITH uni AS (
        |  SELECT u.word AS word, count(*) AS c
        |  FROM (SELECT string_split(text,' ') AS ws FROM documents),
        |       unnest(ws) AS u(word)
        |  GROUP BY 1),
        |tot AS (SELECT sum(c) AS n FROM uni),
        |ranked AS (
        |  SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rnk,
        |         sum(c) OVER (ORDER BY c DESC, word ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM uni)
        |SELECT rnk, word, c, round(CAST(cum AS DOUBLE) / n, 6) AS cum_frac
        |FROM ranked CROSS JOIN tot WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
    "llm_bpe_pair_counts" ->
      """WITH wc AS (
        |  SELECT u.word AS word, count(*) AS c
        |  FROM (SELECT string_split(text,' ') AS ws FROM documents),
        |       unnest(ws) AS u(word)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT substring(word, i, 2) AS pair, c
        |  FROM wc, unnest(generate_series(1, length(word)-1)) AS t(i)
        |  WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS n
        |FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "llm_lang_id" ->
      s"""SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh, $predCase AS pred,
        |       ($predCase = lang) AS agrees
        |FROM (SELECT doc_id, lang,
        |        ${scoreSqlDuck(markers("en"))} AS s_en,
        |        ${scoreSqlDuck(markers("es"))} AS s_es,
        |        ${scoreSqlDuck(markers("de"))} AS s_de,
        |        ${scoreSqlDuck(markers("fr"))} AS s_fr,
        |        ${scoreSqlDuck(markers("zh"))} AS s_zh
        |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) x) y
        |ORDER BY doc_id""".stripMargin,
    "llm_quality_score" ->
      s"""SELECT doc_id, n_words, avg_word_len, stop_ratio,
        |  least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  (1.0 - stop_ratio) * 0.3 +
        |  least(avg_word_len / 8.0, 1.0) * 0.3 AS quality
        |FROM (SELECT doc_id, n_words,
        |        CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
        |        CAST(stop_hits AS DOUBLE) / n_words AS stop_ratio
        |      FROM (SELECT doc_id, n_chars, len(w) AS n_words,
        |              ${scoreSqlDuck(stop)} AS stop_hits
        |            FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w
        |                  FROM documents) a) b) c
        |ORDER BY doc_id""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+')) AS re_tokens,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_fingerprint" ->
      """SELECT doc_id, fp, rh,
        |  count(*) OVER (PARTITION BY fp) AS n_copies,
        |  min(doc_id) OVER (PARTITION BY fp) AS keep_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |FROM (SELECT doc_id, md5(text) AS fp,
        |        list_reduce(
        |          list_prepend(CAST(7 AS BIGINT),
        |            list_transform(string_split(text, ' '),
        |              w -> CAST(length(w) * 17 + ascii(substr(w, 1, 1)) AS BIGINT))),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS rh
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // dominance via unnest + per-word count (max multiplicity == max run
    // length of the sorted array — same number, different formulation)
    "llm_quality_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |cnt AS (SELECT doc_id, max(c) AS mx FROM (
        |    SELECT doc_id, word, count(*) AS c
        |    FROM (SELECT doc_id, unnest(words) AS word FROM w) e
        |    GROUP BY doc_id, word) g
        |  GROUP BY doc_id),
        |m AS (SELECT w.doc_id,
        |        len(words) AS n_words,
        |        CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum')
        |             AS DOUBLE) / len(words) AS mean_len,
        |        CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
        |        CAST(cnt.mx AS DOUBLE) / len(words) AS dominance
        |      FROM w JOIN cnt ON w.doc_id = cnt.doc_id)
        |SELECT doc_id, n_words, mean_len, distinct_ratio, dominance,
        |       first_fail IS NULL AS pass, first_fail
        |FROM (SELECT *,
        |        CASE WHEN n_words < 20 THEN 'min_words'
        |             WHEN mean_len < 4.0 OR mean_len > 5.0 THEN 'word_len'
        |             WHEN distinct_ratio < 0.4 THEN 'distinct_ratio'
        |             WHEN dominance > 0.125 THEN 'dominance' END AS first_fail
        |      FROM m) f
        |ORDER BY doc_id""".stripMargin
  )
}
