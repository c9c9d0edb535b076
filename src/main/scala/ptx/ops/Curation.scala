package ptx.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import ptx.{QFn, Tables}
import ptx.ops.BoundedSort.ReportSortOps

/** G16 — training-data curation operators (builder-prompt extension, round 3):
  * the selection/filtering steps a large-scale pretraining pipeline runs
  * after dedup — benchmark decontamination, deterministic stratified
  * sampling, Gopher-style repetition scoring, and token-budget selection.
  *
  * Scale notes (100 TB):
  *  - decontamination joins the corpus against the EVAL side's shingles —
  *    eval/benchmark sets are bounded (thousands of docs), so the eval
  *    shingle index broadcasts and the train side streams with no shuffle
  *    of the corpus;
  *  - stratified sampling is a pure scan (deterministic multiplicative
  *    hash on the key — no RNG state, reproducible across engines/runs);
  *  - repetition scoring is embarrassingly parallel per-row HOF arithmetic;
  *  - token-budget selection avoids the single-partition global-cumsum
  *    window: a two-level formulation aggregates per n_chars key (the
  *    distinct domain is small), computes the running total over that tiny
  *    frame, broadcasts it back, and finishes with a per-key window — the
  *    same shape as `win_rank_ties`/`win_ntile_cume` (Windows.scala).
  */
object Curation {

  /** Knuth multiplicative-hash bucket in [0, mod) — THE deterministic
    * keep/assign primitive shared by `llm_stratified_sample`, `llm_split`
    * and `llm_mix_rebalance` (one definition; its DuckDB twin below must
    * stay bit-identical). The id is reduced mod 2^31 BEFORE the multiply
    * so the product stays within Long range for ANY 64-bit id
    * (2^31 · 2654435761 < 2^63) — the unreduced form overflowed for
    * ids ≥ ~3.5e9, exactly the regime the operators are designed for.
    * The reduction uses pmod so a NEGATIVE id still lands in [0, mod):
    * with sign-of-dividend %, a negative id made every `bucket < k` test
    * true and silently skewed splits/samples on both engines (ADVICE r4).
    * For ids in [0, 2^31) (all fixtures) pmod ≡ %, so results are
    * unchanged. */
  private def knuthBucket(id: org.apache.spark.sql.Column, mod: Long) =
    pmod(id, lit(2147483648L)) * 2654435761L % 4294967296L % mod

  /** The block-scan sequence-packing tail over a (doc_id, tok) frame —
    * ONE definition shared by `llm_pack_sequences` (chars/4 estimate,
    * oracle-✓) and `llm_pack_sequences_bpe` (real tokenizer counts, r16)
    * so the estimate and the real-token form cannot drift. Per-1024-doc
    * block totals carry the global order, a broadcast joins each block's
    * prefix back, a per-block window finishes — O(corpus/blocks) per
    * task at any scale, no global-order window. */
  private def packSequences(base0: DataFrame): DataFrame = {
    val base = base0.withColumn("blk", floor(col("doc_id") / 1024).cast("long"))
    val blkTot = base.groupBy(col("blk")).agg(sum(col("tok")).as("blk_total"))
    val wBlk = Window.orderBy(col("blk"))
    val blkCum = blkTot
      .withColumn("blk_before", sum(col("blk_total")).over(wBlk) - col("blk_total"))
      .select(col("blk"), col("blk_before"))
    val wIntra = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
    base.join(broadcast(blkCum), Seq("blk"))
      .withColumn("cum_before",
        col("blk_before") + sum(col("tok")).over(wIntra) - col("tok"))
      .select(col("doc_id"), col("tok"),
        floor(col("cum_before") / 2048).cast("long").as("seq_id"),
        (col("cum_before") % 2048).as("seq_offset"))
      .orderBy(col("doc_id"))
  }

  /** The greedy longest-first token-budget tail — keep docs in
    * (`key` desc, doc_id) order until `budget` of `est` is spent. Shared
    * by `llm_token_budget` (n_chars key, chars/4 estimate, oracle-✓) and
    * `llm_token_budget_bpe` (real token counts, r16). Two-level cumsum:
    * per-key totals over the small distinct-`key` domain carry the
    * global order, broadcast back, per-key window for the intra-key
    * part — no global-order window over the corpus. */
  private def greedyTokenBudget(base: DataFrame, key: String, est: String,
                                budget: Long): DataFrame = {
    val keyTot = base.groupBy(col(key)).agg(sum(col(est)).as("key_total"))
    val wKeys = Window.orderBy(col(key).desc)
    val keyCum = keyTot
      .withColumn("cum_before", sum(col("key_total")).over(wKeys) - col("key_total"))
      .select(col(key), col("cum_before"))
    val wIntra = Window.partitionBy(col(key)).orderBy(col("doc_id"))
    base.join(broadcast(keyCum), Seq(key))
      .withColumn("cum_tokens", col("cum_before") + sum(col(est)).over(wIntra))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col(key), col(est), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB-dialect twin of [[knuthBucket]]; `(x % m + m) % m` is the
    * portable pmod spelling. */
  private def knuthBucketSql(idExpr: String, mod: Long): String =
    s"($idExpr % 2147483648 + 2147483648) % 2147483648 * 2654435761 % 4294967296 % $mod"

  /** Shared spine of `llm_split_contamination` and its Bloom twin — ONE
    * definition of the split assignment, the gram stream, and the report
    * assembly, so the exact op and the declared-◌ sketch cannot drift
    * (the minhashSignatures/bandKeys factoring discipline at this grain).
    * Documents under the SAME deterministic Knuth 80/10/10 split as
    * `llm_split`. */
  private def contaminationSplitDocs(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", knuthBucket(col("doc_id"), 100))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  /** The (split, doc_id, gram-hash) occurrence stream both contamination
    * ops consume. Pinned: it feeds the per-gram presence/sketch build AND
    * the per-doc hit pass — unpinned, the corpus tokenizes and hashes
    * twice. Requires `TextGrams.register` on the session. */
  private def contaminationGrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ptx.Caching.pin(docs
      .select(col("split"), col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("split"), col("doc_id"),
        explode(expr("gram_hashes(w, 8)")).as("h")))

  /** Report assembly for the contamination family: per non-train split,
    * doc counts + gram/contamination counts + the e6 half-up fraction —
    * identical output shape for the exact op and the sketch twin. */
  private def contaminationReport(docs: org.apache.spark.sql.DataFrame,
                                  perSplit: org.apache.spark.sql.DataFrame,
                                  docsHit: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(perSplit, Seq("split"), "left_outer")
      .join(docsHit, Seq("split"), "left_outer")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"))
      .withColumn("contamination_e6", expr(
        "CASE WHEN n_grams > 0 THEN " +
          "(2 * cast(n_contaminated as decimal(38,0)) * 1000000 + n_grams)" +
          " div (2 * n_grams) END"))
      .reportSort(col("split"))

  /** Per-doc bigram repetition transform (the body of `llm_repetition`
    * without the total-order sort): stateless project/filter arithmetic,
    * so it runs UNCHANGED on a streaming documents frame — the curation
    * twin of the G10 batch-twin property (StreamingSpec asserts it).
    *
    * r11: bigrams ride the codegen'd `gram_hashes` kernel as 64-bit keys
    * instead of the interpreted transform/concat_ws HOF that allocated a
    * bigram STRING per token (the span family's r10 lesson applied to
    * the next HOF hotspot — measured ~4× (1.84 s → 0.46 s) on the
    * sf0.1 bench line), and
    * the distinct count compares longs. Distinct-by-hash equals
    * distinct-by-string absent a 64-bit collision (the documented
    * ≈2e-11 `llm_ngram_diversity` caveat; the DuckDB oracle still
    * groups strings and still hash-matches).
    */
  def repetition(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    ptx.functions.TextGrams.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bi", expr("gram_hashes(w, 2)"))
      .select(col("doc_id"),
        size(col("bi")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bi"))).cast("long").as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("bi"))).cast("double") / size(col("bi")))
          .as("rep_ratio"))
  }

  def queries: Map[String, QFn] = Map(
    // Benchmark decontamination: training docs (source ≠ src0) sharing ≥ 5
    // distinct 3-word shingles with the eval set (source = src0). Shingle
    // definition shared with the dedup family (ptx.functions.TextShingles).
    "llm_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // eval side is broadcast (collected to the driver) — no repartition
      val evalSh = ptx.functions.TextShingles
        .shingles(docs.filter(col("source") === "src0"), repartitionByDoc = false)
        .toDF("eval_id", "shingle")
      val trainSh = ptx.functions.TextShingles
        .shingles(docs.filter(col("source") =!= "src0"))
      trainSh.join(broadcast(evalSh), Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_shared"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("doc_id"))
    }),
    // ✓ per-EVAL-doc leakage report (r13): the reverse direction of
    // `llm_decontaminate` (that one drops TRAIN docs; this one tells the
    // eval owner which benchmark items are compromised and how badly) —
    // for each eval doc (source = src0, the decontaminate convention):
    // distinct word-8-grams, how many of them appear in ANY training
    // doc, and how many distinct training docs share at least one.
    // 8-grams ride the codegen'd 64-bit `gram_hashes` kernel (the
    // width-8 collision canary in GuardrailSpec pins hash≡string on the
    // live fixture; the oracle groups strings). Scale: the eval side is
    // bounded by construction (a benchmark suite is thousands of docs),
    // so its distinct gram frame BROADCASTS and the corpus side is one
    // scan + one eval-grain aggregation — never corpus×corpus. Zero-hit
    // eval docs are reported with zeros (the whole point of the audit).
    "llm_eval_leakage" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      val docs = Tables.documents(s, d)
      // pinned: the distinct eval-gram frame feeds the broadcast hits
      // join AND the per-eval totals — unpinned, the eval side
      // tokenizes/hashes twice (bounded either way, but free to fix)
      val evalG = ptx.Caching.pin(docs.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_id"),
          explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
        .distinct())
      // train grams NOT deduped pre-join: the per-eval countDistinct
      // dedups anyway, and a corpus-wide (doc, gram) distinct would be
      // a second full-corpus shuffle for nothing
      val trainG = docs.filter(col("source") =!= "src0")
        .select(col("doc_id").as("train_id"),
          explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
      val hits = trainG.join(broadcast(evalG), Seq("h"))
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("h")).as("n_leaked_grams"),
          countDistinct(col("train_id")).as("n_train_docs"))
      val totals = evalG.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
      docs.filter(col("source") === "src0").select(col("doc_id").as("eval_id"))
        .join(totals, Seq("eval_id"), "left_outer")
        .join(hits, Seq("eval_id"), "left_outer")
        .select(col("eval_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
          coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
        .orderBy(col("eval_id"))
    }),
    // ✓ cross-source overlap matrix (r13): for every source pair sharing
    // at least one distinct 3-word shingle — shared-shingle count, each
    // side's shingle-vocabulary size, and the shingle-set Jaccard — the
    // "which crawl dumps substantially duplicate each other" report that
    // decides whether two sources should even enter the same dedup pass
    // (overlapping web snapshots are the canonical case). Shingles ride
    // the codegen'd 64-bit gram_hashes kernel (width-3 collision canary;
    // oracle groups strings). Shape: per-shingle SORTED source set
    // (bounded by source cardinality, 20 here) exploded into ordered
    // pairs — one gram-keyed shuffle + one pair-keyed agg, NEVER a
    // gram-keyed self-join whose fan-out a hot boilerplate shingle
    // squares. At planet scale (millions of domains) the per-shingle set
    // gets a size cap — a shingle on every domain is boilerplate, not
    // overlap signal; at the source grain here the set is complete.
    "llm_source_overlap" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      val docs = Tables.documents(s, d)
      // pinned: the distinct (source, shingle) frame feeds both the
      // per-source vocabulary sizes and the pair explode
      val g = ptx.Caching.pin(docs
        .select(col("source"), split(col("text"), " ").as("w"))
        .select(col("source"), explode(expr("gram_hashes(w, 3)")).as("h"))
        .distinct())
      val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
      // r18 (guide §4 expression choice): the per-gram source-pair explode
      // was a nested transform/slice HOF chain — Spark evaluates those
      // lambdas INTERPRETED per element, and the gram-group loop measured
      // ~30 s of task time at sf0.1. The inverted-index self-join below
      // generates the IDENTICAL (src1 < src2, n_shared) pairs (the h-join
      // fan-out is |sources-sharing-h|² ≤ #sources², exactly the HOF's
      // pair space) through whole-stage-codegen join + hash agg instead.
      val pairs = g.toDF("src1", "h").join(g.toDF("src2", "h"), Seq("h"))
        .filter(col("src1") < col("src2"))
        .groupBy(col("src1"), col("src2"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src1"), col("n").as("n1"))), Seq("src1"))
        .join(broadcast(sizes.select(col("source").as("src2"), col("n").as("n2"))), Seq("src2"))
        .select(col("src1"), col("src2"), col("n_shared"), col("n1"), col("n2"),
          expr("(2 * n_shared * 1000000 + (n1 + n2 - n_shared))" +
            " div (2 * (n1 + n2 - n_shared))").as("jaccard_e6"))
        .reportSort(col("src1"), col("src2"))
    }),
    // Deterministic 20% stratified sample per lang via a Knuth
    // multiplicative hash of doc_id — reproducible, engine-independent
    // (unlike df.sample's RNG), and a pure scan at any scale.
    "llm_stratified_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("bucket", knuthBucket(col("doc_id"), 100))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("bucket") < 20, 1)).as("n_sampled"))
        .withColumn("rate", col("n_sampled").cast("double") / col("n_total"))
        .reportSort(col("lang"))
    }),
    // Gopher-style repetition score: fraction of duplicated word bigrams
    // within each doc (high ratio = boilerplate/spam candidate). Raw double
    // ratio — scalar arithmetic is bit-identical across engines, so no
    // rounding (memory: round() half-divergence).
    "llm_repetition" -> ((s, d) =>
      repetition(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // ✓ per-source document cap (r4): keep at most 3 docs per source,
    // preferring longer docs (n_chars desc, doc_id tiebreak) — the
    // standard per-domain cap that stops one crawl domain from dominating
    // a training mix. One shuffle on source; row_number short-circuits
    // per group (WindowGroupLimit pushes the rn <= 3 limit into the sort
    // at 100 TB, so no group is fully materialized).
    "llm_domain_cap" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rn"))
        .orderBy(col("doc_id"))
    }),
    // ✓ denylist/boilerplate token removal (r4): drop stopwords and
    // 1-char tokens, emit the cleaned text's fingerprint + removal
    // counts. Embarrassingly parallel per-row HOF work — the same
    // filter-rebuild-fingerprint shape implements PII regex redaction
    // (swap the lambda for a regexp predicate); the fixtures contain no
    // PII-like tokens, so the denylist variant is the oracle-checkable
    // form.
    "llm_text_clean" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .withColumn("kept", expr(
          "filter(w, x -> NOT x IN ('a', 'the') AND length(x) > 1)"))
        .select(
          col("doc_id"),
          (size(col("w")) - size(col("kept"))).as("n_removed"),
          length(array_join(col("kept"), " ")).as("clean_len"),
          md5(array_join(col("kept"), " ")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),
    // ✓ training-sequence packing (r4): concatenate the corpus in doc_id
    // order and cut fixed 2048-token sequences — each doc gets the
    // sequence id and offset where it starts (the concat-and-chunk
    // packing step before tokenized training shards are written). The
    // global running total uses a BLOCK-SCAN, not a global-order window:
    // per-1024-doc-block totals (tiny frame) carry the global order, a
    // broadcast joins each block's prefix back, and a per-block window
    // finishes — O(corpus/blocks) per task at any scale.
    "llm_pack_sequences" -> ((s, d) =>
      packSequences(Tables.documents(s, d)
        .select(col("doc_id"),
          ceil(col("n_chars").cast("double") / 4.0).cast("long").as("tok")))),
    // ◌ packing on REAL tokenizer counts (r16, VERDICT r15 #3): the
    // identical block-scan packing (shared packSequences tail — the
    // estimate and the real-token form cannot drift) over the BPE
    // doc-grain token table (BpeLearn.docTokens — the llm_bpe_doc_tokens
    // body) instead of the chars/4 estimate. This is the form a training
    // pipeline actually ships: sequence boundaries land where the
    // TOKENIZER says documents end, not where a byte-count heuristic
    // guesses. ◌: rides the iterative learner → no SQL twin; LlmOpsSpec
    // pins the output against a driver-side cumsum recompute over the
    // doc-token table and Σ-tok agreement with llm_bpe_doc_tokens.
    // Scale: docTokens (corpus ⋈ vocab + one doc agg) + the block-scan
    // (per-1024-doc totals, broadcast prefix, per-block window) — no
    // global-order window, no pair space.
    "llm_pack_sequences_bpe" -> ((s, d) =>
      packSequences(ptx.sources.BpeModel.docTokensFor(s, d, k = 8)
        .select(col("doc_id"), col("n_tokens").as("tok")))),
    // ✓ shard manifest (r6): WebDataset-style export sharding — each doc
    // (per language, doc_id order) lands in the ~64 KB shard its RUNNING
    // byte offset starts in; one manifest row per shard (doc count,
    // bytes, id range) — what the tar-shard writer and the training
    // loader both consume. Same block-scan discipline as
    // llm_pack_sequences: per-1024-doc block totals + a broadcast
    // |blocks|-row prefix + an intra-block window — no window ever
    // orders the whole corpus, per language or otherwise.
    "llm_shard_manifest" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("blk", floor(col("doc_id") / 1024).cast("long"))
      val blkTot = base.groupBy(col("lang"), col("blk"))
        .agg(sum(col("n_chars")).as("blk_total"))
      val wBlk = Window.partitionBy(col("lang")).orderBy(col("blk"))
      val blkCum = blkTot
        .withColumn("blk_before",
          sum(col("blk_total")).over(wBlk) - col("blk_total"))
        .select(col("lang"), col("blk"), col("blk_before"))
      val wIntra = Window.partitionBy(col("lang"), col("blk")).orderBy(col("doc_id"))
      base.join(broadcast(blkCum), Seq("lang", "blk"))
        .withColumn("cum_before",
          col("blk_before") + sum(col("n_chars")).over(wIntra) - col("n_chars"))
        .withColumn("shard_id", floor(col("cum_before") / 65536).cast("long"))
        .groupBy(col("lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("shard_id"))
    }),
    // ✓ deterministic train/val/test split (r4): 80/10/10 by the same
    // Knuth multiplicative hash the sampler uses — assignment is a pure
    // function of doc_id (stable across runs, engines, partitionings;
    // adding docs never reassigns existing ones, unlike randomSplit).
    // Reported: per-split counts, lang coverage, id range. Pure scan +
    // one 3-row aggregate at any scale.
    "llm_split" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("bucket", knuthBucket(col("doc_id"), 100))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .reportSort(col("split"))
    }),
    // ✓ split-contamination audit (r11): the GPT-3-style decontamination
    // MEASUREMENT the split family lacked — llm_decontaminate flags train
    // docs overlapping a designated eval SOURCE, but after an 80/10/10
    // hash split the question a training run actually asks is "how much
    // of my held-out text also appears verbatim in train?" (Brown et al.
    // 2020 §4 measure it at n-gram grain; leakage inflates eval). Over
    // the SAME deterministic Knuth split as llm_split, for each non-train
    // split: distinct word-8-grams, how many also occur anywhere in
    // train, the e6 contamination fraction (house exact-integer half-up),
    // and how many docs have ≥1 contaminated gram.
    // Scale: everything gram-grained rides ONE gram-keyed aggregation
    // (per-gram split-presence bits) shuffling 8-byte GramHashes keys,
    // linear in corpus tokens, no pair space anywhere (a hot boilerplate
    // gram is one agg group / one semi-join probe hit, not a fan-out);
    // the only other gram-keyed exchange is the per-doc hit semi join.
    // At 100 TB the gram aggregation is the big term; the standard
    // production refinement is a Bloom filter on the train gram set
    // broadcast to the eval scan — same answer minus false-positive
    // noise, one corpus pass. Same ≈2e-11 64-bit key-collision caveat as
    // llm_ngram_diversity (the oracle groups gram STRINGS; the LlmOpsSpec
    // twin test pins hash↔string count identity end-to-end).
    "llm_split_contamination" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      val docs = contaminationSplitDocs(s, d)
      // r19 (guide §5 caching, the llm_containment_prefix precedent): the
      // gram stream feeds the pinned gram-grain stats AND the docsHit
      // branch — unpinned, the corpus was tokenized and hashed twice
      val grams = ptx.Caching.pin(contaminationGrams(docs))
      // ONE gram-keyed aggregation carries everything gram-grained: which
      // splits each distinct gram appears in. Distinct counts and the
      // contamination intersection then fall out of a grid-sized
      // reduction — no (split, gram) distinct and no per-split semi join
      // (the first formulation's two extra gram-keyed shuffles).
      def in(sp: String) =
        max(when(col("split") === sp, 1).otherwise(0)).as(s"in_$sp")
      val gstat = ptx.Caching.pin(grams.groupBy(col("h"))
        .agg(in("train"), in("val"), in("test")))
      val perSplit = gstat.select(explode(array(
          struct(lit("val").as("split"), col("in_val").as("present"), col("in_train")),
          struct(lit("test").as("split"), col("in_test").as("present"), col("in_train"))))
          .as("x"))
        .filter(col("x.present") === 1)
        .groupBy(col("x.split").as("split"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("x.in_train")).cast("long").as("n_contaminated"))
      val docsHit = grams.filter(col("split") =!= "train")
        .join(gstat.filter(col("in_train") === 1).select(col("h")),
          Seq("h"), "left_semi")
        .select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs_hit"))
      contaminationReport(docs, perSplit, docsHit)
    }),
    // ◌ Bloom-bounded split-contamination audit (r11): the 100 TB
    // refinement `llm_split_contamination`'s scaladoc names, shipped as
    // its declared-approximate twin (the anchorScaleTwin discipline at
    // linear grain: here the EXACT form is already linear, and what the
    // sketch removes is its dominant SHUFFLE — the train-side gram
    // aggregation). Train grams stream into Spark's own
    // `bloom_filter_agg` (fixed 2^23-bit sketch): duplicate insertions
    // are idempotent bit-sets, so the build needs NO distinct and its
    // partial buffers merge by bitwise OR — #partitions × 1 MB through
    // the exchange, CONSTANT in corpus size, where the exact op shuffles
    // every distinct train gram. The collected sketch (a model
    // parameter, the kmeans-centroid precedent) then probes the eval
    // splits scan-side via the codegen'd `might_contain`.
    // Error is ONE-SIDED: no false negatives, so n_contaminated ≥ exact
    // always; false positives ≈ fpp(2^23 bits, distinct train grams)
    // (~1% at 1M grams — sized for the fixture band; a deployment sizes
    // numBits to its gram budget or range-shards the filter past
    // broadcastable sizes, LlmOpsSpec pins the ≥-and-margin contract
    // against the exact op). Deterministic: fixed bits + order-
    // independent insertion ⇒ dump-stable counts, but FP-inflated, hence
    // declared ◌ with no DuckDB oracle.
    "llm_split_contamination_bloom" -> ((s, d) => {
      ptx.functions.TextGrams.register(s)
      ptx.functions.Blooms.register(s)
      val docs = contaminationSplitDocs(s, d)
      val grams = contaminationGrams(docs)
      // build job: one pass over train occurrences → 1 MB sketch
      val bloomRow = grams.filter(col("split") === "train")
        .agg(call_function("bloom_filter_agg", col("h"),
          lit(1000000L), lit(8388608L)).as("bf")).head()
      val hit =
        if (bloomRow.isNullAt(0)) lit(false) // no train docs at this sf
        else call_function("might_contain",
          lit(bloomRow.getAs[Array[Byte]](0)), col("h"))
      val ev = grams.filter(col("split") =!= "train")
      val perSplit = ev.select(col("split"), col("h")).distinct()
        .withColumn("hit", hit)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("hit"), 1)).as("n_contaminated"))
      val docsHit = ev.withColumn("hit", hit).filter(col("hit"))
        .select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs_hit"))
      contaminationReport(docs, perSplit, docsHit)
    }),
    // ✓ mixture rebalancing (r4): language-balanced downsampling toward
    // the smallest language's count — the deterministic form of training
    // -mix reweighting. Per-lang keep rate = min(n)/n(lang), applied via
    // the multiplicative hash so the kept subset is reproducible. The
    // corpus never shuffles: rates live on a broadcast lang-count frame
    // (|langs| rows) and the keep decision is a scan-side comparison.
    "llm_mix_rebalance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      val target = counts.agg(min(col("n_total")).as("target"))
      docs.join(broadcast(counts.crossJoin(target)), Seq("lang"))
        .withColumn("u", knuthBucket(col("doc_id"), 100000))
        .withColumn("keep",
          col("u") < col("target").cast("double") / col("n_total") * 100000.0)
        .groupBy(col("lang"))
        .agg(max(col("n_total")).as("n_total"),
          count(when(col("keep"), 1)).as("n_kept"))
        .reportSort(col("lang"))
    }),
    // Token-budget selection: greedily keep the longest docs (n_chars desc,
    // doc_id tiebreak) until the ~10k-token budget (chars/4 BPE estimate) is
    // spent. Two-level cumsum — per-key totals over the small distinct
    // n_chars domain, running total on that tiny frame, broadcast back,
    // per-key window for the intra-key part — instead of one global-order
    // window that would serialize the corpus through a single partition.
    "llm_token_budget" -> ((s, d) =>
      greedyTokenBudget(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          ceil(col("n_chars").cast("double") / 4.0).as("est_bpe")),
        "n_chars", "est_bpe", 10000L)),
    // ◌ token-budget selection on REAL tokenizer counts (r16, VERDICT
    // r15 #3): the identical greedy longest-first rule (shared
    // greedyTokenBudget tail) cutting on the BPE doc-grain token table
    // instead of the chars/4 estimate — the doc's n_tokens is both the
    // ordering key and the spend. ◌: rides the iterative learner; the
    // LlmOpsSpec pin recomputes the greedy rule driver-side from the
    // doc-token table and matches exactly. Scale: docTokens + the
    // two-level cumsum (distinct-token-count domain carries the global
    // order, corpus never serializes through one partition).
    "llm_token_budget_bpe" -> ((s, d) =>
      greedyTokenBudget(ptx.sources.BpeModel.docTokensFor(s, d, k = 8)
        .select(col("doc_id"), col("n_tokens"),
          col("n_tokens").as("bpe_tokens")),
        "n_tokens", "bpe_tokens", 10000L)),
    // CCNet-style LM quality proxy (r5): per-doc mean negative log
    // probability under the corpus's own unigram model. Docs of common
    // words score low (natural-looking), rare-word salads score high —
    // the cheap stand-in for the KenLM perplexity filter. Scale shape:
    // the unigram model is |vocab|-sized (one aggregation), folds into a
    // 1-row MAP frame, and broadcasts — the corpus is then scored in one
    // HOF pass with NO per-word shuffle (the naive explode+join+re-agg
    // shuffles the corpus twice). The keep flag compares the ROUNDED
    // score so the boundary is engine-deterministic (raw fold order
    // differs across engines at ~1e-14).
    "llm_unigram_logprob" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
      val wc = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      // total from the |vocab|-sized counts frame — a words.count() here
      // would re-explode the whole corpus for a number wc already holds
      val lp = wc.crossJoin(broadcast(wc.agg(sum(col("c")).as("t"))))
        .select(col("word"),
          (-log(col("c").cast("double") / col("t"))).as("lp"))
      val model = lp.agg(
        map_from_entries(collect_list(struct(col("word"), col("lp")))).as("m"))
      Tables.documents(s, d)
        // the per-token scoring lambda runs interpreted — spread it off a
        // one-row-group file's single scan task
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .crossJoin(broadcast(model))
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          round(expr("aggregate(w, 0.0D, (a, x) -> a + element_at(m, x))") /
            size(col("w")), 6).as("avg_neg_logp"))
        .withColumn("is_natural", col("avg_neg_logp") <= 3.41)
        .orderBy(col("doc_id"))
    }),
    // ✓ RAG-style chunking (r5): split every doc into 64-token windows on
    // a 48-token stride (16-token overlap) — the retrieval-corpus prep
    // step between cleaning and embedding. Pure per-row HOF work (no
    // shuffle but the output sort): window starts come from sequence(),
    // slice() clamps the tail chunk, and the chunk is fingerprinted so
    // downstream exact-dedup can run at chunk granularity. Emits one row
    // per (doc, chunk).
    "llm_chunk_overlap" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          posexplode(expr("sequence(1, greatest(size(w), 1), 48)"))
            .as(Seq("chunk_id", "st")))
        .select(col("doc_id"), col("chunk_id"),
          size(expr("slice(w, st, 64)")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", expr("slice(w, st, 64)"))).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    // ✓ bigram-LM fluency score (r6): add-one-smoothed bigram model
    // P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) trained on the corpus itself,
    // each doc scored by the mean −ln P over its bigrams — the
    // KenLM-style fluency gate one step up from llm_unigram_logprob
    // (which a bag-of-frequent-words gibberish doc can fool; word ORDER
    // can't be faked without a real LM). Scale shape: the model is two
    // grouped passes (bigram + unigram counts) and scoring is a SHUFFLE
    // join on the bigram key — a bigram vocabulary grows past any
    // broadcastable map even where the unigram map still fits, so this
    // deliberately does NOT reuse the map_from_entries broadcast trick.
    // Parity: per-bigram −ln of identical IEEE rationals, avg rounded
    // 6dp (the llm_unigram_logprob discipline).
    "llm_bigram_lm" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val docs = all.filter(size(col("ws")) >= 2) // sequence(1,0) would DESCEND
      val bg = docs.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // unigram counts + vocab over ALL docs (incl. 1-word ones the
      // bigram pass skips) — the oracle's uni CTE counts every word, so
      // filtering here would skew c1/V the moment a short doc appears
      val uni = all.select(explode(col("ws")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      val model = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .join(uni, col("w1") === col("word"))
        .crossJoin(broadcast(uni.agg(count(lit(1)).as("vocab"))))
        .select(col("w1"), col("w2"),
          (-log((col("c2") + 1).cast("double") / (col("c1") + col("vocab"))))
            .as("lp"))
      bg.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 6).as("avg_neg_logp"))
        .withColumn("is_fluent", col("avg_neg_logp") <= 3.5)
        .orderBy(col("doc_id"))
    }),
    // ✓ end-to-end curation pipeline (r6): the four declared stages a
    // pretraining data run actually chains — quality gate → exact dedup →
    // benchmark decontamination → token budget — composed from the SAME
    // module functions the standalone operators use (TextAnalysis
    // .qualityFilter, the min-doc_id canonical rule, TextShingles +
    // the llm_decontaminate predicate, the block-scan cumsum), reported
    // as the survivor funnel (docs + tokens per stage) a pipeline run
    // logs. Formulated as ONE corpus pass that computes per-doc survival
    // FLAGS (q / dd / dc) instead of materializing each stage's frame: a
    // naive stage-by-stage union re-executes the whole upstream DAG once
    // per reported stage (measured 5.0 s / 24 exchanges at sf0.1; this
    // form is 4 exchanges). The narrow flag frame (id + counts + 3
    // booleans) is pinned so the budget branch and the funnel aggregate
    // share it. Scale: quality is a pure scan; the canonical-id window is
    // the dedup family's one text-key shuffle; decontamination broadcasts
    // the (bounded) eval shingle index; the budget cumsum is block-scan
    // (per-1024-doc block totals + broadcast prefix + intra-block window —
    // widen the block at larger corpora), never a global-order window over
    // the corpus.
    "llm_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evalSh = ptx.functions.TextShingles
        .shingles(docs.filter(col("source") === "src0"), repartitionByDoc = false)
        .toDF("eval_id", "shingle")
      val trainSh = ptx.functions.TextShingles
        .shingles(docs.filter(col("source") =!= "src0"))
      val contaminated = trainSh.join(broadcast(evalSh), Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .select(col("doc_id"), lit(true).as("contam"))
      // one pass: quality rule chain, canonical id per text (among quality
      // survivors), decontamination flag — sequential-filter semantics
      // preserved: dd is evaluated over quality rows INCLUDING src0 (an
      // eval doc can be the canonical copy and shadow its train twin),
      // THEN dc drops eval + contaminated.
      val wTxt = Window.partitionBy(col("text"))
      val flags = ptx.Caching.pin(
        TextAnalysis.qualityFilter(docs, keep = Seq("text", "source"))
          .withColumn("canon_id",
            min(when(col("pass"), col("doc_id"))).over(wTxt))
          .withColumn("dd", col("pass") && col("doc_id") === col("canon_id"))
          .join(broadcast(contaminated), Seq("doc_id"), "left_outer")
          .withColumn("dc",
            col("dd") && col("source") =!= "src0" && col("contam").isNull)
          .select(col("doc_id"), col("n_words"), col("pass").as("q"),
            col("dd"), col("dc")))
      val base = flags.filter(col("dc"))
        .select(col("doc_id"), col("n_words"))
        .withColumn("blk", floor(col("doc_id") / 1024).cast("long"))
      val blkTot = base.groupBy(col("blk"))
        .agg(sum(col("n_words")).as("blk_total"))
      val wBlk = Window.orderBy(col("blk"))
      val blkCum = blkTot
        .withColumn("blk_before",
          sum(col("blk_total")).over(wBlk) - col("blk_total"))
        .select(col("blk"), col("blk_before"))
      val wIntra = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      val budgetAgg = base.join(broadcast(blkCum), Seq("blk"))
        .withColumn("cum", col("blk_before") + sum(col("n_words")).over(wIntra))
        .filter(col("cum") <= 8000)
        .agg(count(lit(1)).as("n4"), sum(col("n_words")).cast("long").as("t4"))
      val funnel = flags.agg(
        count(lit(1)).as("n0"), sum(col("n_words")).cast("long").as("t0"),
        count(when(col("q"), 1)).as("n1"),
        sum(when(col("q"), col("n_words"))).cast("long").as("t1"),
        count(when(col("dd"), 1)).as("n2"),
        sum(when(col("dd"), col("n_words"))).cast("long").as("t2"),
        count(when(col("dc"), 1)).as("n3"),
        sum(when(col("dc"), col("n_words"))).cast("long").as("t3"))
      funnel.crossJoin(broadcast(budgetAgg))
        .select(expr(
          """stack(5,
            |  0, 'raw',      n0, t0,
            |  1, 'quality',  n1, t1,
            |  2, 'dedup',    n2, t2,
            |  3, 'decontam', n3, t3,
            |  4, 'budget',   n4, t4) AS (stage_idx, stage, n_docs, n_tokens)"""
            .stripMargin))
        .reportSort(col("stage_idx"))
    }),
    // ✓ PMI collocations (r6): top-50 word pairs by pointwise mutual
    // information, support ≥5 — phrase mining (the "new_york"-merging
    // step of vocabulary induction). PMI = ln(c₁₂·N / (c₁·c₂)) with the
    // products computed in DOUBLE in a pinned operand order (c₁·c₂
    // overflows BIGINT at 100 TB corpus counts; same-order IEEE ops are
    // engine-identical), rounded 6dp BEFORE the rank so the LIMIT
    // boundary ties cut on (pmi, w1, w2) deterministically. Same two
    // count passes as llm_bigram_lm; the support filter bounds the PMI
    // join to frequent pairs.
    "llm_pmi_collocations" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val docs = all.filter(size(col("ws")) >= 2)
      val bg = docs.select(explode(expr(
          "transform(sequence(1, size(ws)-1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      // unigram marginals over ALL docs — matches the oracle's uni CTE,
      // which never filters to multi-word docs (llm_bigram_lm discipline)
      val uni = all.select(explode(col("ws")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      val bgc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      bgc
        .join(uni.select(col("word").as("w1"), col("c1").as("c1l")), Seq("w1"))
        .join(uni.select(col("word").as("w2"), col("c1").as("c1r")), Seq("w2"))
        .crossJoin(broadcast(bg.agg(count(lit(1)).as("nb"))))
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12").cast("double") * col("nb")) /
            (col("c1l").cast("double") * col("c1r"))), 6).as("pmi"))
        .reportSort(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    }),
    // ✓ temperature-weighted language mix (r5): the multilingual-sampling
    // weight w_l ∝ (n_l/N)^α with α=0.3 — upsamples tail languages
    // relative to their corpus share (the mBERT/XLM-R exponential
    // smoothing recipe). The frame never exceeds |languages| rows after
    // one aggregation, so the normalizing constant is a broadcast of a
    // 1-row frame, not a global window. pow() is rounded 6dp on BOTH
    // engines BEFORE normalization — libm vs JVM pow can differ in the
    // last ulp, the same class of boundary round() discipline handles
    // everywhere else.
    "llm_sample_temperature" -> ((s, d) => {
      // pa is snapped to an exact e6 INTEGER after the 6dp pow round
      // (ulp-safe — the value already sits on the e6 grid), so z is an
      // exact integer sum and the weight/effective-docs ratios are
      // half-up integer divisions: pa/z is an integer ratio, i.e. the
      // r6 half-point hazard class (r7 sweep). At petabyte doc counts
      // the e6·n_total·100 product needs DECIMAL(38,0), not BIGINT.
      val byLang = Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n_total"))))
        .withColumn("pa_e6",
          round(round(pow(col("n_docs").cast("double") / col("n_total"), 0.3), 6)
            * 1e6).cast("long"))
      byLang.crossJoin(broadcast(byLang.agg(sum(col("pa_e6")).as("z_e6"))))
        .select(col("lang"), col("n_docs"),
          expr("(2 * pa_e6 * 1000000 + z_e6) div (2 * z_e6)").as("weight_e6"),
          // the e6·n_total·100 product needs DECIMAL(38,0) at petabyte doc
          // counts (pa_e6 ≤ 1e6 keeps weight_e6's product in BIGINT range)
          expr("(2 * cast(pa_e6 as decimal(38,0)) * n_total * 100 + z_e6)" +
            " div (2 * z_e6)").as("effective_docs_e2"))
        .reportSort(col("lang"))
    }),
    // ✓ mix-entropy report (r9): Shannon entropy of the TOKEN share across
    // sources plus its exponential — the "effective number of sources"
    // (perplexity of the mix), the one-number diversity stat a mix design
    // is judged by (eff_sources ≪ #sources ⇒ a few shards dominate the
    // token budget; the companion knob is llm_mix_rebalance). Token-share,
    // not doc-share: training cost is paid in tokens. Per-source rows
    // carry share (exact half-up e6), the -p·ln p contribution, and the
    // corpus-level entropy/eff_sources (same on every row — the broadcast
    // 1-row frame pattern). The entropy is the exact BIGINT sum of
    // per-source e6-snapped contributions (entropy_e6) — summing raw
    // doubles is accumulation-order-dependent (the dq_drift_psi lesson;
    // per-term rounding precedes any order-sensitive reduction), and
    // eff_sources applies exp to the e6-grid value so both engines
    // exponentiate the identical double.
    // Scale: one per-source agg scans the corpus; everything downstream is
    // #sources-sized with both reduction branches broadcast.
    "llm_mix_entropy" -> ((s, d) => {
      // apex pinned: per-source token sums feed the total branch, the
      // entropy branch, and the output rows
      val bySrc = ptx.Caching.pin(Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens")))
      val tot = bySrc.agg(sum(col("n_tokens")).as("total"))
      val withT = bySrc.crossJoin(broadcast(tot))
        .withColumn("contrib_e6", round(expr(
          "-(n_tokens * 1e0 / total) * ln(n_tokens * 1e0 / total)")
          * lit(1000000d)).cast("long"))
      val h = withT.agg(sum(col("contrib_e6")).as("entropy_e6"))
      withT.crossJoin(broadcast(h))
        .select(col("source"), col("n_tokens"),
          expr("CASE WHEN total > 0 THEN" +
            " (2 * cast(n_tokens as decimal(38,0)) * 1000000 + total)" +
            " div (2 * total) END").as("share_e6"),
          col("contrib_e6"), col("entropy_e6"),
          round(exp(col("entropy_e6") / lit(1000000d)), 6).as("eff_sources"))
        .reportSort(col("source"))
    }),
    // ✓ CCNet-style perplexity bucketing (r9): per-language head/middle/
    // tail split of the corpus by LM quality score — the CCNet recipe's
    // final step (keep head, sample middle, drop tail) that turns the
    // unigram quality proxy (llm_unigram_logprob's score, recomputed here
    // on the e6 grid) into an actionable partition. Thresholds are the
    // per-lang discrete tertiles of the SNAPPED score (percentile_disc
    // picks actual data values — integers, so the bucket compare is
    // exact on both engines; the oracle spells disc via the cume_dist
    // identity per the agg_percentile_disc precedent). LOWER score =
    // more natural = head, per CCNet.
    // Scale: model + thresholds broadcast; the corpus is scanned once to
    // score (pinned — the threshold agg and the bucket count reuse it).
    // The exact per-lang percentile buffers each lang's scores in one
    // agg group; at 100 TB swap approx_percentile thresholds (CCNet
    // itself thresholds on a sample) — the bucketing join is unchanged.
    "llm_ccnet_buckets" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
      val wc = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      val lp = wc.crossJoin(broadcast(wc.agg(sum(col("c")).as("t"))))
        .select(col("word"), (-log(col("c").cast("double") / col("t"))).as("lp"))
      val model = lp.agg(
        map_from_entries(collect_list(struct(col("word"), col("lp")))).as("m"))
      // apex pinned: the scored frame feeds the threshold agg AND the
      // bucket assignment — unpinned, the corpus is scored twice
      val scored = ptx.Caching.pin(Tables.documents(s, d)
        // r19: interpreted scoring lambda spread off the single scan task
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .crossJoin(broadcast(model))
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), col("lang"),
          expr("cast(round(round(aggregate(w, 0.0D, (a, x) -> a + element_at(m, x))" +
            " / size(w), 6) * 1e6) as long)").as("score_e6")))
      val th = scored.groupBy(col("lang")).agg(
        expr("percentile_disc(0.3333333333) WITHIN GROUP (ORDER BY score_e6)")
          .as("t33"),
        expr("percentile_disc(0.6666666667) WITHIN GROUP (ORDER BY score_e6)")
          .as("t66"))
      scored.join(broadcast(th), Seq("lang"))
        .withColumn("bucket",
          when(col("score_e6") <= col("t33"), "head")
            .when(col("score_e6") <= col("t66"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_e6")).as("min_score_e6"),
          max(col("score_e6")).as("max_score_e6"))
        .reportSort(col("lang"), col("bucket"))
    }),
    // ✓ chunk-grain cross-doc dedup audit (r9): how much of each doc is
    // made of chunks (the llm_chunk_overlap 64/48 grid) that ALSO appear
    // verbatim in other docs — the dedup check at the grain a RAG corpus
    // or WebDataset shard is actually stored and retrieved at. Sits
    // between doc-level dedup (llm_dedup_exact — misses partial reuse)
    // and span-level (llm_dedup_spans — any 5-gram; this one only fires
    // on WHOLE 64-token chunks, the coarser/cheaper signal). flagged =
    // ≥50% duplicated chunks, exact integer compare.
    // Scale: chunk stream is linear in corpus tokens, built scan-local;
    // the df join fans each chunk occurrence × 1 (dfreq is unique per
    // fp) — a hot chunk is one agg group, never a pair join.
    "llm_chunk_dedup" -> ((s, d) => {
      // pinned: the chunk stream feeds the df count and the join back
      val chunks = ptx.Caching.pin(Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          posexplode(expr("sequence(1, greatest(size(w), 1), 48)"))
            .as(Seq("chunk_id", "st")))
        .select(col("doc_id"),
          md5(concat_ws(" ", expr("slice(w, st, 64)"))).as("fp")))
      val dfreq = chunks.distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      chunks.join(dfreq, Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          expr("CASE WHEN n_chunks > 0 THEN" +
            " (2 * cast(n_dup_chunks as decimal(38,0)) * 1000000 + n_chunks)" +
            " div (2 * n_chunks) END").as("dup_frac_e6"),
          expr("2 * n_dup_chunks >= n_chunks").as("flagged"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(
    // percentile_disc spelled via the cume_dist identity (the
    // agg_percentile_disc precedent): min value with cume_dist >= q
    "llm_ccnet_buckets" ->
      """WITH wc AS (
        |  SELECT word, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) e
        |  GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM wc),
        |e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(round(round(avg(-ln(c / t)), 6) * 1e6) AS BIGINT) AS score_e6
        |  FROM e JOIN wc USING (word) CROSS JOIN tot GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang, s.score_e6
        |       FROM scored s JOIN documents d USING (doc_id)),
        |cd AS (SELECT lang, score_e6,
        |         cume_dist() OVER (PARTITION BY lang ORDER BY score_e6) AS cd
        |       FROM sl),
        |th AS (SELECT lang,
        |         min(CASE WHEN cd >= 0.3333333333 THEN score_e6 END) AS t33,
        |         min(CASE WHEN cd >= 0.6666666667 THEN score_e6 END) AS t66
        |       FROM cd GROUP BY lang),
        |b AS (SELECT sl.lang,
        |        CASE WHEN score_e6 <= t33 THEN 'head'
        |             WHEN score_e6 <= t66 THEN 'middle'
        |             ELSE 'tail' END AS bucket,
        |        score_e6
        |      FROM sl JOIN th USING (lang))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(min(score_e6) AS BIGINT) AS min_score_e6,
        |  CAST(max(score_e6) AS BIGINT) AS max_score_e6
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "llm_mix_entropy" ->
      """WITH s AS (SELECT source,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
        |w AS (SELECT source, n_tokens, total,
        |        CAST(round(-(n_tokens * 1e0 / total) *
        |                   ln(n_tokens * 1e0 / total) * 1000000) AS BIGINT)
        |          AS contrib_e6
        |      FROM s CROSS JOIN t),
        |h AS (SELECT CAST(sum(contrib_e6) AS BIGINT) AS entropy_e6 FROM w)
        |SELECT source, n_tokens,
        |  CASE WHEN total > 0 THEN
        |    (2 * n_tokens * 1000000 + total) // (2 * total) END AS share_e6,
        |  contrib_e6, entropy_e6,
        |  round(exp(entropy_e6 / 1000000.0), 6) AS eff_sources
        |FROM w CROSS JOIN h ORDER BY source""".stripMargin,
    "llm_curation_pipeline" ->
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
        |      FROM w JOIN cnt ON w.doc_id = cnt.doc_id),
        |quality AS (
        |  SELECT d.doc_id, d.text, d.source, m.n_words
        |  FROM documents d JOIN m ON d.doc_id = m.doc_id
        |  WHERE m.n_words >= 20 AND m.mean_len >= 4.0 AND m.mean_len <= 5.0
        |    AND m.distinct_ratio >= 0.4 AND m.dominance <= 0.125),
        |dedup AS (
        |  SELECT * FROM quality
        |  WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY text)),
        |words2 AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |       FROM words2, unnest(generate_series(1, len(w) - 2)) AS s(i)),
        |contaminated AS (
        |  SELECT t.doc_id FROM sh t JOIN sh e ON t.shingle = e.shingle
        |  WHERE t.source <> 'src0' AND e.source = 'src0'
        |  GROUP BY t.doc_id HAVING count(DISTINCT t.shingle) >= 5),
        |decontam AS (
        |  SELECT * FROM dedup
        |  WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |budget AS (
        |  SELECT * FROM (
        |    SELECT doc_id, n_words,
        |           sum(n_words) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM decontam) t
        |  WHERE cum <= 8000)
        |SELECT * FROM (
        |  SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens FROM documents
        |  UNION ALL SELECT 1, 'quality', count(*), CAST(sum(n_words) AS BIGINT) FROM quality
        |  UNION ALL SELECT 2, 'dedup', count(*), CAST(sum(n_words) AS BIGINT) FROM dedup
        |  UNION ALL SELECT 3, 'decontam', count(*), CAST(sum(n_words) AS BIGINT) FROM decontam
        |  UNION ALL SELECT 4, 'budget', count(*), CAST(sum(n_words) AS BIGINT) FROM budget)
        |ORDER BY stage_idx""".stripMargin,
    "llm_pmi_collocations" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |uni AS (SELECT u.word AS word, count(*) AS c1
        |        FROM w, unnest(ws) AS u(word) GROUP BY 1),
        |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |       FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)),
        |bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1,2),
        |n AS (SELECT count(*) AS nb FROM bg)
        |SELECT w1, w2, c12,
        |       round(ln((CAST(c12 AS DOUBLE) * nb)
        |                / (CAST(u1.c1 AS DOUBLE) * u2.c1)), 6) AS pmi
        |FROM bgc JOIN uni u1 ON w1 = u1.word JOIN uni u2 ON w2 = u2.word
        |CROSS JOIN n
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "llm_shard_manifest" ->
      """WITH cum AS (
        |  SELECT lang, doc_id, n_chars,
        |         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
        |  FROM documents)
        |SELECT lang, CAST(floor(cum_before / 65536) AS BIGINT) AS shard_id,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cum GROUP BY 1, 2 ORDER BY lang, shard_id""".stripMargin,
    "llm_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT u.word AS word, count(*) AS c1
        |        FROM w, unnest(ws) AS u(word) GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |       FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)
        |       WHERE len(ws) >= 2),
        |model AS (SELECT b.w1, b.w2, -ln((c2+1.0)/(c1+vocab)) AS lp
        |          FROM (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1,2) b
        |          JOIN uni ON b.w1 = uni.word CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_neg_logp,
        |       round(avg(lp), 6) <= 3.5 AS is_fluent
        |FROM bg JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_decontaminate" ->
      """WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |       FROM words, unnest(generate_series(1, len(w) - 2)) AS s(i))
        |SELECT t.doc_id, count(DISTINCT t.shingle) AS n_shared,
        |       count(DISTINCT e.doc_id) AS n_eval_docs
        |FROM sh t JOIN sh e ON t.shingle = e.shingle
        |WHERE t.source <> 'src0' AND e.source = 'src0'
        |GROUP BY t.doc_id HAVING count(DISTINCT t.shingle) >= 5
        |ORDER BY t.doc_id""".stripMargin,
    // string 8-grams (the width-8 gram-hash collision canary licenses the
    // hash↔string equivalence); coalesce over BIGINT counts stays BIGINT
    "llm_eval_leakage" ->
      """WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, source,
        |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |        w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS gram
        |      FROM words, unnest(generate_series(1, len(w) - 7)) AS s(i)),
        |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE source = 'src0'),
        |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE source <> 'src0'),
        |hits AS (SELECT eval_id, count(DISTINCT tr.gram) AS n_leaked_grams,
        |                count(DISTINCT train_id) AS n_train_docs
        |         FROM ev JOIN tr ON ev.gram = tr.gram GROUP BY eval_id),
        |tot AS (SELECT eval_id, count(*) AS n_grams FROM ev GROUP BY eval_id)
        |SELECT d.doc_id AS eval_id,
        |  coalesce(t.n_grams, 0) AS n_grams,
        |  coalesce(h.n_leaked_grams, 0) AS n_leaked_grams,
        |  coalesce(h.n_train_docs, 0) AS n_train_docs
        |FROM documents d
        |LEFT JOIN tot t ON t.eval_id = d.doc_id
        |LEFT JOIN hits h ON h.eval_id = d.doc_id
        |WHERE d.source = 'src0' ORDER BY eval_id""".stripMargin,
    // string shingles (width-3 canary licenses hash↔string); every count
    // here is count(*)/count(DISTINCT) → BIGINT, `//` stays BIGINT
    "llm_source_overlap" ->
      """WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT source, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM words, unnest(generate_series(1, len(w) - 2)) AS s(i)
        |  WHERE len(w) >= 3),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |sh AS (SELECT a.source AS src1, b.source AS src2, count(*) AS n_shared
        |       FROM g a JOIN g b ON a.shingle = b.shingle AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src1, src2, n_shared, s1.n AS n1, s2.n AS n2,
        |  CAST((2 * n_shared * 1000000 + (s1.n + s2.n - n_shared))
        |       // (2 * (s1.n + s2.n - n_shared)) AS BIGINT) AS jaccard_e6
        |FROM sh JOIN sz s1 ON s1.source = src1 JOIN sz s2 ON s2.source = src2
        |ORDER BY src1, src2""".stripMargin,
    "llm_stratified_sample" ->
      s"""SELECT lang, n_total, n_sampled, CAST(n_sampled AS DOUBLE) / n_total AS rate
        |FROM (SELECT lang, count(*) AS n_total,
        |        count(CASE WHEN ${knuthBucketSql("doc_id", 100)} < 20
        |              THEN 1 END) AS n_sampled
        |      FROM documents GROUP BY lang) t
        |ORDER BY lang""".stripMargin,
    "llm_repetition" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id,
        |         list_transform(generate_series(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1]) AS b
        |       FROM words WHERE len(w) >= 2)
        |SELECT doc_id, len(b) AS n_bigrams, len(list_distinct(b)) AS n_distinct,
        |       1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b) AS rep_ratio
        |FROM bi ORDER BY doc_id""".stripMargin,
    "llm_domain_cap" ->
      """SELECT doc_id, source, n_chars, rn FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    "llm_text_clean" ->
      """SELECT doc_id,
        |  len(w) - len(kept) AS n_removed,
        |  length(array_to_string(kept, ' ')) AS clean_len,
        |  md5(array_to_string(kept, ' ')) AS clean_fp
        |FROM (SELECT doc_id, w,
        |        list_filter(w, x -> x NOT IN ('a', 'the') AND length(x) > 1) AS kept
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) s
        |ORDER BY doc_id""".stripMargin,
    "llm_pack_sequences" ->
      """SELECT doc_id, tok,
        |  CAST(floor(CAST(cum_before AS DOUBLE) / 2048) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 2048 AS BIGINT) AS seq_offset
        |FROM (SELECT doc_id, tok,
        |        coalesce(sum(tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM (SELECT doc_id,
        |              CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS tok
        |            FROM documents) b) c
        |ORDER BY doc_id""".stripMargin,
    "llm_split" ->
      s"""SELECT split, count(*) AS n, count(DISTINCT lang) AS n_langs,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (SELECT doc_id, lang,
        |        CASE WHEN ${knuthBucketSql("doc_id", 100)} < 80 THEN 'train'
        |             WHEN ${knuthBucketSql("doc_id", 100)} < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM documents) t
        |GROUP BY split ORDER BY split""".stripMargin,
    // grams grouped by their STRING here (the Spark side's 64-bit
    // GramHashes keys are a shuffle-width optimization; identical counts
    // absent a 64-bit collision — the llm_dedup_spans precedent)
    "llm_split_contamination" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |         CASE WHEN ${knuthBucketSql("doc_id", 100)} < 80 THEN 'train'
        |              WHEN ${knuthBucketSql("doc_id", 100)} < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM documents),
        |g AS (SELECT split, doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |      FROM t, unnest(generate_series(1, len(w) - 7)) AS s(i)
        |      WHERE len(w) >= 8),
        |train AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
        |ev AS (SELECT split, doc_id, gram FROM g WHERE split <> 'train'),
        |evd AS (SELECT DISTINCT split, gram FROM ev),
        |tot AS (SELECT split, count(*) AS n_grams FROM evd GROUP BY 1),
        |cont AS (SELECT split, count(*) AS n_contaminated FROM evd
        |         WHERE gram IN (SELECT gram FROM train) GROUP BY 1),
        |hit AS (SELECT split, count(DISTINCT doc_id) AS n_docs_hit FROM ev
        |        WHERE gram IN (SELECT gram FROM train) GROUP BY 1),
        |nd AS (SELECT split, count(*) AS n_docs FROM t
        |       WHERE split <> 'train' GROUP BY 1)
        |SELECT nd.split, nd.n_docs,
        |  coalesce(tot.n_grams, 0) AS n_grams,
        |  coalesce(cont.n_contaminated, 0) AS n_contaminated,
        |  coalesce(hit.n_docs_hit, 0) AS n_docs_hit,
        |  CASE WHEN coalesce(tot.n_grams, 0) > 0 THEN
        |    (2 * coalesce(cont.n_contaminated, 0) * 1000000 + tot.n_grams)
        |      // (2 * tot.n_grams) END AS contamination_e6
        |FROM nd LEFT JOIN tot USING (split) LEFT JOIN cont USING (split)
        |  LEFT JOIN hit USING (split)
        |ORDER BY nd.split""".stripMargin,
    "llm_mix_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
        |t AS (SELECT min(n_total) AS target FROM c)
        |SELECT d.lang, max(c.n_total) AS n_total,
        |  count(CASE WHEN ${knuthBucketSql("d.doc_id", 100000)}
        |               < CAST(t.target AS DOUBLE) / c.n_total * 100000.0
        |        THEN 1 END) AS n_kept
        |FROM documents d JOIN c USING (lang) CROSS JOIN t
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "llm_token_budget" ->
      """SELECT doc_id, n_chars,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe,
        |  CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT))
        |       OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_tokens
        |FROM documents QUALIFY cum_tokens <= 10000
        |ORDER BY doc_id""".stripMargin,
    // join-based twin of the broadcast-map fold (same per-word -ln terms;
    // accumulation-order noise ~1e-14 is absorbed by the 6dp round)
    "llm_unigram_logprob" ->
      """WITH wc AS (
        |  SELECT word, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) e
        |  GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM wc),
        |e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |scored AS (
        |  SELECT doc_id, round(avg(-ln(c / t)), 6) AS avg_neg_logp
        |  FROM e JOIN wc USING (word) CROSS JOIN tot
        |  GROUP BY doc_id)
        |SELECT doc_id, avg_neg_logp, avg_neg_logp <= 3.41 AS is_natural
        |FROM scored ORDER BY doc_id""".stripMargin,
    "llm_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, w,
        |        unnest(generate_series(1, greatest(len(w), 1), 48)) AS st
        |      FROM t),
        |c AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(w, st, st + 63), ' ')) AS fp
        |      FROM s),
        |dfreq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM c GROUP BY 1),
        |per AS (SELECT doc_id, count(*) AS n_chunks,
        |          CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_dup_chunks
        |        FROM c JOIN dfreq USING (fp) GROUP BY 1)
        |SELECT doc_id, n_chunks, n_dup_chunks,
        |  CASE WHEN n_chunks > 0 THEN
        |    (2 * n_dup_chunks * 1000000 + n_chunks) // (2 * n_chunks) END
        |    AS dup_frac_e6,
        |  2 * n_dup_chunks >= n_chunks AS flagged
        |FROM per ORDER BY doc_id""".stripMargin,
    "llm_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, w,
        |        unnest(generate_series(1, greatest(len(w), 1), 48)) AS st
        |      FROM t)
        |SELECT doc_id, CAST((st - 1) // 48 AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(w, st, st + 63)) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(w, st, st + 63), ' ')) AS chunk_fp
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "llm_sample_temperature" ->
      """WITH b AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT count(*) AS n_total FROM documents),
        |p AS (SELECT lang, n_docs, n_total,
        |        CAST(round(round(pow(CAST(n_docs AS DOUBLE) / n_total, 0.3), 6)
        |                   * 1e6) AS BIGINT) AS pa_e6
        |      FROM b CROSS JOIN t),
        |z AS (SELECT CAST(sum(pa_e6) AS BIGINT) AS z_e6 FROM p)
        |SELECT lang, n_docs,
        |       (2 * pa_e6 * 1000000 + z_e6) // (2 * z_e6) AS weight_e6,
        |       (2 * pa_e6 * n_total * 100 + z_e6) // (2 * z_e6)
        |         AS effective_docs_e2
        |FROM p CROSS JOIN z ORDER BY lang""".stripMargin
  )
}
