package ptx.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted decontamination index: the build-once / probe-many
  * split of the eval-gram Bloom sketch — the third member of the
  * persisted-artifact triad ([[VectorIndex]] for ANN serving,
  * [[DedupIndex]] for near-dup admission, this for eval decontamination).
  *
  * [[gramBloom]] aggregates the eval corpus into a fixed-size Bloom
  * filter of its word-8-gram hashes; the streaming gate then probes
  * incoming train docs scan-side. Eval suites
  * change rarely while admission runs continuously, so re-aggregating
  * the eval set per run (or per process restart) is the cost this index
  * removes: `write` persists the sketch WITH its parameters, `read`
  * loads the ~1 MB artifact in one footer-sized read, and `append`
  * folds a new eval shard in by Bloom union — bit-exact: a Bloom insert
  * sets the same bits wherever it happens, so
  * sketch(A ∪ B) == merge(sketch(A), sketch(B)) exactly (asserted
  * byte-identical in IoSpec), which makes appends ORDER-INDEPENDENT and
  * bit-idempotent (re-appending an already-indexed shard leaves the
  * SKETCH — and therefore every probe verdict — unchanged; the advisory
  * n_docs/n_grams sizing counters assume disjoint shards and would
  * double-count a replay, which only ever over-estimates the next
  * re-size).
  *
  * Layout: `dir/sketch/` holds ONE parquet row
  * (bf binary, num_bits, expected_items, gram_width, n_docs, n_grams) —
  * the parameters travel with the bits so an `append` with mismatched
  * sizing fails loudly instead of silently corrupting the union, and
  * `gram_width` pins the probe-side tokenization contract
  * ([[ptx.stream.Pipelines.deconVerdict]] hashes word-8-grams).
  *
  * Scale: the sketch is constant-size in the eval corpus (the
  * llm_split_contamination_bloom argument — partials OR-merge, the
  * exchange carries #partitions × 1 MB); probing is a broadcast-literal
  * scan-side map, no join, no shuffle. A deployment with an eval corpus
  * past the fpp budget of `numBits` re-sizes at build time — the stored
  * `n_grams` is the input to that sizing decision.
  */
object DeconIndex {
  private val GramWidth = 8 // deconVerdict's word-8-gram contract

  /** One pass over an eval corpus: `(bf, n_grams, n_docs)` — the Bloom
    * filter of its word-8-gram hashes (`bloom_filter_agg`: duplicate
    * inserts are idempotent, partials OR-merge; empty bytes when the
    * corpus has no grams), the grams inserted, and the docs read. Every
    * doc yields exactly one row at position 0 or, gram-less, at a NULL
    * position, so the doc count needs no distinct aggregate — whose
    * partial grouping by doc would hold one full-size filter per doc. */
  private[ptx] def gramBloom(evalDocs: DataFrame, expectedItems: Long = 1000000L,
                             numBits: Long = 8388608L): (Array[Byte], Long, Long) = {
    ptx.functions.TextGrams.register(evalDocs.sparkSession)
    ptx.functions.Blooms.register(evalDocs.sparkSession)
    val row = evalDocs.select(posexplode_outer(
        expr(s"gram_hashes(split(text, ' '), $GramWidth)")).as(Seq("pos", "h")))
      .agg(call_function("bloom_filter_agg", col("h"),
        lit(expectedItems), lit(numBits)).as("bf"),
        count(col("h")).as("n_grams"),
        count(when(coalesce(col("pos"), lit(0)) === 0, 1)).as("n_docs")).head()
    (if (row.isNullAt(0)) Array.empty[Byte] else row.getAs[Array[Byte]](0),
      row.getLong(1), row.getLong(2))
  }

  private def save(spark: SparkSession, dir: String, bf: Array[Byte], numBits: Long,
                   expectedItems: Long, nDocs: Long, nGrams: Long): Unit = {
    import spark.implicits._
    Seq((bf, numBits, expectedItems, GramWidth, nDocs, nGrams))
      .toDF("bf", "num_bits", "expected_items", "gram_width", "n_docs", "n_grams")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/sketch")
  }

  /** One corpus pass: build the eval-gram sketch and persist it with its
    * parameters. Overwrites any index at `dir`. */
  def write(evalDocs: DataFrame, dir: String,
            expectedItems: Long = 1000000L, numBits: Long = 8388608L): Unit = {
    val (bf, nGrams, nDocs) = gramBloom(evalDocs, expectedItems, numBits)
    save(evalDocs.sparkSession, dir, bf, numBits, expectedItems, nDocs, nGrams)
  }

  /** The persisted sketch bytes — the argument
    * [[ptx.stream.Pipelines.decontaminationGate]] and `deconVerdict`
    * take. Empty array = empty eval corpus (the gate then admits all). */
  def read(spark: SparkSession, dir: String): Array[Byte] = {
    val r = meta(spark, dir)
    if (r.isNullAt(0)) Array.empty[Byte] else r.getAs[Array[Byte]](0)
  }

  /** The full stored row (bf, num_bits, expected_items, gram_width,
    * n_docs, n_grams). */
  def meta(spark: SparkSession, dir: String): org.apache.spark.sql.Row =
    spark.read.parquet(s"$dir/sketch")
      .select("bf", "num_bits", "expected_items", "gram_width",
        "n_docs", "n_grams").head()

  /** Fold a NEW eval shard into the persisted sketch by Bloom union —
    * bit-exact equivalent to rebuilding over the union corpus, and
    * idempotent on re-appended shards. Fails loudly on parameter
    * mismatch (a union of differently-sized filters is garbage). */
  def append(evalDocs: DataFrame, dir: String): Unit = {
    val spark = evalDocs.sparkSession
    val m = meta(spark, dir)
    val (numBits, expectedItems) = (m.getLong(1), m.getLong(2))
    require(m.getInt(3) == GramWidth,
      s"stored gram_width ${m.getInt(3)} != probe contract $GramWidth")
    val existing = if (m.isNullAt(0)) Array.empty[Byte] else m.getAs[Array[Byte]](0)
    val (shard, nGrams, nDocs) = gramBloom(evalDocs, expectedItems, numBits)
    val merged =
      if (existing.isEmpty) shard
      else if (shard.isEmpty) existing
      else {
        // public util-sketch API: deserialize, bitwise-union, reserialize
        // (mergeInPlace asserts compatible bit sizes itself)
        val a = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(existing))
        val b = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(shard))
        a.mergeInPlace(b)
        val out = new java.io.ByteArrayOutputStream()
        a.writeTo(out)
        out.toByteArray
      }
    save(spark, dir, merged, numBits, expectedItems, m.getLong(4) + nDocs, m.getLong(5) + nGrams)
  }
}
