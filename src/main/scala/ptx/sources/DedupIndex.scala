package ptx.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted near-dup index: the build-once / probe-many split of the
  * MinHash-LSH path — the [[VectorIndex]] discipline at the dedup grain.
  *
  * `llm_dedup_minhash_lsh` signs and bands the whole corpus inline, which
  * is right for a one-shot audit but wrong for the workflow a 100 TB lake
  * actually runs: shards arrive INCREMENTALLY, and re-signing petabytes to
  * admit a gigabyte shard is the cost this index removes. Persisting the
  * per-doc signatures once makes each admission linear in the SHARD:
  *
  *  - `write` runs the corpus signature aggregation once and lays down two
  *    parquet tables: `bands/` (doc_id, band, key — the candidate-join
  *    side) and `sets/` (doc_id, n_sh, shset — the exact-verify side);
  *  - `probe` signs ONLY the new shard, joins its band keys against the
  *    persisted band table (plus the shard's own, so intra-shard dups are
  *    caught too), and exact-verifies candidates against the union of
  *    persisted and shard sets;
  *  - `append` admits the shard into the index for the next round.
  *
  * Bit-stability: signatures are xxhash64 minima over the shared
  * [[ptx.functions.TextShingles]] stream — pure integer functions of the
  * text, so a parquet round-trip is exact and `probe` returns byte-identical
  * pairs to an inline full recompute restricted to shard-touching pairs
  * (asserted in IoSpec). Shared recipe objects
  * ([[ptx.ops.LlmScale.minhashSignatures]]/`bandKeys`/`verifyJaccard`)
  * make divergence from the query path a compile-time impossibility.
  *
  * Scale: the probe's band join shuffles the persisted band table by its
  * 8-byte key once per admission — at deployment scale that table lives
  * bucketed by its (band, key) join key ([[compactBucketed]]), making
  * admissions shuffle-free on the index side: only the (small) shard is
  * exchanged, the index scan's bucket layout already satisfies the join's
  * clustering (asserted on the physical plan in IoSpec). Candidate
  * fan-out is banding-bounded
  * exactly as in the inline query; the verify fetches only candidate
  * doc_ids' sets. Caller contract: doc_ids are unique corpus-wide (a
  * re-crawled payload arrives under a new id — that is what the index is
  * for).
  *
  * Layout: every writer lands under a `batch=<tag>` partition subdir of
  * `bands/` and `sets/` in OVERWRITE mode, so re-running an admission with
  * the same tag REPLACES its files instead of duplicating them — the
  * idempotent-replay contract the streaming admission pipeline
  * ([[ptx.stream.Pipelines.shardAdmission]]) needs for retried
  * micro-batches, and shard-grain compaction/pruning units at rest.
  * Readers drop the discovered `batch` column by explicit projection.
  */
object DedupIndex {

  /** Corpus pass: build and persist signatures for `docs` (doc_id, text). */
  def write(docs: DataFrame, dir: String): Unit =
    writeTag(docs, dir, "base", SaveMode.Overwrite)

  /** The shared signing recipe: per-doc MinHash signature frame
    * (doc_id, m0..m15, n_sh, shset) for `docs` (doc_id, text). Exposed so
    * a caller orchestrating probe-then-admit ([[ptx.stream.Pipelines]]'s
    * admission batch) can sign ONCE and feed the same (cached) frame to
    * both [[probeSigned]] and [[appendSigned]] — signatures are pure
    * functions of the text, so this is bit-identical to signing twice. */
  private[ptx] def signatures(docs: DataFrame): DataFrame =
    ptx.ops.LlmScale.minhashSignatures(
      ptx.functions.TextShingles.shingles(docs)
        .select(col("doc_id"), col("shingle").as("h")))

  /** Near-dup pairs `(doc1, doc2, jaccard ≥ threshold)` touching the new
    * shard: shard↔index and shard↔shard, never index↔index (those were
    * reported when their shards were admitted). Signs only the shard. */
  def probe(spark: SparkSession, dir: String, newDocs: DataFrame,
            threshold: Double = 0.4,
            bandsTable: Option[String] = None): DataFrame =
    probeSigned(spark, dir, ptx.Caching.pin(signatures(newDocs)),
      threshold, bandsTable)
      .orderBy(col("doc1"), col("doc2"))

  /** [[probe]] on an already-signed (and caller-cached) shard — the
    * sign-once path for admission pipelines that also [[appendSigned]]
    * the same frame. Output is UNORDERED (the audit-file write path has
    * no use for the public probe's global sort).
    *
    * `microBatch = true` is the streaming-admission shape: the SHARD is a
    * micro-batch, so everything shard-derived (band keys ≈ 64 B/doc, the
    * banding-bounded candidate pairs, the candidate-pruned sets) is
    * broadcastable BY CONSTRUCTION, and hinting it turns the whole probe
    * into stream-static broadcast joins — the index side never shuffles
    * OR sorts, batch wall time is dominated by the one signature pass.
    * The default (false) keeps exchange-based joins for arbitrary-size
    * shards (a 10% corpus re-probe is not broadcastable). */
  private[ptx] def probeSigned(spark: SparkSession, dir: String,
                               shardSig: DataFrame, threshold: Double = 0.4,
                               bandsTable: Option[String] = None,
                               microBatch: Boolean = false): DataFrame = {
    ptx.functions.VectorOps.register(spark) // sorted_intersect_count
    def small(df: DataFrame): DataFrame = if (microBatch) broadcast(df) else df
    val shardBands = ptx.ops.LlmScale.bandKeys(shardSig)
    // explicit projections drop the batch=<tag> partition column the
    // layout adds on read. When the index was compacted bucketed
    // ([[compactBucketed]]) the band side MUST come through the catalog —
    // a path read of the same files discards the bucket spec and the
    // join re-shuffles the whole index.
    val indexBands = bandsTable.map(spark.table)
      .getOrElse(spark.read.parquet(s"$dir/bands"))
      .select(col("doc_id"), col("band"), col("key"))
    // shard↔index and shard↔shard as SEPARATE joins, not one join against
    // (index ∪ shard): a union would erase the bucketed index scan's
    // output partitioning and force the index-side exchange this layout
    // exists to remove. Join distributes over union, so the candidate
    // multiset is identical. One side is always the shard; doc1 < doc2
    // dedups the shard↔shard mirror and canonicalizes shard↔index order.
    def candsAgainst(other: DataFrame) = small(shardBands.toDF("a", "band", "key"))
      .join(other.toDF("b", "band", "key"), Seq("band", "key"))
    // pinned: the pair frame feeds the verify join AND (broadcast) the
    // candidate-id pruning of the sets scan below — banding-bounded and
    // shard-proportional, so the pin is small at any corpus size
    val cands = ptx.Caching.pin(candsAgainst(indexBands)
      .unionByName(candsAgainst(shardBands))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc1"),
        greatest(col("a"), col("b")).as("doc2"))
      .distinct())
    // the verify fetches ONLY candidate doc_ids' sets (r12): the sets
    // table holds the HEAVY per-doc shingle arrays, so reading it whole
    // per admission is the probe's dominant index-side I/O. Default
    // path: a broadcast semi join prunes rows join-side (the verify's
    // exchanges then carry O(candidates) rows, not the corpus).
    // microBatch path: the candidate ids are a bounded set by
    // construction, so they are COLLECTED (the wanted-cells precedent in
    // VectorIndex.probe) and pushed as an In(doc_id, …) filter INTO the
    // scan — against a [[compact]]/[[compactBucketed]] layout (sets
    // range-laid by doc_id) the read prunes on footer min/max, so an
    // admission touches only the row groups its candidates live in.
    val candIds = cands.select(explode(array(col("doc1"), col("doc2")))
      .as("doc_id")).distinct()
    val allSets = spark.read.parquet(s"$dir/sets")
      .select(col("doc_id"), col("n_sh"), col("shset"))
      .unionByName(shardSig.select(col("doc_id"), col("n_sh"), col("shset")))
    val candSets =
      if (microBatch) {
        val wanted = candIds.collect().map(_.getLong(0)).toSeq
        allSets.filter(col("doc_id").isin(wanted: _*))
      } else allSets.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    // dropDuplicates, not a bare union: a RETRIED admission probes a shard
    // whose docs may already sit in the index (the failed attempt's
    // append landed) — without the dedup each such doc's rows appear on
    // both sides of the verify join and fan every touching pair out ×2.
    // Signatures are pure functions of the text, so the duplicate rows
    // are identical and either copy is correct. Pinned so the verify's
    // two set lookups (doc1's set, doc2's set) scan+prune the table once,
    // not twice.
    val sets = ptx.Caching.pin(candSets.dropDuplicates("doc_id"))
    ptx.ops.LlmScale.verifyJaccard(small(cands), small(sets), threshold)
  }

  /** Admit a shard: add its signatures to the persisted index under its
    * own `batch=<tag>` partition (overwrite — re-admitting the same tag
    * replaces, never duplicates). Call after [[probe]]'s action completes
    * (and its pins are released). */
  def append(docs: DataFrame, dir: String, tag: String): Unit =
    writeTag(docs, dir, tag, SaveMode.Overwrite)

  /** Compact the index at `dir` into a fresh single-partition copy at
    * `dst` (never in place — the Io.compact contract, same path guard):
    * after many small-shard admissions the band/set tables hold one tiny
    * parquet partition per batch, and the probe's index-side scan pays
    * per-file open and footer cost for each. The copy holds the same
    * rows under one `batch=base` partition — probes against it are
    * row-identical (signatures are per-doc rows; asserted in IoSpec) —
    * with the band table RANGE-partitioned by `key` then sorted within
    * tasks, so each output file covers a disjoint key interval and a
    * band-key join prunes on footer min/max (a bare
    * sortWithinPartitions would sort each multi-file read bundle whose
    * keys already span the full range — no pruning at exactly the
    * accumulated-index scale this exists for). Run between admissions
    * (like any compaction, not concurrency-safe with an in-flight
    * append); the layer above swaps directories. */
  def compact(spark: SparkSession, dir: String, dst: String): Unit = {
    Io.assertDisjointPaths(spark, dir, dst)
    spark.read.parquet(s"$dir/bands")
      .select(col("doc_id"), col("band"), col("key"))
      .repartitionByRange(col("key"))
      .sortWithinPartitions(col("key"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/bands/batch=base")
    // sets range-laid by doc_id (r12): the micro-batch probe pushes an
    // In(doc_id, …) filter into this scan, and the layout is what turns
    // that filter into footer min/max row-group pruning — without it
    // every file spans the full id range and nothing prunes
    spark.read.parquet(s"$dir/sets")
      .select(col("doc_id"), col("n_sh"), col("shset"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/sets/batch=base")
  }

  /** Bucketed-at-rest compaction (r12): same snapshot as [[compact]], but
    * the band table lands as an external BUCKETED parquet table — hashed
    * into `buckets` files by the probe's exact join key `(band, key)` and
    * sorted within each bucket — registered in the session catalog as
    * `table` with its data under `dst/bands`. A probe that reads the band
    * side through the catalog ([[probe]]'s `bandsTable`) then needs NO
    * exchange on the index side of the band join: the scan's bucket
    * layout already satisfies the join's clustering, so each admission
    * shuffles only the shard (IoSpec asserts this on the physical plan,
    * and that probe rows stay identical to the plain layout). This is the
    * artifact behind the scaladoc's 100 TB claim — the index is ~corpus-
    * sized and re-shuffling it per admission is the dominant probe cost
    * the plain layout pays.
    *
    * Size `buckets` so one bucket ≈ one task's comfortable scan (the
    * Io.writeBucketed guidance); like [[compact]] this is an
    * offline-between-admissions operation and `dst` must be a fresh
    * directory outside `dir`. The `sets/` side is copied plain — the
    * verify join is candidate-driven and never index-wide. Appending
    * after a bucketed compaction lands new `batch=` files that the
    * CATALOG table does not see — admit into the plain layout and
    * re-compact, or treat the bucketed snapshot as a serving copy. */
  def compactBucketed(spark: SparkSession, dir: String, dst: String,
                      table: String, buckets: Int = 32): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Io.assertDisjointPaths(spark, dir, dst)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.read.parquet(s"$dir/bands")
      .select(col("doc_id"), col("band"), col("key"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "band", "key")
      .sortBy("band", "key")
      .option("path", s"$dst/bands")
      .format("parquet")
      .saveAsTable(table)
    spark.read.parquet(s"$dir/sets")
      .select(col("doc_id"), col("n_sh"), col("shset"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/sets/batch=base")
  }

  /** [[append]] on an already-signed (and caller-cached) signature frame —
    * the sign-once path: an admission pipeline that just [[probeSigned]]
    * the shard admits the accepted subset by FILTERING the same cached
    * frame instead of re-shingling the accepted text (bit-identical —
    * signatures are pure functions of the text). The two table writes are
    * independent and submitted concurrently. `parts > 0` coalesces each
    * write to that many files — a MICRO-batch admission otherwise lands
    * #shuffle-partitions KB-files per table per batch (the small-files
    * debt `compact` exists to pay down, plus one task-commit round per
    * file at write time); leave 0 for shard-sized appends. */
  private[ptx] def appendSigned(sig: DataFrame, dir: String,
                                tag: String, parts: Int = 0): Unit =
    writeSig(sig, dir, tag, SaveMode.Overwrite, parts)

  private def writeTag(docs: DataFrame, dir: String, tag: String,
                       mode: SaveMode): Unit = {
    val sig = signatures(docs)
      .persist(StorageLevel.MEMORY_AND_DISK) // two writers below; lifecycle
    // the corpus BUILD lands the serving layout directly (r14): bands
    // range-laid by the probe join key, sets by doc_id — the [[compact]]
    // recipe at write time, so a fresh index's footers already prune;
    // per-batch APPENDS (appendSigned) stay coalesced small files and
    // compact() collapses them later. One extra build-time sort shuffle,
    // the standard sort-on-write trade for zone-map pruning.
    try ptx.Jobs.par(
      () => ptx.ops.LlmScale.bandKeys(sig)
        .repartitionByRange(col("key")).sortWithinPartitions(col("key"))
        .write.mode(mode).parquet(s"$dir/bands/batch=$tag"),
      () => sig.select(col("doc_id"), col("n_sh"), col("shset"))
        .repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id"))
        .write.mode(mode).parquet(s"$dir/sets/batch=$tag"))
    finally sig.unpersist()
  }

  private def writeSig(sig: DataFrame, dir: String, tag: String,
                       mode: SaveMode, parts: Int = 0): Unit = {
    def shaped(df: DataFrame) = if (parts > 0) df.coalesce(parts) else df
    ptx.Jobs.par(
      () => shaped(ptx.ops.LlmScale.bandKeys(sig))
        .write.mode(mode).parquet(s"$dir/bands/batch=$tag"),
      () => shaped(sig.select(col("doc_id"), col("n_sh"), col("shset")))
        .write.mode(mode).parquet(s"$dir/sets/batch=$tag"))
  }
}
