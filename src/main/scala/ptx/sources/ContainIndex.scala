package ptx.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted containment index (r13): the build-once / probe-many split
  * of the SSJoin prefix-filtered containment pass — the fourth member of
  * the persisted-artifact family ([[VectorIndex]] ANN, [[DedupIndex]]
  * near-dup, [[DeconIndex]] decontamination, this for quote/verbatim
  * containment admission).
  *
  * `llm_containment_prefix` shingles and df-ranks the whole corpus
  * inline — right for a one-shot audit, wrong for incremental arrivals:
  * re-shingling petabytes to ask "is this shard's text contained in (or
  * containing) anything we already hold?" is the cost this index removes.
  * Each admission is linear in the SHARD.
  *
  * WHY BUILD-TIME PREFIXES STAY EXACT (the load-bearing property): the
  * prefix theorem is PIGEONHOLE — if containment(src→dst) ≥ t then ANY
  * ⌊(1−t)·n_src⌋+1 distinct shingles of src must intersect dst. The
  * df-rarity ranking only improves candidate SELECTIVITY, never recall,
  * so prefixes ranked with build-time df remain complete candidate
  * generators under any later corpus growth — index staleness can slow a
  * probe, but can never lose a pair. Verification is exact
  * (codegen'd sorted-merge count over persisted sorted hash sets), so
  * `probe` returns byte-identical pairs to an inline full recompute over
  * corpus∪shard restricted to shard-touching pairs (asserted in IoSpec),
  * even though the two computations generate different candidate sets.
  * Shared recipe objects ([[ptx.ops.LlmScale.containSets]]/
  * `containPrefix`/`containVerify`) make divergence from the query path a
  * compile-time impossibility.
  *
  * Layout (every writer lands under `batch=<tag>` in overwrite mode — the
  * [[DedupIndex]] idempotent-replay contract):
  *  - `sets/`   (doc_id, n_sh, shset)  — the exact-verify side;
  *  - `post/`   (h, doc_id)            — full shingle postings, the
  *    shard-prefix → corpus candidate join side;
  *  - `prefix/` (doc_id, h, rk)        — each corpus doc's build-time
  *    prefix entries, the corpus → shard-shingle candidate join side;
  *  - `df/`     (h, df)                — additive per-batch df parts
  *    (merged by sum on use; selectivity only, see above);
  *  - `meta/`   one row (t, n_docs)    — the build threshold travels with
  *    the index; probes at t' < t would need a larger prefix than stored
  *    and fail loudly.
  *
  * Scale: a probe never shuffles the index — under `microBatch=true` or
  * whenever the shard side fits `autoBroadcastJoinThreshold`. Outside
  * those (a large shard, default mode) the candidate joins degrade to
  * shuffle joins and the POST scan repartitions like any join side —
  * IoSpec's control case demonstrates exactly that, so size shards to the
  * broadcast threshold or probe in micro batches. Within the contract,
  * both candidate joins stream index scans against the BROADCAST shard
  * side (shard prefixes ≈
  * ⌊0.2·n_sh⌋+1 keys/doc; shard shingles are shard-sized), the verify
  * fetches only candidate ids' sets (broadcast semi join, or — micro
  * batches — a collected In(doc_id,…) filter that prunes the
  * [[compact]]ed doc_id-range layout on footer min/max), and the shard's
  * own shingling is the only corpus-independent heavy pass. df merging
  * touches only the shard's vocabulary (the df scan is semi-joined to the
  * broadcast shard hash set before aggregating).
  *
  * Caller contract (the [[DedupIndex]] one): doc_ids are unique
  * corpus-wide. Replaying an admission under ITS OWN tag is idempotent
  * (batch-scoped overwrite); re-admitting the same docs under a NEW tag
  * duplicates their sets/post/prefix rows (probe results survive via
  * dropDuplicates, but df counts inflate — selectivity-only, never
  * correctness, by the pigeonhole note above).
  */
object ContainIndex {

  /** Corpus pass: shingle `docs` (doc_id, text) once and persist all four
    * tables plus meta. `t` is the build threshold — probes require
    * t' ≥ t. */
  def write(docs: DataFrame, dir: String, t: Double = 0.8): Unit = {
    require(t > 0 && t < 1, s"threshold must be in (0,1), got $t")
    val spark = docs.sparkSession
    val sh = ptx.functions.TextShingles.shingles(docs)
      .select(col("doc_id"), col("shingle").as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sets = ptx.ops.LlmScale.containSets(sh)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nDocs = sets.count() // materializes the pins for the writers
        // the build lands the SERVING layout directly (r14): each table
        // range-laid and sorted on its probe key — the [[compact]] recipe
        // at write time — so a fresh index's footer min/max already
        // prunes the micro-batch In(...) scans; compact() remains for
        // collapsing accumulated per-batch append partitions. The sort
        // is one extra corpus-pass shuffle on the one-time build, the
        // standard sort-on-write trade for zone-map pruning.
        ptx.Jobs.par(
          () => sets.repartitionByRange(col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/sets/batch=base"),
          () => sh.select(col("h"), col("doc_id"))
            .repartitionByRange(col("h")).sortWithinPartitions(col("h"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/post/batch=base"),
          () => dfreq.repartitionByRange(col("h"))
            .sortWithinPartitions(col("h"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/df/batch=base"),
          () => ptx.ops.LlmScale.containPrefix(sh, dfreq, sets, t)
            .repartitionByRange(col("h")).sortWithinPartitions(col("h"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/prefix/batch=base"))
        import spark.implicits._
        Seq((t, nDocs)).toDF("t", "n_docs").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
        metaCache.remove(dir) // a rebuild may change t/n_docs
      } finally { dfreq.unpersist(); sets.unpersist() }
    } finally sh.unpersist()
  }

  /** The stored (t, n_docs) row — memoized per directory (r14): the meta
    * read is one driver job, and an admission batch paid it twice (probe
    * + append) per micro-batch. Meta is written once by [[write]] (which
    * invalidates the entry) and never touched by appends, so the cache
    * cannot go stale within the library's own contract. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()

  def meta(spark: SparkSession, dir: String): org.apache.spark.sql.Row =
    metaCache.computeIfAbsent(dir,
      _ => spark.read.parquet(s"$dir/meta").select("t", "n_docs").head())

  /** Directed containment pairs `(src, dst, containment ≥ t)` touching the
    * new shard — shard↔index both directions and shard↔shard, never
    * index↔index (reported when their shards were admitted). Shingles only
    * the shard. `t` must be ≥ the build threshold (a smaller t needs a
    * larger prefix than the index stores); a larger t reuses the stored
    * (bigger-than-needed) prefixes — still complete, only less selective.
    *
    * `microBatch = true` is the streaming-admission shape (the
    * [[DedupIndex.probeSigned]] contract): every shard-derived frame is
    * broadcastable by construction, and the bounded candidate-id set is
    * collected and pushed as an In(doc_id,…) filter into the
    * [[compact]]ed doc_id-range sets layout so the heavy verify scan
    * prunes on footer min/max. (The post scan carries no such push —
    * r15: its uniform hash keys make an In collapse to a full-domain
    * range, see probeArtifacts.) */
  def probe(spark: SparkSession, dir: String, newDocs: DataFrame,
            t: Double = 0.8, microBatch: Boolean = false): DataFrame =
    probeSh(spark, dir,
      ptx.Caching.pin(ptx.functions.TextShingles.shingles(newDocs)
        .select(col("doc_id"), col("shingle").as("h"))),
      t, microBatch)
      .orderBy(col("src"), col("dst"))

  /** Everything a probe pins, exposed so an admission pipeline can admit
    * the accepted subset from the SAME pinned frames ([[appendArtifacts]])
    * instead of recomputing sets/df/prefix from the shard text — r14,
    * VERDICT r13 #3: the append's internal meta-read + materialize-count
    * + df-merge barriers were ~half the contain batch's sink-round wall.
    * All frames are [[ptx.Caching]] pins owned by the caller's release
    * scope; `prefix` is (doc_id, h, rk) ranked at `probeT` with the
    * merged index+shard df. */
  private[ptx] case class ProbeArtifacts(pairs: DataFrame, sh: DataFrame,
                                         sets: DataFrame, prefix: DataFrame,
                                         probeT: Double, buildT: Double)

  /** [[probe]] on an already-shingled (and caller-cached) shard frame —
    * the shingle-once path for admission pipelines that also
    * [[appendSh]] the same frame (the [[DedupIndex.probeSigned]]
    * contract). Output is UNORDERED. */
  private[ptx] def probeSh(spark: SparkSession, dir: String,
                           shardSh: DataFrame, t: Double = 0.8,
                           microBatch: Boolean = false): DataFrame =
    probeArtifacts(spark, dir, shardSh, t, microBatch).pairs

  /** [[probeSh]], returning the pinned intermediates alongside the pair
    * frame (see [[ProbeArtifacts]]). */
  private[ptx] def probeArtifacts(spark: SparkSession, dir: String,
                                  shardSh: DataFrame, t: Double = 0.8,
                                  microBatch: Boolean = false): ProbeArtifacts = {
    ptx.functions.VectorOps.register(spark) // sorted_intersect_count
    val buildT = meta(spark, dir).getDouble(0)
    require(t >= buildT,
      s"probe threshold $t < build threshold $buildT: the stored prefixes " +
        s"are sized for t ≥ $buildT (rebuild the index for a weaker gate)")
    def small(df: DataFrame): DataFrame = if (microBatch) broadcast(df) else df
    val shardSets = ptx.Caching.pin(ptx.ops.LlmScale.containSets(shardSh))
    // rank the shard's prefixes by index df + the shard's own df — the
    // best available merged estimate. The df scan is pruned to the
    // shard's vocabulary BEFORE aggregating (broadcast semi join), so the
    // merge shuffles shard-vocab rows, never the index vocabulary.
    // Selectivity-only either way (see the pigeonhole note above).
    val shardH = shardSh.select(col("h")).distinct()
    val idxDf = spark.read.parquet(s"$dir/df")
      .select(col("h"), col("df"))
      .join(broadcast(shardH), Seq("h"), "left_semi")
    val dfreq = idxDf
      .unionByName(shardSh.groupBy(col("h")).agg(count(lit(1)).as("df")))
      .groupBy(col("h")).agg(sum(col("df")).as("df"))
    // the full (doc_id, h, rk) frame is the pin — [[appendArtifacts]]
    // re-reads it as the accepted docs' stored prefix; the probe's two
    // uses project (src, h) off the cache scan
    val prefixFull = ptx.Caching.pin(
      ptx.ops.LlmScale.containPrefix(shardSh, dfreq, shardSets, t))
    val shardPrefix = prefixFull.select(col("doc_id").as("src"), col("h"))
    // direction A — shard doc as src: its prefix hits ANY index posting
    // (plus the shard's own shingles, so intra-shard pairs are caught).
    // The posting scan streams against the broadcast prefix. NO In(h)
    // push here (removed r15, VERDICT r14 #3): the post table is keyed
    // by uniform 64-bit shingle hashes, so a prefix-hash In above the
    // parquet inFilterThreshold (10) collapses to a min..max RANGE that
    // spans the whole domain — it never pruned a row group at ANY
    // corpus size, while its driver collect cost one full sequential
    // job round per batch (the shard chain had to materialize BEFORE
    // the candidate plan could even be built). The broadcast hash join
    // cuts non-matching postings at the same scan-side cost the InSet
    // did; the candidate round now materializes the pinned shard chain
    // itself, one round instead of two. (Contrast the SETS scan below:
    // doc_id-ranged layout + clustered candidate ids CAN footer-prune,
    // so its In(doc_id) push stays.)
    val post = spark.read.parquet(s"$dir/post").select(col("h"), col("doc_id"))
    val candsA = small(shardPrefix)
      .join(post.toDF("h", "dst"), Seq("h"))
      .unionByName(small(shardPrefix).join(shardSh.toDF("dst", "h"), Seq("h")))
    // direction B — index doc as src: its BUILD-TIME prefix hits any
    // shard shingle (complete by pigeonhole regardless of df drift)
    val candsB = spark.read.parquet(s"$dir/prefix")
      .select(col("doc_id").as("src"), col("h"))
      .join(small(shardSh.toDF("dst", "h")), Seq("h"))
    val cands = ptx.Caching.pin(candsA.select(col("src"), col("dst"))
      .unionByName(candsB.select(col("src"), col("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // verify reads only candidate ids' sets (the DedupIndex r12 contract);
    // dropDuplicates covers the retried-admission case where shard docs
    // already landed in the index (identical rows — pure text functions)
    val candIds = cands.select(explode(array(col("src"), col("dst")))
      .as("doc_id")).distinct()
    val allSets = spark.read.parquet(s"$dir/sets")
      .select(col("doc_id"), col("n_sh"), col("shset"))
      .unionByName(shardSets.select(col("doc_id"), col("n_sh"), col("shset")))
    val candSets =
      if (microBatch) {
        val wanted = candIds.collect().map(_.getLong(0)).toSeq
        allSets.filter(col("doc_id").isin(wanted: _*))
      } else allSets.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val sets = ptx.Caching.pin(candSets.dropDuplicates("doc_id"))
    ProbeArtifacts(
      ptx.ops.LlmScale.containVerify(small(cands), small(sets), t),
      shardSh, shardSets, prefixFull, t, buildT)
  }

  /** Admit the accepted shard subset from a probe's OWN pinned frames
    * (r14): every table write is a filtered cache scan (the df table
    * re-aggregates the accepted shingles — one small shuffle inside its
    * write job), so the whole append rides the caller's concurrent sink
    * round with no internal meta-read / materialize-count barrier. The
    * stored prefix is reused verbatim when the probe ran at the build
    * threshold (the usual admission shape); its ranking df merges the
    * index with the FULL shard rather than the accepted subset — a
    * selectivity-only difference (prefix SIZE is what the pigeonhole
    * completeness argument fixes; see [[ptx.ops.LlmScale.containPrefix]]).
    * A probe at t > buildT falls back to [[appendSh]] (its prefixes are
    * smaller than the index stores — incomplete for later t = buildT
    * probes). */
  private[ptx] def appendArtifacts(art: ProbeArtifacts,
                                   keep: DataFrame => DataFrame,
                                   dir: String, tag: String,
                                   parts: Int = 0): Unit =
    if (art.probeT != art.buildT) appendSh(keep(art.sh), dir, tag, parts)
    else {
      def shaped(df: DataFrame) = if (parts > 0) df.coalesce(parts) else df
      val kSh = keep(art.sh)
      ptx.Jobs.par(
        () => shaped(keep(art.sets)
            .select(col("doc_id"), col("n_sh"), col("shset")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/sets/batch=$tag"),
        () => shaped(kSh.select(col("h"), col("doc_id")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/post/batch=$tag"),
        () => shaped(kSh.groupBy(col("h")).agg(count(lit(1)).as("df")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/df/batch=$tag"),
        () => shaped(keep(art.prefix).select(col("doc_id"), col("h"), col("rk")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/prefix/batch=$tag"))
    }

  /** Admit a shard under its own `batch=<tag>` partition (overwrite —
    * re-admitting a tag replaces, never duplicates). The shard's prefix
    * entries are ranked with index+shard df at admission time — exact
    * forever by the pigeonhole argument, like every other prefix here.
    * Call after [[probe]]'s action completes (and its pins released). */
  def append(newDocs: DataFrame, dir: String, tag: String): Unit = {
    val sh = ptx.functions.TextShingles.shingles(newDocs)
      .select(col("doc_id"), col("shingle").as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try appendSh(sh, dir, tag)
    finally sh.unpersist()
  }

  /** [[append]] on an already-shingled (and caller-cached) shard frame —
    * the shingle-once path: an admission pipeline that just [[probeSh]]'d
    * the shard admits the accepted subset by FILTERING the same cached
    * frame instead of re-shingling the accepted text (bit-identical —
    * shingles are pure functions of the text). `parts > 0` coalesces
    * each table write (the [[DedupIndex.appendSigned]] micro-batch
    * small-files contract). */
  private[ptx] def appendSh(sh: DataFrame, dir: String, tag: String,
                            parts: Int = 0): Unit = {
    val spark = sh.sparkSession
    val buildT = meta(spark, dir).getDouble(0)
    def shaped(df: DataFrame) = if (parts > 0) df.coalesce(parts) else df
    val locDf = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = ptx.ops.LlmScale.containSets(sh)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      sets.count() // materialize the pins before the concurrent writers
      val shardH = sh.select(col("h")).distinct()
      val mergedDf = spark.read.parquet(s"$dir/df")
        .select(col("h"), col("df"))
        .join(broadcast(shardH), Seq("h"), "left_semi")
        .unionByName(locDf)
        .groupBy(col("h")).agg(sum(col("df")).as("df"))
      ptx.Jobs.par(
        () => shaped(sets).write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/sets/batch=$tag"),
        () => shaped(sh.select(col("h"), col("doc_id")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/post/batch=$tag"),
        () => shaped(locDf).write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/df/batch=$tag"),
        () => shaped(ptx.ops.LlmScale.containPrefix(sh, mergedDf, sets, buildT))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/prefix/batch=$tag"))
    } finally { locDf.unpersist(); sets.unpersist() }
  }

  /** Compact the accumulated per-batch partitions into a fresh
    * single-snapshot copy at `dst` (never in place — the Io.compact
    * contract): sets range-laid by doc_id (the verify's In(doc_id,…)
    * pruning), post and prefix range-laid by h (collapses the per-batch
    * small-file accumulation; h-range footer pruning cannot fire on
    * uniform hash keys — see probeArtifacts — so the h sort buys layout
    * hygiene, not scan cuts), df
    * parts SUMMED into one part (reads stop paying the per-part merge).
    * Probes against the copy are row-identical (asserted in IoSpec). */
  def compact(spark: SparkSession, dir: String, dst: String): Unit = {
    Io.assertDisjointPaths(spark, dir, dst)
    spark.read.parquet(s"$dir/sets")
      .select(col("doc_id"), col("n_sh"), col("shset"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/sets/batch=base")
    spark.read.parquet(s"$dir/post")
      .select(col("h"), col("doc_id"))
      .repartitionByRange(col("h"))
      .sortWithinPartitions(col("h"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/post/batch=base")
    spark.read.parquet(s"$dir/prefix")
      .select(col("doc_id"), col("h"), col("rk"))
      .repartitionByRange(col("h"))
      .sortWithinPartitions(col("h"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/prefix/batch=base")
    spark.read.parquet(s"$dir/df")
      .groupBy(col("h")).agg(sum(col("df")).as("df"))
      .repartitionByRange(col("h"))
      .sortWithinPartitions(col("h"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/df/batch=base")
    spark.read.parquet(s"$dir/meta")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dst/meta")
    // compact rewrites dst's meta exactly like write() rewrites dir's —
    // a previously-probed dst must not keep serving the old (t, n_docs)
    // row from the per-JVM cache (a stale LOWER buildT would let a
    // t >= buildT probe pass the gate against prefixes sized for a
    // HIGHER threshold: silently incomplete candidates)
    metaCache.remove(dst)
  }
}
