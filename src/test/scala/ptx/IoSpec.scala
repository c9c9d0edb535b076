package ptx

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import ptx.sources.Io

/** Source/sink round-trips plus the plan-level guarantees the writers exist
  * for: partition pruning on partitioned layouts, shuffle-free aggregation
  * on bucketed tables.
  */
class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val events = Tables.events(spark, TestSpark.SF)

  test("csv round-trip preserves rows under an explicit schema") {
    val dir = TestSpark.tmpDir("ptx-csv")
    val df = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Io.writeCsv(df, dir)
    val back = Io.readCsv(spark, dir, df.schema)
    assert(back.count() == df.count())
    assert(back.agg(sum("value")).collect()(0).getDouble(0) ==
           df.agg(sum("value")).collect()(0).getDouble(0))
  }

  test("orc round-trip preserves rows and pushes filters to the scan (r6)") {
    val dir = TestSpark.tmpDir("ptx-orc")
    val df = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Io.writeOrc(df, dir)
    val back = Io.readOrc(spark, dir, df.schema)
    assert(back.count() == df.count())
    assert(back.agg(sum("value")).collect()(0).getDouble(0) ==
           df.agg(sum("value")).collect()(0).getDouble(0))
    // ORC scans carry predicate pushdown like parquet — assert the filter
    // is actually TRANSLATED to the reader (metadata PushedFilters), not
    // merely adjacent to the scan (dataFilters stays populated even with
    // spark.sql.orc.filterPushdown=false)
    val filtered = back.filter(col("event_type") === "error")
    val scan = filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("event_type"),
      s"filter not pushed to the ORC reader: ${scan.metadata("PushedFilters")}")
    assert(filtered.count() == df.filter(col("event_type") === "error").count())
  }

  test("json-lines round-trip preserves rows under an explicit schema") {
    val dir = TestSpark.tmpDir("ptx-json")
    val df = events.select(col("event_id"), col("event_type"), col("props"))
    Io.writeJsonLines(df, dir)
    val back = Io.readJsonLines(spark, dir, df.schema)
    assert(back.count() == df.count())
  }

  test("partitioned layout: reads prune partitions from the path") {
    val dir = TestSpark.tmpDir("ptx-part")
    Io.writePartitioned(events.withColumn("day", to_date(col("ts"))), dir, Seq("day"))
    val pruned = spark.read.parquet(dir).filter(col("day") === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter in:\n$plan")
    assert(pruned.count() ==
      events.filter(to_date(col("ts")) === "2024-01-02").count())
  }

  test("compact to a lang-partitioned layout: scan prunes partitions structurally (r6)") {
    // end-to-end over a real multi-file partitioned table (VERDICT r5 §1):
    // compact the documents fixture into a hive lang=... layout, then
    // prove pruning on the PHYSICAL plan — actual partitionFilters on the
    // scan node and the post-pruning file listing — not a string match.
    val dir = TestSpark.tmpDir("ptx-part-docs")
    val docs = spark.read.parquet(s"${TestSpark.SF}/documents.parquet")
    Io.compact(spark, s"${TestSpark.SF}/documents.parquet", dir,
      targetMB = 1, sortCol = Some("doc_id"), partitionCols = Seq("lang"))
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.length > 1, "fixture must have several langs to prune")
    val target = langs.min
    val pruned = spark.read.parquet(dir).filter(col("lang") === target)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters on the scan, plan:\n${scan.toString}")
    // the listing the scan will actually read, after partition pruning
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files).map(_.getPath.toString)
    val all = scan.relation.location.listFiles(Nil, Nil).flatMap(_.files)
    assert(selected.nonEmpty && selected.size < all.size,
      s"pruning must drop files: ${selected.size} of ${all.size}")
    assert(selected.forall(_.contains(s"lang=$target")),
      s"every selected file must sit under lang=$target: $selected")
    // and the pruned read is still correct
    assert(pruned.count() == docs.filter(col("lang") === target).count())
  }

  test("persisted IVF index: probe against parquet index equals the inline query (r5)") {
    val dir = TestSpark.tmpDir("ptx-ivf")
    val e = Tables.embeddings(spark, TestSpark.SF)
    ptx.sources.VectorIndex.write(e, dir)
    // index artifact is broadcast-sized: one float32 vector per cell
    val idx = ptx.sources.VectorIndex.read(spark, dir)
    assert(idx.columns.toSeq == Seq("label", "centroid"))
    assert(idx.count() == e.select("label").distinct().count())
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val probeDf = ptx.sources.VectorIndex
      .probe(spark, dir, e, probes, nprobe = 3, k = 5)
    val persisted = probeDf.collect().map(key).toSeq
    val inline = QueryRegistry.all("llm_ann_ivf")(spark, TestSpark.SF)
      .collect().map(key).toSeq
    assert(persisted == inline, "persisted-index probe diverged from the inline query")
    // the serving path pushes the wanted cell labels INTO the corpus
    // scan (r12): footer min/max pruning against the range-laid cells
    // layout, instead of reading + shuffling the whole corpus per probe
    // batch — and the candidate join broadcasts the probe side
    val planStr = probeDf.queryExecution.executedPlan.toString
    assert(planStr.contains("In(label"),
      s"wanted-cell filter not pushed to the corpus scan:\n$planStr")
    assert(planStr.contains("BroadcastHashJoin"),
      s"candidate join did not broadcast the probe side:\n$planStr")
  }

  test("persisted BPE tokenizer: every artifact read equals the inline learner bit-for-bit (r17)") {
    val dir = TestSpark.tmpDir("ptx-bpemodel")
    val docs = Tables.documents(spark, TestSpark.SF)
    ptx.sources.BpeModel.write(docs, dir, k = 8)
    // merges half == inline learn (rank order)
    val inlineMerges = ptx.functions.BpeLearn.learn(docs, 8)
      .collect().map(_.toSeq).toSeq
    val artMerges = ptx.sources.BpeModel.readMerges(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(artMerges == inlineMerges, "persisted merge table diverged from the inline learner")
    assert(artMerges.nonEmpty)
    // types half == inline learnEncode ((cnt desc, word) order)
    val inlineTypes = ptx.functions.BpeLearn.learnEncode(docs, 8)
      .collect().map(_.toSeq).toSeq
    val artTypes = ptx.sources.BpeModel.readTypes(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(artTypes == inlineTypes, "persisted type table diverged from the inline encoder")
    // doc grain from the artifact == the inline docTokens (the shape the
    // pack/budget/fertility queries consume)
    val inlineDoc = ptx.functions.BpeLearn.docTokens(docs, 8)
      .collect().map(_.toSeq).toSeq
    val artDoc = ptx.sources.BpeModel.docTokens(spark, dir, docs)
      .collect().map(_.toSeq).toSeq
    assert(artDoc == inlineDoc, "artifact doc-grain counts diverged from inline")
    // a NEW corpus — including OOV words the trainer never saw — encodes
    // through the persisted merge table exactly as through the in-memory
    // one (the serving path: learn once, encode anything)
    import spark.implicits._
    val fresh = Seq((1L, "zzzq unseen words here"), (2L, "unseen zzzq again"))
      .toDF("doc_id", "text")
    val memMerges = inlineMerges.map(r =>
      (r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
    val viaMem = ptx.functions.BpeLearn.encode(fresh, memMerges)
      .collect().map(_.toSeq).toSeq
    val viaArt = ptx.sources.BpeModel.encode(spark, dir, fresh)
      .collect().map(_.toSeq).toSeq
    assert(viaArt == viaMem, "artifact encode of a new corpus diverged")
    // ensure() is build-once: both calls land on the same artifact dir,
    // and the served doc-grain equals the direct-artifact read
    val e1 = ptx.sources.BpeModel.ensure(spark, TestSpark.SF, 8)
    val e2 = ptx.sources.BpeModel.ensure(spark, TestSpark.SF, 8)
    assert(e1 == e2, "ensure must memoize the artifact dir")
    val served = ptx.sources.BpeModel.docTokensFor(spark, TestSpark.SF, 8)
      .collect().map(_.toSeq).toSeq
    assert(served == inlineDoc, "ensure-served doc grain diverged from inline")
  }

  test("BpeModel.ensure re-keys on a corpus change instead of serving stale merges (r17)") {
    import spark.implicits._
    // the cache key is a fingerprint of the documents.parquet LISTING —
    // the fixture dirs are regenerated across driver rounds under the
    // SAME path, so keying on the path alone would silently serve last
    // round's tokenizer
    val dataDir = TestSpark.tmpDir("ptx-bpe-stale")
    def writeCorpus(rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(rows).toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("s"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")).cast("long"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    writeCorpus(Seq((1L, "aa ab aa ab aa"), (2L, "aa ab cd cd")))
    val d1 = ptx.sources.BpeModel.ensure(spark, dataDir, k = 4)
    val m1 = ptx.sources.BpeModel.readMerges(spark, d1).collect().map(_.toSeq).toSeq
    assert(m1.nonEmpty)
    // same corpus bytes → same artifact dir, no rebuild signal needed
    assert(ptx.sources.BpeModel.ensure(spark, dataDir, k = 4) == d1)
    // a DIFFERENT k is a different tokenizer → different artifact
    assert(ptx.sources.BpeModel.ensure(spark, dataDir, k = 2) != d1)
    // regenerate the corpus UNDER THE SAME PATH → new key, fresh train
    writeCorpus(Seq((1L, "xx xy xx xy"), (2L, "xx xy zz zz zz")))
    val d2 = ptx.sources.BpeModel.ensure(spark, dataDir, k = 4)
    assert(d2 != d1, "regenerated corpus must re-key the artifact")
    val m2 = ptx.sources.BpeModel.readMerges(spark, d2).collect().map(_.toSeq).toSeq
    assert(m2 != m1, "regenerated corpus served the stale merge table")
    // and the fresh artifact equals a direct build over the new corpus
    val direct = ptx.functions.BpeLearn
      .learn(Tables.documents(spark, dataDir), 4).collect().map(_.toSeq).toSeq
    assert(m2 == direct)
  }

  test("persisted dedup index: incremental shard probes equal the inline full recompute (r11)") {
    val dir = TestSpark.tmpDir("ptx-dedupidx")
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val shard1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 5)
    val shard2 = docs.filter(col("doc_id") % 10 === 5)
    // ground truth: the inline query over the FULL corpus — per-doc
    // signatures don't depend on which subset they were computed in, so
    // every incremental probe must return exactly the full-corpus pairs
    // touching its shard (restricted to docs indexed-or-arriving so far)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val full = QueryRegistry.all("llm_dedup_minhash_lsh")(spark, TestSpark.SF)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val s1 = shard1.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = shard2.select("doc_id").collect().map(_.getLong(0)).toSet
    ptx.sources.DedupIndex.write(base, dir)
    val probe1 = ptx.sources.DedupIndex.probe(spark, dir, shard1)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val want1 = full.filter { case (a, b, _) =>
      (s1(a) || s1(b)) && !s2(a) && !s2(b) }
    assert(probe1 == want1, s"shard1 probe diverged (${probe1.size} vs ${want1.size})")
    // admit shard1, then shard2's probe must also see shard1's docs
    ptx.sources.DedupIndex.append(shard1, dir, "s1")
    val probe2 = ptx.sources.DedupIndex.probe(spark, dir, shard2)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val want2 = full.filter { case (a, b, _) => s2(a) || s2(b) }
    assert(probe2 == want2, s"shard2 probe diverged (${probe2.size} vs ${want2.size})")
    // retried-admission idempotency: after shard2's append has LANDED, a
    // re-probe of shard2 (the failed-attempt replay) must return the same
    // pairs with no duplicated rows — the shard's docs now sit on both
    // the index and shard sides of the verify join
    ptx.sources.DedupIndex.append(shard2, dir, "s2")
    val rows2 = ptx.sources.DedupIndex.probe(spark, dir, shard2)
      .collect().map(key).toSeq
    ptx.Caching.releaseAll()
    assert(rows2.distinct.size == rows2.size, "retried probe duplicated pair rows")
    assert(rows2.toSet == want2, "retried probe diverged from the original")
    // compaction: the single-partition copy answers probes identically
    // and actually collapses the per-batch partitions
    val cdir = TestSpark.tmpDir("ptx-dedupidx-compact")
    ptx.sources.DedupIndex.compact(spark, dir, cdir)
    val probeC = ptx.sources.DedupIndex.probe(spark, cdir, shard2)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(probeC == want2, "compacted-index probe diverged")
    def batchParts(p: String): Int = new java.io.File(s"$p/bands")
      .listFiles().count(_.getName.startsWith("batch="))
    assert(batchParts(dir) == 3 && batchParts(cdir) == 1,
      s"expected 3 source / 1 compacted partitions, got " +
        s"${batchParts(dir)} / ${batchParts(cdir)}")
    // in place is refused loudly (the Io.compact contract)
    val ex = intercept[IllegalArgumentException] {
      ptx.sources.DedupIndex.compact(spark, dir, s"$dir/nested")
    }
    assert(ex.getMessage.contains("outside"))
    // the fixture must actually exercise both pair classes
    assert(want1.nonEmpty && want2.nonEmpty, "fixture produced no shard pairs")
  }

  test("bucketed dedup index: identical probe rows, no index-side exchange in the band join (r12)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val shard = docs.filter(col("doc_id") % 5 === 0)
    val dir = TestSpark.tmpDir("ptx-didx-src")
    ptx.sources.DedupIndex.write(base, dir)
    val plainDir = TestSpark.tmpDir("ptx-didx-plain")
    ptx.sources.DedupIndex.compact(spark, dir, plainDir)
    val bDir = TestSpark.tmpDir("ptx-didx-bucketed")
    ptx.sources.DedupIndex.compactBucketed(spark, dir, bDir,
      "dedup_bands_bucketed", buckets = 4)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val plainRows = ptx.sources.DedupIndex.probe(spark, plainDir, shard)
      .collect().map(key).toSeq
    ptx.Caching.releaseAll()
    // structural plan assertions need a concrete (non-adaptive) plan, and
    // the 100 TB claim is about the SHUFFLED band join — neither side of
    // a corpus-sized index broadcasts — so pin both confs for the probe
    Jobs.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      // the probe pins its candidate frame, so the band join lives inside
      // an InMemoryRelation's cached plan — flatten recurses through
      // cached plans so the structural checks see the whole tree
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val nodes = p.collect { case q => q }
        nodes ++ nodes.flatMap {
          case im: InMemoryTableScanExec => flatten(im.relation.cachedPlan)
          case _ => Nil
        }
      }
      def scanOf(p: SparkPlan, path: String): Seq[FileSourceScanExec] =
        flatten(p).collect {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(path)) => f
        }
      // an exchange BETWEEN the band scan and the band join = the index
      // side re-shuffle the bucket layout exists to remove (exchanges
      // above the join — distinct, verify — legitimately remain)
      def indexSideExchanges(p: SparkPlan, path: String): Seq[SparkPlan] =
        flatten(p).collect {
          case e: ShuffleExchangeExec if scanOf(e.child, path).nonEmpty &&
            flatten(e.child).collect {
              case j: SortMergeJoinExec => j
              case j: ShuffledHashJoinExec => j }.isEmpty => e
        }
      val probeB = ptx.sources.DedupIndex.probe(spark, bDir, shard,
        bandsTable = Some("dedup_bands_bucketed"))
      val planB = probeB.queryExecution.executedPlan
      val bScans = scanOf(planB, s"$bDir/bands")
      assert(bScans.nonEmpty, s"no scan over the bucketed band table in:\n$planB")
      assert(bScans.forall(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        s"band scan did not use the bucket layout (output partitioning is not hash):\n$planB")
      assert(indexSideExchanges(planB, s"$bDir/bands").isEmpty,
        s"bucketed index side of the band join still exchanges:\n$planB")
      val bRows = probeB.collect().map(key).toSeq
      ptx.Caching.releaseAll()
      assert(bRows == plainRows, "bucketed-index probe diverged from the plain layout")
      // micro-batch probe shape (r12): candidate ids are collected and
      // pushed as an In(doc_id, …) filter into the HEAVY sets scan (the
      // compacted layout is range-laid by doc_id so the filter prunes on
      // footer min/max), and rows stay identical to the public probe
      val sig = ptx.Caching.pin(ptx.sources.DedupIndex.signatures(shard))
      val probeM = ptx.sources.DedupIndex.probeSigned(spark, bDir, sig,
        bandsTable = Some("dedup_bands_bucketed"), microBatch = true)
      val planM = probeM.queryExecution.executedPlan.toString
      assert(planM.contains("In(doc_id"),
        s"candidate-id filter not pushed to the sets scan:\n$planM")
      val mRows = probeM.collect().map(key).toSeq.sorted
      ptx.Caching.releaseAll()
      assert(mRows == plainRows.sorted,
        "micro-batch probe diverged from the public probe")
      // teeth: under the same confs the PLAIN layout pays the index-side
      // exchange this assertion forbids
      val probeP = ptx.sources.DedupIndex.probe(spark, plainDir, shard)
      assert(indexSideExchanges(probeP.queryExecution.executedPlan,
        s"$plainDir/bands").nonEmpty,
        "control failed: plain-layout probe shows no index-side exchange")
      ptx.Caching.releaseAll()
    }
  }

  test("containment index probe plan: index scans join broadcast-shard-side, never shuffle unjoined (r13)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val shard = docs.filter(col("doc_id") % 5 === 0)
    val dir = TestSpark.tmpDir("ptx-cidx-src")
    ptx.sources.ContainIndex.write(base, dir, t = 0.8)
    val cdir = TestSpark.tmpDir("ptx-cidx-compact")
    ptx.sources.ContainIndex.compact(spark, dir, cdir)
    // structural assertions need a concrete (non-adaptive) plan
    Jobs.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val nodes = p.collect { case q => q }
        nodes ++ nodes.flatMap {
          case im: InMemoryTableScanExec => flatten(im.relation.cachedPlan)
          case _ => Nil
        }
      }
      def scanOf(p: SparkPlan, path: String): Seq[FileSourceScanExec] =
        flatten(p).collect {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(path)) => f
        }
      // an exchange whose child holds an index scan with NO join in
      // between means raw index rows shuffled before meeting the shard —
      // the cost the broadcast-shard probe shape exists to remove.
      // (Exchanges above a join — candidate distinct, verify — carry
      // candidate-bounded rows and legitimately remain; the df merge
      // shuffles only the shard's vocabulary and is checked separately.)
      def unjoinedExchanges(p: SparkPlan, path: String): Seq[SparkPlan] =
        flatten(p).collect {
          case e: ShuffleExchangeExec if scanOf(e.child, path).nonEmpty &&
            flatten(e.child).collect {
              case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
            }.isEmpty => e
        }
      val sh = ptx.Caching.pin(
        ptx.functions.TextShingles.shingles(shard.select("doc_id", "text"))
          .select(col("doc_id"), col("shingle").as("h")))
      val probeM = ptx.sources.ContainIndex.probeSh(spark, cdir, sh,
        microBatch = true)
      val planM = probeM.queryExecution.executedPlan
      val planStr = planM.toString
      // the two corpus-sized sides stream against the broadcast shard
      assert(scanOf(planM, s"$cdir/post").nonEmpty, s"no post scan in:\n$planStr")
      assert(unjoinedExchanges(planM, s"$cdir/post").isEmpty,
        s"post side shuffled unjoined:\n$planStr")
      assert(unjoinedExchanges(planM, s"$cdir/prefix").isEmpty,
        s"prefix side shuffled unjoined:\n$planStr")
      // the bounded driver-collected candidate ids are pushed INTO the
      // heavy sets scan (doc_id-range layout after compact → footer
      // min/max pruning). The post scan deliberately carries NO In(h)
      // push (r15): uniform 64-bit hash keys make an In above the
      // parquet inFilterThreshold collapse to a full-domain range — it
      // never pruned, and its driver collect cost a sequential job
      // round per admission batch (the r15 contract change this test
      // would otherwise mask)
      assert(planStr.contains("In(doc_id"),
        s"candidate-id filter not pushed to the sets scan:\n$planStr")
      assert(!planStr.contains("In(h"),
        s"post scan regained the pruneless prefix-hash In round:\n$planStr")
      probeM.collect()
      ptx.Caching.releaseAll()
      // teeth: the default (exchange-form) probe under no-broadcast confs
      // DOES shuffle the post side — the shape the micro-batch path forbids
      Jobs.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val sh2 = ptx.Caching.pin(
          ptx.functions.TextShingles.shingles(shard.select("doc_id", "text"))
            .select(col("doc_id"), col("shingle").as("h")))
        val probeD = ptx.sources.ContainIndex.probeSh(spark, cdir, sh2)
        assert(unjoinedExchanges(probeD.queryExecution.executedPlan,
          s"$cdir/post").nonEmpty,
          "control failed: default probe shows no unjoined post-side exchange")
        ptx.Caching.releaseAll()
      }
    }
  }

  test("containment append from probe pins equals the from-text append on probe results (r14)") {
    // appendArtifacts writes the accepted docs' sets/post/df/prefix from
    // the probe's OWN pinned frames; its prefix ranking df (index +
    // FULL-shard merge) differs from appendSh's (index + accepted-only),
    // so the stored prefix ROWS may differ — but any ⌊(1−t)n⌋+1-sized
    // prefix is a complete candidate generator (pigeonhole), so probes
    // against the two indexes must return IDENTICAL pairs, and the
    // per-doc prefix sizes must agree exactly.
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val shard1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 5)
      .select("doc_id", "text")
    val shard2 = docs.filter(col("doc_id") % 10 === 5).select("doc_id", "text")
    val dirA = TestSpark.tmpDir("ptx-cidx-appendsh")
    val dirB = TestSpark.tmpDir("ptx-cidx-appendart")
    ptx.sources.ContainIndex.write(base, dirA, t = 0.8)
    ptx.sources.ContainIndex.write(base, dirB, t = 0.8)
    // path A: the from-text append
    ptx.sources.ContainIndex.append(shard1, dirA, "s1")
    // path B: probe then append the SAME (here: all) docs from the pins,
    // through the admission pipelines' exact call shape
    val sh1 = ptx.Caching.pin(
      ptx.functions.TextShingles.shingles(shard1)
        .select(col("doc_id"), col("shingle").as("h")))
    val art = ptx.sources.ContainIndex.probeArtifacts(
      spark, dirB, sh1, t = 0.8, microBatch = true)
    art.pairs.count() // materialize the probe like an admission batch does
    ptx.sources.ContainIndex.appendArtifacts(art, identity, dirB, "s1")
    ptx.Caching.releaseAll()
    // per-doc prefix sizes agree exactly (the pigeonhole size bound)
    def prefixSizes(dir: String) = spark.read.parquet(s"$dir/prefix/batch=s1")
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (szA, szB) = (prefixSizes(dirA), prefixSizes(dirB))
    assert(szA == szB, "per-doc prefix sizes diverged between append paths")
    // and shard2's probe sees identical pairs through either index
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val pA = ptx.sources.ContainIndex.probe(spark, dirA, shard2)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val pB = ptx.sources.ContainIndex.probe(spark, dirB, shard2)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(pA.nonEmpty && pA == pB,
      s"probe diverged between append paths (${pA.size} vs ${pB.size})")
    // a probe at t > buildT cannot reuse its (smaller) prefixes for the
    // append — appendArtifacts must fall back to the from-text path and
    // still land buildT-sized prefixes
    val dirC = TestSpark.tmpDir("ptx-cidx-appendstrict")
    ptx.sources.ContainIndex.write(base, dirC, t = 0.8)
    val sh1c = ptx.Caching.pin(
      ptx.functions.TextShingles.shingles(shard1)
        .select(col("doc_id"), col("shingle").as("h")))
    val artC = ptx.sources.ContainIndex.probeArtifacts(
      spark, dirC, sh1c, t = 0.9, microBatch = true)
    artC.pairs.count()
    ptx.sources.ContainIndex.appendArtifacts(artC, identity, dirC, "s1")
    ptx.Caching.releaseAll()
    assert(prefixSizes(dirC) == szA,
      "strict-probe append did not fall back to buildT-sized prefixes")
  }

  test("ContainIndex.compact invalidates the destination's cached meta (r14)") {
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val shard = docs.filter(col("doc_id") % 5 === 0).limit(5)
    val lo = TestSpark.tmpDir("ptx-cidx-meta-lo"); val hi = TestSpark.tmpDir("ptx-cidx-meta-hi")
    val serving = TestSpark.tmpDir("ptx-cidx-meta-serving")
    ptx.sources.ContainIndex.write(base, lo, t = 0.5)
    ptx.sources.ContainIndex.compact(spark, lo, serving)
    // populate the per-JVM meta cache for `serving` with buildT = 0.5
    ptx.sources.ContainIndex.probe(spark, serving, shard, t = 0.6).count()
    ptx.Caching.releaseAll()
    // re-point the serving dir at a TIGHTER index: the stale cached 0.5
    // row must not let a 0.6 probe through prefixes sized for t ≥ 0.9
    // (silently incomplete candidates) — the threshold gate must read
    // the compacted meta
    ptx.sources.ContainIndex.write(base, hi, t = 0.9)
    ptx.sources.ContainIndex.compact(spark, hi, serving)
    val ex = intercept[IllegalArgumentException] {
      ptx.sources.ContainIndex.probe(spark, serving, shard, t = 0.6).count()
    }
    assert(ex.getMessage.contains("build threshold"))
    ptx.Caching.releaseAll()
  }

  test("persisted decontamination index: byte-identical round-trip, exact Bloom-union append (r12)") {
    val docs = Tables.documents(spark, TestSpark.SF)
    val evalA = docs.filter(col("doc_id") % 10 === 5)
    val evalB = docs.filter(col("doc_id") % 10 === 7)
    val train = docs.filter(col("doc_id") % 10 === 0)
    val dir = TestSpark.tmpDir("ptx-deconidx")
    ptx.sources.DeconIndex.write(evalA, dir)
    // the persisted sketch IS the in-memory build, byte for byte (Bloom
    // bits are an order-independent OR of per-item bits)
    val persisted = ptx.sources.DeconIndex.read(spark, dir)
    val inMem = ptx.stream.Pipelines.evalGramSketch(evalA)
    assert(java.util.Arrays.equals(persisted, inMem),
      "persisted sketch diverged from the in-memory build")
    // so the gate's verdicts through the persisted sketch are identical
    def verdicts(sk: Array[Byte]) =
      ptx.stream.Pipelines.deconVerdict(train, sk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(verdicts(persisted) == verdicts(inMem))
    // append == rebuild over the union corpus, byte-identical
    ptx.sources.DeconIndex.append(evalB, dir)
    val unionDir = TestSpark.tmpDir("ptx-deconidx-union")
    ptx.sources.DeconIndex.write(evalA.unionByName(evalB), unionDir)
    val appended = ptx.sources.DeconIndex.read(spark, dir)
    assert(java.util.Arrays.equals(appended,
      ptx.sources.DeconIndex.read(spark, unionDir)),
      "Bloom-union append diverged from a rebuild over the union corpus")
    // bit-idempotent replay: re-appending the same shard leaves the
    // sketch unchanged (the streaming-retry contract)
    ptx.sources.DeconIndex.append(evalB, dir)
    assert(java.util.Arrays.equals(appended,
      ptx.sources.DeconIndex.read(spark, dir)),
      "re-appended shard mutated the sketch")
    // the stored parameters travel with the bits
    val m = ptx.sources.DeconIndex.meta(spark, dir)
    assert(m.getLong(1) == 8388608L && m.getInt(3) == 8)
    assert(m.getLong(4) > 0 && m.getLong(5) > 0)
    // non-vacuous: the eval suites must actually contaminate some train doc
    assert(verdicts(appended).exists(_._3 > 0), "no contamination hits — vacuous")
  }

  test("persisted containment index: incremental probes equal the inline full recompute (r13)") {
    val dir = TestSpark.tmpDir("ptx-containidx")
    val docs = Tables.documents(spark, TestSpark.SF)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val shard1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 5)
    val shard2 = docs.filter(col("doc_id") % 10 === 5)
    // ground truth: the shared inline recipe over the FULL corpus — the
    // pairs at threshold t are uniquely determined by the texts, so every
    // incremental probe must return exactly the full-corpus pairs touching
    // its shard (restricted to docs indexed-or-arriving so far), even
    // though the index generates candidates from BUILD-TIME prefixes (the
    // pigeonhole argument in the ContainIndex scaladoc)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    def full(t: Double) = {
      val p = ptx.ops.LlmScale.containPairs(docs, t).collect().map(key).toSet
      ptx.Caching.releaseAll(); p
    }
    val full08 = full(0.8)
    val s1 = shard1.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = shard2.select("doc_id").collect().map(_.getLong(0)).toSet
    ptx.sources.ContainIndex.write(base, dir, t = 0.8)
    val probe1 = ptx.sources.ContainIndex.probe(spark, dir, shard1)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val want1 = full08.filter { case (a, b, _) =>
      (s1(a) || s1(b)) && !s2(a) && !s2(b) }
    assert(probe1 == want1, s"shard1 probe diverged (${probe1.size} vs ${want1.size})")
    // admit shard1, then shard2's probe must also see shard1's docs
    ptx.sources.ContainIndex.append(shard1, dir, "s1")
    val probe2 = ptx.sources.ContainIndex.probe(spark, dir, shard2)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val want2 = full08.filter { case (a, b, _) => s2(a) || s2(b) }
    assert(probe2 == want2, s"shard2 probe diverged (${probe2.size} vs ${want2.size})")
    // probing at a STRICTER threshold reuses the stored (larger) prefixes
    val probe2strict = ptx.sources.ContainIndex.probe(spark, dir, shard2, t = 0.9)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    val want2strict = full(0.9).filter { case (a, b, _) => s2(a) || s2(b) }
    assert(probe2strict == want2strict, "strict-threshold probe diverged")
    // a WEAKER threshold needs a larger prefix than stored — refused loudly
    val ex = intercept[IllegalArgumentException] {
      ptx.sources.ContainIndex.probe(spark, dir, shard2, t = 0.5)
    }
    assert(ex.getMessage.contains("build threshold"))
    // retried-admission idempotency: after shard2's append LANDED, a
    // replayed probe returns the same pairs with no duplicated rows
    ptx.sources.ContainIndex.append(shard2, dir, "s2")
    val rows2 = ptx.sources.ContainIndex.probe(spark, dir, shard2)
      .collect().map(key).toSeq
    ptx.Caching.releaseAll()
    assert(rows2.distinct.size == rows2.size, "retried probe duplicated pair rows")
    assert(rows2.toSet == want2, "retried probe diverged from the original")
    // the micro-batch shape (broadcast shard + collected In-filters)
    // returns identical rows
    val probeMb = ptx.sources.ContainIndex
      .probe(spark, dir, shard2, microBatch = true)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(probeMb == want2, "micro-batch probe diverged")
    // compaction: the merged single-snapshot copy answers identically and
    // collapses the per-batch partitions (df parts additionally SUM-merge)
    val cdir = TestSpark.tmpDir("ptx-containidx-compact")
    ptx.sources.ContainIndex.compact(spark, dir, cdir)
    val probeC = ptx.sources.ContainIndex
      .probe(spark, cdir, shard2, microBatch = true)
      .collect().map(key).toSet
    ptx.Caching.releaseAll()
    assert(probeC == want2, "compacted-index probe diverged")
    def batchParts(p: String, table: String): Int = new java.io.File(s"$p/$table")
      .listFiles().count(_.getName.startsWith("batch="))
    assert(batchParts(dir, "post") == 3 && batchParts(cdir, "post") == 1,
      "expected 3 source / 1 compacted post partitions")
    assert(batchParts(cdir, "df") == 1, "df parts did not merge")
    val inPlace = intercept[IllegalArgumentException] {
      ptx.sources.ContainIndex.compact(spark, dir, s"$dir/nested")
    }
    assert(inPlace.getMessage.contains("outside"))
    // the fixture must actually exercise both shard pair classes
    assert(want1.nonEmpty && want2.nonEmpty, "fixture produced no shard pairs")
  }

  test("deterministic k-means: reproducible cells that beat the global mean cosine (r5)") {
    val e = Tables.embeddings(spark, TestSpark.SF)
    val (cent1, assign1) = ptx.sources.VectorIndex.kmeans(e, k = 8, iters = 3)
    val (cent2, assign2) = ptx.sources.VectorIndex.kmeans(e, k = 8, iters = 3)
    // determinism: identical assignments and centroids across two builds
    val a1 = assign1.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val a2 = assign2.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(a1 == a2, "k-means assignments differ across identical builds")
    assert(a1.length == e.count(), "every vector must be assigned")
    assert(a1.map(_._2).distinct.length <= 8)
    val c1 = cent1.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val c2 = cent2.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(c1.toSeq == c2.toSeq, "centroids differ across identical builds")
    // usefulness: mean cosine to the ASSIGNED centroid must beat the mean
    // cosine to the global mean vector (cells are tighter than no cells)
    ptx.functions.VectorOps.register(spark)
    val withCent = e.drop("label").join(assign1, "vec_id")
      .join(cent1.withColumnRenamed("label", "clabel"),
        col("label") === col("clabel"))
    val intra = withCent
      .agg(avg(expr("cosine_sim(embedding, centroid)"))).collect()(0).getDouble(0)
    val globalCent = ptx.ops.LlmScale.ivfCentroids(
      e.withColumn("label", lit(0))).select(col("centroid"))
    val global = e.crossJoin(broadcast(globalCent))
      .agg(avg(expr("cosine_sim(embedding, centroid)"))).collect()(0).getDouble(0)
    assert(intra > global,
      s"k-means cells no tighter than the global mean: intra=$intra global=$global")
  }

  test("bucketed table: groupBy on the bucket key plans no shuffle") {
    Io.writeBucketed(events.select("event_id", "user_id", "value"),
      "ev_bucketed", buckets = 4, bucketCol = "user_id", sortCol = "event_id")
    val agg = spark.table("ev_bucketed").groupBy("user_id").agg(sum("value"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed groupBy still shuffles:\n$plan")
    assert(agg.count() == events.select("user_id").distinct().count())
  }

  test("compact: many small files collapse to few, rows survive, ranges disjoint") {
    val src = TestSpark.tmpDir("ptx-compact-src")
    val dst = TestSpark.tmpDir("ptx-compact-dst") + "/out"
    // simulate a streaming sink's droppings: 32 tiny files
    events.repartition(32).write.mode("overwrite").parquet(src)
    def parquetFiles(p: String): Seq[java.io.File] =
      new java.io.File(p).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(src).length == 32)
    Io.compact(spark, src, dst, targetMB = 128, sortCol = Some("event_id"))
    val outFiles = parquetFiles(dst)
    assert(outFiles.length < 32, s"still ${outFiles.length} files")
    assert(spark.read.parquet(dst).count() == events.count())
    // range partitioning: per-file event_id ranges must not overlap
    val ranges = outFiles.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("event_id")), max(col("event_id"))).collect()(0)
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $ranges")
    }
  }

  test("co-bucketed join: both sides pre-bucketed on the key plan ZERO exchanges") {
    // the 100 TB co-location recipe: two fact tables bucketed the same way
    // join without moving either side — the physical property the
    // repartition()/bucketing advice in SURVEY §4 is about
    Io.writeBucketed(events.select("event_id", "user_id", "value"),
      "ev_left", buckets = 4, bucketCol = "user_id", sortCol = "user_id")
    Io.writeBucketed(
      events.groupBy("user_id").agg(count(lit(1)).as("n_ev")),
      "ev_right", buckets = 4, bucketCol = "user_id", sortCol = "user_id")
    // disable auto-broadcast: the point is the co-located shuffle-free
    // SMJ — at 100 TB neither fact side would be broadcastable
    Jobs.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("ev_left")
        .join(spark.table("ev_right"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still exchanges:\n$plan")
      assert(joined.count() == events.count())
    }
  }
}
