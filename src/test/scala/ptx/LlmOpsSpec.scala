package ptx

import org.scalatest.funsuite.AnyFunSuite
import ptx.functions.{CosineSim, MediaDecode}

/** Dedup/similarity operator checks: sketch ops against their exact
  * counterparts, plus direct property tests of the kernels (SURVEY §5.3;
  * seeded generators rather than scalacheck — the scalatest-scalacheck
  * bridge artifact is not resolvable offline).
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // sf0.01 has real near-dup structure (25 exact-Jaccard pairs ≥ 0.4)
  private val SF01 = "/root/testdata/sf0.01"
  private def q(name: String, d: String = SF01) = QueryRegistry.all(name)(spark, d)

  test("minhash-LSH candidates, after exact verify, are a subset of exact near-dup pairs") {
    val exact = q("llm_dedup_near").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = q("llm_dedup_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))
    // high-similarity pairs (j ≥ 0.8) must all be recalled at r=2/b=8
    val high = q("llm_dedup_near").collect()
      .filter(_.getDouble(2) >= 0.8).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.subsetOf(mh), s"missed high-sim pairs: ${high -- mh}")
  }

  test("exact dedup is idempotent and keeps min doc_id") {
    val once = q("llm_dedup_exact").collect().map(_.getLong(0)).toSeq
    assert(once == once.sorted)
    assert(once.distinct.size == once.size)
  }

  test("fingerprint dedup agrees with exact text dedup") {
    val fp = q("llm_fingerprint").select("is_canonical", "doc_id").collect()
      .filter(_.getBoolean(0)).map(_.getLong(1)).toSet       // canonical ids
    val exact = q("llm_dedup_exact").collect().map(_.getLong(0)).toSet
    assert(fp == exact)
  }

  test("knn: sims are descending per probe and self-pairs are excluded") {
    val rows = q("llm_knn_cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.forall { case (p, _, c, _) => p != c })
    rows.groupBy(_._1).foreach { case (_, grp) =>
      val byRank = grp.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann-lsh results are same-bucket neighbors with sims matching brute force") {
    val brute = q("llm_knn_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = q("llm_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (p, _, c, _) => p != c })
    lsh.filter(t => brute.contains((t._1, t._3))).foreach { case (p, _, c, s) =>
      assert(math.abs(brute((p, c)) - s) < 1e-9, s"sim mismatch for ($p,$c)")
    }
  }

  test("ann-ivf results are valid neighbors with sims matching brute force") {
    val brute = q("llm_knn_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = q("llm_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // every ivf sim must equal the brute-force sim for that pair (same kernel)
    ivf.filter(t => brute.contains((t._1, t._2))).foreach { case (p, c, s) =>
      assert(math.abs(brute((p, c)) - s) < 1e-9)
    }
  }

  test("ann-ivf-kmeans: sims match brute force; recall overlaps the exact top-k") {
    val brute = q("llm_knn_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getInt(1), r.getDouble(3))).toMap
    val km = q("llm_ann_ivf_kmeans").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(km.nonEmpty)
    assert(km.forall { case (p, _, c, _) => p != c })
    // same kernel ⇒ any pair also ranked by brute force must agree exactly
    km.filter(t => brute.contains((t._1, t._3))).foreach { case (p, _, c, s) =>
      assert(math.abs(brute((p, c))._2 - s) < 1e-9, s"sim mismatch for ($p,$c)")
    }
    // learned 3-of-8 cells must recover a nontrivial share of the exact
    // top-5 (fixture locality is weak — max neighbor cosine ≈ 0.5 — so
    // the bound is deliberately loose)
    val kmProbes = km.map(_._1).toSet
    val bruteTop5 = brute.filter { case ((p, _), (rnk, _)) =>
      rnk <= 5 && kmProbes.contains(p)
    }.keySet
    val hit = km.count(t => bruteTop5.contains((t._1, t._3)))
    assert(hit >= bruteTop5.size / 4,
      s"k-means IVF recall too low: $hit of ${bruteTop5.size}")
  }

  test("served-index recall floor: kmeans-cell IVF recall@5 is pinned and beats the label-cell exemplar (r14)") {
    // the committed, test-enforced recall number for the index a
    // deployment serves (VERDICT r13 #4): mean recall@5 over the 10
    // declared probes at nprobe=3. Both audits share recallAudit, so
    // this also cross-checks the exemplar's number in the same frame.
    def meanRecall(key: String): Double = {
      val rows = q(key).collect().map(_.getLong(2))
      rows.sum.toDouble / rows.length / 1e6
    }
    val km = meanRecall("llm_ann_recall_kmeans")
    val label = meanRecall("llm_ann_recall")
    info(f"kmeans-cell recall@5 = $km%.3f, label-cell = $label%.3f")
    // deterministic build (no RNG) ⇒ these are fixed numbers at this
    // fixture, floored with slack for fixture regens: the r13 sweep
    // measured 0.612 (kmeans) vs 0.392 (label) at sf0.1
    assert(km >= 0.5, f"served-index recall@5 $km%.3f fell below the 0.5 floor")
    assert(km > label,
      f"learned cells ($km%.3f) should beat the label-cell exemplar ($label%.3f)")
    ptx.Caching.releaseAll()
  }

  test("shingles handle documents with fewer than 3 words (no ANSI index crash)") {
    import spark.implicits._
    val docs = Seq((1L, "one"), (2L, "two words"), (3L, "three word doc"),
      (4L, "a b c d")).toDF("doc_id", "text")
    val sh = ptx.functions.TextShingles.shingles(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1-2 are too short to shingle; doc 3 one shingle, doc 4 two
    assert(sh.toSeq.map(_._1).groupBy(identity).view.mapValues(_.length).toMap ==
      Map(3L -> 1, 4L -> 2))
    // keys are GramHashes 3-gram keys: "a b c" in another doc shares one
    val twin = ptx.functions.TextShingles.shingles(
      Seq((9L, "a b c")).toDF("doc_id", "text")).collect()(0).getLong(1)
    assert(sh.contains((4L, twin)))
    assert(sh.map(_._2).size == 3, "the three distinct shingles must get distinct keys")
  }

  test("top-k aggregator ranks NaN scores first, matching SQL DESC order") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 10L), (1L, Double.NaN, 11L), (1L, 0.9, 12L))
      .toDF("g", "score", "id")
    val got = df.groupBy($"g")
      .agg(ptx.functions.Aggregators.top_k($"score", $"id", 2).as("top"))
      .selectExpr("transform(top, e -> e._2) AS ids").collect()(0)
      .getSeq[Long](0)
    assert(got == Seq(11L, 12L), s"got $got") // NaN first, then 0.9
  }

  test("cosine kernel: range, symmetry, self-similarity (100 seeded vectors)") {
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(64)((rnd.nextFloat() - 0.5f) * 20f)
    (1 to 100).foreach { _ =>
      val a = vec(); val b = vec()
      val s = CosineSim.cosine(a, b)
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
      assert(math.abs(s - CosineSim.cosine(b, a)) < 1e-12)
      assert(math.abs(CosineSim.cosine(a, a) - 1.0) < 1e-9)
    }
  }

  test("media decode kernel: deterministic, fixed dim, pixel-stat ranges (real BMP codec, r17)") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val bytes = Array.fill(1 + rnd.nextInt(400))(rnd.nextInt().toByte)
      val f1 = MediaDecode.features(bytes)
      val f2 = MediaDecode.features(bytes)
      assert(f1.toSeq == f2.toSeq)
      assert(f1.length == MediaDecode.FeatureDim)
      // [w, h, mean B/G/R, mean luma, stddev luma, bright fraction]:
      // the image holds every raw byte (w·h pixels ≥ ceil(len/3)) and
      // every statistic sits in its physical range
      val pixels = f1(0) * f1(1)
      assert(pixels >= (bytes.length + 2) / 3, s"image too small for payload: $pixels")
      assert((2 to 5).forall(i => f1(i) >= 0.0 && f1(i) <= 255.0))
      assert(f1(6) >= 0.0 && f1(6) <= 127.5 + 1e-9) // max stddev of a [0,255] variable
      assert(f1(7) >= 0.0 && f1(7) <= 1.0)
    }
    // empty payload wraps as a 1×1 black image
    assert(MediaDecode.features(Array.empty).toSeq ==
      Seq(1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("llm_dedup_cluster_lsh refines the exact clusters (r4)") {
    // LSH pairs ⊆ exact pairs, so every LSH component must sit inside one
    // exact component — and at j ≥ 0.8 recall is total, so any doc the LSH
    // path clusters with a high-sim twin gets the same canonical id.
    val exact = q("llm_dedup_cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = q("llm_dedup_cluster_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    lsh.groupBy(_._2).foreach { case (cid, members) =>
      val exactCids = members.map(m => exact(m._1)).distinct
      assert(exactCids.length == 1,
        s"LSH cluster $cid spans exact clusters $exactCids")
    }
  }

  test("llm_semdedup: victims equal the exact anchor's same-cell higher ids (r6)") {
    // the cell-bounded semantic dedup must agree with the all-pairs exact
    // anchor restricted to same-label pairs: a vector is non-canonical
    // exactly when the anchor reports a lower-id same-cell neighbor ≥ τ
    val victims = q("llm_semdedup").collect()
      .filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val expected = q("llm_dedup_embed").collect()
      .filter(_.getBoolean(3)).map(_.getLong(1)).toSet
    assert(victims == expected)
  }

  test("clusterPairs: path-halving converges in O(log diameter) rounds (r6)") {
    import spark.implicits._
    // a single chain is the adversarial shape for plain label propagation
    // (min label travels one hop per round → O(diameter) rounds); with the
    // r6 pointer-jump the covered distance roughly doubles per round
    def rounds(diameter: Int): Int = {
      val chain = (0L until diameter.toLong).map(i => (i, i + 1))
        .toDF("doc1", "doc2")
      val out = ptx.ops.LlmScale.clusterPairs(chain).collect()
      ptx.Caching.releaseAll()
      assert(out.length == diameter + 1)
      assert(out.forall(_.getLong(1) == 0L),
        s"chain must collapse to one component labelled 0 (d=$diameter)")
      ptx.ops.LlmScale.lastPropagationRounds
    }
    val r20 = rounds(20)
    assert(r20 <= 6, s"diameter 20 took $r20 rounds (expected ≤6)")
    // diameter 63 would have needed 64 rounds — the old MaxPropagationRounds
    // cap — under plain propagation; path-halving keeps it logarithmic
    val r63 = rounds(63)
    assert(r63 <= 8, s"diameter 63 took $r63 rounds (expected ≤8)")
  }

  test("llm_quantize_embed: integer checksum matches a driver-side recompute; error bounded (r4)") {
    val vecs = Tables.embeddings(spark, SF01)
      .selectExpr("label", "transform(embedding, x -> CAST(x AS DOUBLE))")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val want = vecs.filter(_._2.exists(_ != 0.0)).groupBy(_._1).view.mapValues { g =>
      g.map { case (_, v) =>
        val mx = v.map(math.abs).max
        v.map(x => math.floor(x * 127.0 / mx + 0.5).toLong).sum
      }.sum
    }.toMap
    val rows = q("llm_quantize_embed").collect()
    assert(rows.map(r => r.getInt(0) -> r.getLong(2)).toMap == want)
    // int8 quantization of 64-dim unit-ish vectors: small but nonzero error
    rows.foreach { r =>
      val e = r.getDouble(3)
      assert(e > 0 && e < 0.05, s"label ${r.getInt(0)} avg_rel_err $e")
    }
  }

  test("llm_bm25: top-10 positive scores descending; one score recomputes serially (r5)") {
    val rows = q("llm_bm25").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // recompute the top doc's score from raw text + corpus stats
    val docs = Tables.documents(spark, SF01).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    val terms = Seq("spark", "query", "merge")
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toDouble)
    val topId = rows.head.getLong(0)
    val words = docs.find(_._1 == topId).get._2
    val dl = words.length
    val expect = terms.zip(dfs).map { case (t, df) =>
      val tf = words.count(_ == t)
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }.sum
    assert(math.abs(rows.head.getDouble(1) - expect) < 1e-6,
      s"bm25 top score ${rows.head.getDouble(1)} vs serial $expect")
    Caching.releaseAll() // llm_bm25 pins its per-doc tf frame
  }

  test("llm_hybrid_rrf: 5 per probe, scores bounded by 2/61, fused beats single-source (r5)") {
    val rows = q("llm_hybrid_rrf").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.groupBy(_._1).forall(_._2.length == 5))
    assert(rows.map(_._1).distinct.length == 10)
    // max possible score: rank 1 in BOTH rankings
    val cap = BigDecimal(1.0 / 61 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.forall(r => r._4 > 0 && r._4 <= cap))
    // per probe: non-increasing by rank
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // a candidate scored by BOTH rankings must exist somewhere (fusion
    // is doing work, not just concatenating one source)
    assert(rows.exists(_._4 > 1.0 / 61 + 1e-9),
      "no candidate was ranked by both sources — fusion degenerated")
    Caching.releaseAll() // llm_hybrid_rrf pins the shingle frame
  }

  test("llm_containment: directed, bounded by 1, and implied by every exact-dup pair (r5)") {
    val c = q("llm_containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(c.nonEmpty)
    assert(c.values.forall(v => v > 0 && v <= 1.0))
    // the fixture has shingle-subset docs: full-containment (=1.0) pairs
    // must surface (25 directed pairs at sf0.01, DuckDB-verified)
    val full = c.filter(_._2 == 1.0)
    assert(full.nonEmpty, "fixture lost its full-containment structure")
    // full containment src→dst at equal set sizes implies dst→src too
    full.keys.foreach { case (a, b) =>
      c.get((b, a)).filter(_ == 1.0).foreach { _ =>
        assert(c((a, b)) == 1.0) // mutual full containment = identical sets
      }
    }
    // containment dominates Jaccard for the same directed pair
    q("llm_dedup_near").collect().foreach { r =>
      val (d1, d2, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      c.get((d1, d2)).foreach(v => assert(v >= j - 1e-9))
      c.get((d2, d1)).foreach(v => assert(v >= j - 1e-9))
    }
    Caching.releaseAll() // both ops pin the shared shingle frame
  }

  test("llm_quantize_pq: codes in range, errors bounded, 4x16 book beats the grand-centroid book (r9)") {
    import org.apache.spark.sql.functions._
    val pq = q("llm_quantize_pq").collect()
    assert(pq.nonEmpty)
    pq.foreach { r =>
      // code_word packs the 4 subspace codes as base-16 digits
      val word = r.getLong(1)
      assert(word >= 0 && word < (1L << 16), s"code_word $word")
      val codes = (0 until 4).map(j => ((word >> (4 * (3 - j))) & 0xF).toInt)
      assert(codes.forall(x => x >= 0 && x < 16), s"codes $codes")
      val err = r.getDouble(2)
      assert(err >= 0 && err <= 1.5, s"rel_err $err")
    }
    val meanPq = pq.map(_.getDouble(2)).sum / pq.size
    // the degenerate 1-codeword book: every vector reconstructed by the
    // grand centroid — any LEARNED book must beat it strictly
    val ev = Tables.embeddings(spark, SF01)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cent = ev.select(posexplode(col("v")).as(Seq("p", "x")))
      .groupBy(col("p")).agg(avg(col("x")).as("c"))
      .orderBy(col("p")).collect().map(_.getDouble(1))
    val cLit = cent.mkString("array(", ",", ")")
    val meanGrand = ev
      .withColumn("err2", expr(
        s"aggregate(zip_with(v, $cLit, (x, r) -> (x - r) * (x - r)), 0D, (a, t) -> a + t)"))
      .withColumn("n2", expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
      .filter(col("n2") > 0)
      .agg(avg(sqrt(col("err2")) / sqrt(col("n2")))).collect()(0).getDouble(0)
    assert(meanPq < meanGrand,
      s"PQ mean rel_err $meanPq must beat grand-centroid $meanGrand")
  }

  test("dq_embedding_outliers: per-label counts consistent, cosines bounded, centroid matches ivf (r11)") {
    import org.apache.spark.sql.functions._
    val rows = q("dq_embedding_outliers").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, out, minC, avgC) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(out <= n, s"outliers $out > n $n")
      assert(minC >= -1.000001 && minC <= 1.000001, s"min_cos $minC")
      assert(avgC >= minC - 1e-9 && avgC <= 1.000001, s"avg_cos $avgC vs min $minC")
      assert((out > 0) == (minC < 0.6), "outlier count iff min below threshold")
    }
    // label counts must equal the raw per-label vector counts
    val expectedN = Tables.embeddings(spark, SF01)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gotN = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gotN == expectedN)
    ptx.Caching.releaseAll()
  }

  test("llm_split_contamination: invariants + string-gram twin parity (r11)") {
    import org.apache.spark.sql.functions._
    val rows = q("llm_split_contamination").collect()
    // both non-train splits present, in order
    assert(rows.map(_.getString(0)).toSeq == Seq("test", "val"))
    rows.foreach { r =>
      val (nDocs, nGrams, nCont, nHit) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nCont <= nGrams, s"contaminated $nCont > grams $nGrams")
      assert(nHit <= nDocs, s"docs hit $nHit > docs $nDocs")
      assert((nHit > 0) == (nCont > 0), "doc hits iff contaminated grams")
    }
    // the near-dup structure of the fixture must leak across a hash split:
    // a contamination audit that reads zero on a corpus with known
    // verbatim overlap would be vacuous
    assert(rows.map(_.getLong(3)).sum > 0, "expected nonzero contamination")
    // hash keys change nothing vs STRING 8-grams (the same partition
    // identity FunctionsSpec pins for the kernel, here end-to-end):
    // recompute n_contaminated per split with string grams
    val docs = Tables.documents(spark, SF01)
      .withColumn("bucket",
        expr("pmod(doc_id, 2147483648L) * 2654435761L % 4294967296L % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .select(col("split"), split(col("text"), " ").as("w"))
      .withColumn("g", expr(
        """CASE WHEN size(w) >= 8 THEN
          |  transform(sequence(1, size(w) - 7),
          |    i -> concat_ws(' ', slice(w, i, 8)))
          |ELSE array() END""".stripMargin))
      .select(col("split"), explode(col("g")).as("gram"))
    val train = docs.filter(col("split") === "train").select("gram").distinct()
    val expected = docs.filter(col("split") =!= "train").distinct()
      .join(train, Seq("gram"), "left_semi")
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got.filter(_._2 > 0) == expected.filter(_._2 > 0),
      s"hash-gram counts $got != string-gram counts $expected")
    ptx.Caching.releaseAll()
  }

  test("llm_split_contamination_bloom: one-sided superset of exact within fpp margin (r11)") {
    val exact = q("llm_split_contamination").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    ptx.Caching.releaseAll()
    val bloom = q("llm_split_contamination_bloom").collect()
    assert(bloom.map(_.getString(0)).toSeq == Seq("test", "val"))
    bloom.foreach { r =>
      val sp = r.getString(0)
      val (nDocsB, nGramsB, nContB, nHitB) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (nDocsE, nGramsE, nContE, nHitE) = exact(sp)
      // doc and distinct-gram counts are exact on both paths
      assert(nDocsB == nDocsE, s"$sp: n_docs $nDocsB != $nDocsE")
      assert(nGramsB == nGramsE, s"$sp: n_grams $nGramsB != $nGramsE")
      // Bloom has no false negatives → counts can only grow...
      assert(nContB >= nContE, s"$sp: bloom n_contaminated $nContB < exact $nContE")
      assert(nHitB >= nHitE, s"$sp: bloom n_docs_hit $nHitB < exact $nHitE")
      // ...and by at most an fpp-sized margin (2^23 bits over the
      // fixture's gram count keeps true fpp ≪ 5%)
      val margin = math.max(10L, nGramsB / 20)
      assert(nContB - nContE <= margin,
        s"$sp: FP inflation ${nContB - nContE} exceeds margin $margin")
      assert(nHitB <= nDocsB, s"$sp: n_docs_hit $nHitB > n_docs $nDocsB")
    }
    ptx.Caching.releaseAll()
  }

  test("llm_doc_novelty: smallest doc_id of every exact-dup text scores full novelty of its twin's grams; plan prunes the scan (r11)") {
    import org.apache.spark.sql.functions._
    val df = q("llm_doc_novelty")
    val rows = df.collect()
    // plan: the documents scan must prune to the two consumed columns —
    // an unpruned scan would drag lang/source/n_chars through the gram
    // explode at 100 TB
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"novelty scan not pruned to (doc_id, text):\n${plan.take(800)}")
    rows.foreach { r =>
      val (n, novel, e6) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(novel <= n && n > 0, s"novel $novel > grams $n")
      assert(e6 == (2 * novel * 1000000L + n) / (2 * n), "e6 identity broke")
    }
    // every gram is owned by SOMEONE, so summing novel counts over docs
    // must equal the number of distinct grams corpus-wide
    ptx.functions.TextGrams.register(spark)
    val distinctGrams = Tables.documents(spark, SF01)
      .select(explode(expr("gram_hashes(split(text, ' '), 8)")).as("h"))
      .select("h").distinct().count()
    assert(rows.map(_.getLong(2)).sum == distinctGrams,
      "first-owner attribution must partition the distinct gram set")
    ptx.Caching.releaseAll()
  }

  test("dq_volume_anomaly: moments broadcast, z invariants hold (r11)") {
    import org.apache.spark.sql.functions._
    val df = q("dq_volume_anomaly")
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the 1-row moment frame must reach the day grid as a broadcast —
    // a shuffled join here would be a corpus-sized exchange for one row
    assert(plan.contains("BroadcastExchange"),
      s"volume moments not broadcast:\n${plan.take(800)}")
    assert(rows.nonEmpty && rows.exists(!_.isNullAt(2)), "no day scored a z")
    // population z over the same frame must sum to ~0 and flag iff |z|>2
    val zs = rows.filter(!_.isNullAt(2)).map(_.getDouble(2))
    assert(math.abs(zs.sum) < 1e-3, s"z sum ${zs.sum} not centered")
    rows.filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getBoolean(3) == (math.abs(r.getDouble(2)) > 2.0))
    }
    ptx.Caching.releaseAll()
  }

  test("dq_drift_report rows equal the join on source of the dq_drift_psi, dq_drift_ks and dq_drift_ttest rows") {
    def bySource(name: String) =
      q(name, TestSpark.SF).collect().map(r => r.getString(0) -> r).toMap
    val (psi, ks, tt) =
      (bySource("dq_drift_psi"), bySource("dq_drift_ks"), bySource("dq_drift_ttest"))
    val report = bySource("dq_drift_report")
    ptx.Caching.releaseAll()
    assert(Seq(psi, ks, tt).forall(_.keySet == report.keySet),
      s"source sets differ: report ${report.keySet}")
    // non-vacuous: several sources, and the t column actually scores
    assert(report.size >= 2, s"only ${report.size} source(s)")
    assert(report.values.exists(!_.isNullAt(6)), "no source scored a t")
    report.foreach { case (src, r) =>
      val (p, k, t) = (psi(src), ks(src), tt(src))
      assert(Seq(k.get(1), t.get(1)).forall(_ == p.get(1)), s"$src n_docs")
      // (n_docs, psi_e6, drifted_psi, ks_e6, drifted_ks, t_stat, significant)
      val parts = Seq(p.get(1), p.get(2), p.get(3), k.get(2), k.get(3), t.get(3), t.get(4))
      assert(r.toSeq.tail == parts, s"$src: report ${r.toSeq.tail} != parts $parts")
    }
  }

  test("llm_dedup_cluster_sizes: n_docs sums to the corpus, sizes consistent with the label frame (r14)") {
    // the histogram's conservation law — every doc is in exactly one row
    // class (a ≥2 cluster or the singleton row) — must hold on ANY
    // fixture, not just the oracle-compared one
    val hist = q("llm_dedup_cluster_sizes").collect()
    val corpus = Tables.documents(spark, SF01).count()
    assert(hist.map(_.getLong(2)).sum == corpus,
      s"n_docs rows don't sum to the $corpus-doc corpus")
    // per row: n_docs = cluster_size * n_clusters; sizes strictly ordered
    hist.foreach(r => assert(r.getLong(2) == r.getLong(0) * r.getLong(1)))
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted)
    // the non-singleton rows must reproduce the label frame's own stats
    val lab = q("llm_dedup_cluster").collect()
    val bySize = lab.groupBy(_.getLong(1)).values.map(_.size.toLong)
      .groupBy(identity).map { case (sz, cs) => (sz, cs.size.toLong) }
    val nonSingle = hist.filter(_.getLong(0) >= 2L)
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(nonSingle == bySize,
      s"histogram $nonSingle != label-frame recount $bySize")
    // clusters from clusterPairs always have >= 2 members, so size 1 is
    // exclusively the singleton row
    val singles = hist.filter(_.getLong(0) == 1L)
    assert(singles.length == 1 &&
      singles.head.getLong(1) == corpus - lab.length)
    ptx.Caching.releaseAll()
  }

  test("llm_dedup_threshold_curve: anchored at 0.4 to llm_dedup_near, monotone in the threshold (r14)") {
    val curve = q("llm_dedup_threshold_curve").collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(curve.map(_._1).toSeq == Seq(40, 50, 60, 70, 80, 90))
    // the 0.40 row IS the near-dup anchor's pair set re-counted
    val near = q("llm_dedup_near").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (p40, l40, d40, s40) = curve.toMap.apply(40)
    assert(p40 == near.length, s"n_pairs(40) $p40 != near anchor ${near.length}")
    assert(d40 == near.map(_._2).distinct.length)
    assert(l40 == near.flatMap(p => Seq(p._1, p._2)).distinct.length)
    assert(s40 == Tables.documents(spark, SF01).count() - d40)
    // raising the threshold can only shrink pairs/linked/dropped and
    // grow the surviving corpus
    curve.map(_._2).sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._1 >= hi._1 && lo._2 >= hi._2 && lo._3 >= hi._3 &&
        lo._4 <= hi._4, s"curve not monotone: $lo -> $hi")
    }
    ptx.Caching.releaseAll()
  }

  test("llm_dedup_threshold_curve_lsh: bounded by the exact curve, equal in the banding-recall band (r14)") {
    def rows(name: String) = q(name).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val exact = rows("llm_dedup_threshold_curve")
    val lsh = rows("llm_dedup_threshold_curve_lsh")
    assert(exact.keySet == lsh.keySet)
    exact.foreach { case (t, (p, l, d, s)) =>
      val (p2, l2, d2, s2) = lsh(t)
      // candidates ⊆ the shared-shingle pair space ⇒ every count is
      // bounded by the exact curve's (survivors from the other side)
      assert(p2 <= p && l2 <= l && d2 <= d && s2 >= s,
        s"LSH curve exceeded the exact curve at t=$t")
      // the minhash subset test pins 100% recall at j ≥ 0.8 on this
      // fixture — there the two curves must agree exactly
      if (t >= 80) assert((p2, l2, d2, s2) == ((p, l, d, s)),
        s"LSH curve diverged in the recall band at t=$t")
    }
    ptx.Caching.releaseAll()
  }

  test("llm_bpe_learn: round 1 is the audited top pair, scores non-increasing, rerun-deterministic (r14)") {
    def run() = q("llm_bpe_learn").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val m = run()
    assert(m.length == 8 && m.map(_._1).toSeq == (1 to 8))
    // the learner's first merge IS llm_bpe_pair_counts' top-1 row (same
    // weighting, same tie order) — the audit and the trainer agree
    val audit = q("llm_bpe_pair_counts").collect().head
    assert(m.head._4 == audit.getString(0) && m.head._5 == audit.getLong(1),
      s"round-1 merge ${m.head} != audited top pair $audit")
    // merging only removes old pair mass and creates pairs bounded by
    // the merged count, so scores never increase round over round
    m.map(_._5).sliding(2).foreach { case Array(hi, lo) =>
      assert(hi >= lo, s"merge scores increased: $hi -> $lo") }
    // merged symbol is the concatenation and rounds build on each other
    m.foreach { case (_, a, b, ab, _) => assert(ab == a + b) }
    ptx.Caching.releaseAll()
    assert(run().toSeq == m.toSeq, "rerun diverged — the learner must be RNG-free")
    ptx.Caching.releaseAll()
  }

  test("llm_ann_recall_lsh: every ANN path now carries a floored recall gauge (r15)") {
    def meanRecall(key: String): Double = {
      val rows = q(key).collect().map(_.getLong(2))
      rows.foreach(r => assert(r >= 0L && r <= 1000000L))
      rows.sum.toDouble / rows.length / 1e6
    }
    val lsh = meanRecall("llm_ann_recall_lsh")
    val km = meanRecall("llm_ann_recall_kmeans")
    info(f"LSH recall@5 = $lsh%.3f, kmeans-cell = $km%.3f")
    // deterministic geometry (seed-7 planes) ⇒ a fixed number per
    // fixture. r15's L=4×6 config measured 0.28 — the audit did its job
    // and r16 acted on it: the LshSweep table (SCALE.md) picked L=16×6
    // as the knee (0.66 at sf0.01 / 0.62 at sf0.1 for a ~25% candidate
    // fraction), so BOTH approximate serving paths now clear the 0.5
    // bar the IVF gauges pinned from the start (VERDICT r15 #4).
    assert(lsh >= 0.5, f"LSH recall@5 $lsh%.3f fell below the 0.5 serving floor " +
      "(re-run ptx.tools.LshSweep and re-pick the (L, bits) knee)")
    assert(km >= 0.5, f"kmeans recall@5 $km%.3f fell below the 0.5 serving floor")
    ptx.Caching.releaseAll()
  }

  test("llm_dedup_cluster_sizes_lsh: conservation, banding-only-drops bounds, equality when pair sets agree (r15)") {
    def hist(key: String) = q(key).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = hist("llm_dedup_cluster_sizes")
    val lsh = hist("llm_dedup_cluster_sizes_lsh")
    val corpus = Tables.documents(spark, SF01).count()
    // conservation at both grades: every doc lands in exactly one row
    Seq(exact, lsh).foreach(h =>
      assert(h.values.map(_._2).sum == corpus, "histogram lost docs"))
    // banding can only drop pairs ⇒ more singletons, fewer absorbed docs
    assert(lsh(1L)._1 >= exact(1L)._1)
    assert(lsh.filterKeys(_ >= 2L).values.map(_._2).sum
      <= exact.filterKeys(_ >= 2L).values.map(_._2).sum)
    // on this fixture banding recalls every exact pair (the SCALE.md
    // measurement) ⇒ identical labels ⇒ identical histograms; guarded
    // by the pair-set comparison so a fixture regen that breaks full
    // recall degrades this pin to the bounds above instead of failing
    val ep = q("llm_dedup_near").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ptx.Caching.releaseAll()
    val lp = q("llm_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (lp == ep) assert(lsh == exact,
      "identical pair sets must give identical histograms (shared tail)")
    ptx.Caching.releaseAll()
  }

  test("llm_bpe_encode: round trip, token conservation law vs the merge scores, deterministic (r15)") {
    val enc = q("llm_bpe_encode").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val merges = q("llm_bpe_learn").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(enc.nonEmpty && merges.length == 8)
    enc.foreach { case (word, cnt, nTok, encoded) =>
      val toks = encoded.split(" ")
      // the segmentation concatenates back to the word, token count is
      // honest, and no token is empty
      assert(toks.mkString("") == word, s"round trip broke for '$word'")
      assert(toks.length.toLong == nTok && cnt > 0 && toks.forall(_.nonEmpty))
    }
    // conservation BOUND (ADVICE r15): the trainer's score counts
    // OVERLAPPING adjacent pairs (reference-faithful) while mergeFold
    // replaces left-to-right NON-overlapping, so a self-adjacent merge
    // (left == right) over a run of ≥3 identical symbols scores more
    // pairs than it removes tokens ('aaa': score 2, removes 1). Hence
    // in general corpus_tokens ≥ corpus_chars − Σ merge scores, with
    // EQUALITY guaranteed whenever no learned merge has left == right
    // (then every scored pair is removable exactly once).
    val scoreSum = merges.map(_._3).sum
    val corpusTokens = enc.map { case (_, cnt, nTok, _) => cnt * nTok }.sum
    val corpusChars = enc.map { case (w, cnt, _, _) => cnt * w.length }.sum
    assert(corpusTokens >= corpusChars - scoreSum,
      s"token conservation bound broke: $corpusTokens < $corpusChars - $scoreSum")
    if (merges.forall { case (l, r, _) => l != r })
      assert(corpusTokens == corpusChars - scoreSum,
        s"token conservation broke (no self-adjacent merge learned): " +
          s"$corpusTokens != $corpusChars - $scoreSum")
    ptx.Caching.releaseAll()
    assert(q("llm_bpe_encode").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq == enc.toSeq, "encoder rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("llm_bpe_doc_tokens: conservation through the type join, per-doc rails, deterministic (r16)") {
    val docs = q("llm_bpe_doc_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val enc = q("llm_bpe_encode").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(docs.nonEmpty && enc.nonEmpty)
    // conservation: the doc-grain join neither invents nor drops word
    // occurrences — Σ over docs equals the encoder's type-weighted sums
    assert(docs.map(_._3).sum == enc.map { case (_, cnt, nTok) => cnt * nTok }.sum,
      "doc-grain token total diverged from the encoder's type-weighted total")
    assert(docs.map(_._2).sum == enc.map(_._2).sum,
      "doc-grain word total diverged from the type frequencies")
    assert(docs.map(_._4).sum == enc.map { case (w, cnt, _) => cnt * w.length }.sum,
      "doc-grain char total diverged from the type-weighted word lengths")
    // per-doc rails: every word is >= 1 token, no token exceeds its word
    docs.foreach { case (id, nWords, nTokens, nChars) =>
      assert(nWords >= 1 && nWords <= nTokens && nTokens <= nChars,
        s"doc $id rails broke: words=$nWords tokens=$nTokens chars=$nChars")
    }
    // per-doc word counts match a driver-side whitespace recompute
    val texts = Tables.documents(spark, SF01).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.length == texts.size)
    docs.foreach { case (id, nWords, _, nChars) =>
      val words = texts(id).split(" ")
      assert(nWords == words.length && nChars == words.map(_.length).sum,
        s"doc $id word/char counts diverge from a direct split")
    }
    // the 8-merge vocabulary must actually compress somewhere
    assert(docs.exists { case (_, _, nTokens, nChars) => nTokens < nChars },
      "fixture degenerate: no learned merge fired in any doc")
    ptx.Caching.releaseAll()
    assert(q("llm_bpe_doc_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == docs.toSeq, "doc-token rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("llm_pack_sequences_bpe / llm_token_budget_bpe: match driver recomputes over the doc-token table (r16)") {
    val toks = q("llm_bpe_doc_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._1)
    ptx.Caching.releaseAll()
    // packing: running cumsum in doc_id order, 2048-token sequences
    var cum = 0L
    val wantPack = toks.map { case (id, tok) =>
      val r = (id, tok, cum / 2048, cum % 2048); cum += tok; r
    }.toSeq
    val gotPack = q("llm_pack_sequences_bpe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotPack == wantPack, "BPE packing diverged from the driver cumsum")
    // the real-token packing must cut MORE sequences than the chars/4
    // estimate on this fixture (character-grain tokens after 8 merges)
    val estSeqs = q("llm_pack_sequences").collect().map(_.getLong(2)).max
    assert(wantPack.map(_._3).max > estSeqs,
      "fixture degenerate: BPE packing did not exceed the estimate's sequence count")
    ptx.Caching.releaseAll()
    // budget: greedy longest-first (n_tokens desc, doc_id asc), cumsum
    // then keep the prefix with cum <= 10000 — the PREFIX rule (a doc
    // past the overflow point is out even if a smaller one would fit),
    // exactly the declared filter(cum_tokens <= budget) semantics
    var spent = 0L
    val wantBudget = toks.sortBy { case (id, tok) => (-tok, id) }.flatMap {
      case (id, tok) =>
        spent += tok
        if (spent <= 10000) Some((id, tok, tok, spent)) else None
    }.sortBy(_._1).toSeq
    val gotBudget = q("llm_token_budget_bpe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotBudget == wantBudget, "BPE budget diverged from the driver greedy rule")
    assert(wantBudget.nonEmpty && wantBudget.size < toks.length,
      "fixture degenerate: budget kept nothing or everything")
    ptx.Caching.releaseAll()
  }

  test("llm_tokenizer_fertility_bpe: per-lang sums equal the doc-grain table; rails; deterministic (r16)") {
    def run() = q("llm_tokenizer_fertility_bpe").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        BigInt(r.getLong(4))))
    val fert = run()
    ptx.Caching.releaseAll()
    val toks = q("llm_bpe_doc_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    ptx.Caching.releaseAll()
    val langOf = Tables.documents(spark, SF01).select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = toks.groupBy { case (id, _, _, _) => langOf(id) }.map {
      case (lang, docs) =>
        val nw = docs.map(_._2).sum; val nt = docs.map(_._3).sum
        val e6 = (BigInt(2) * nt * 1000000 + nw) / (BigInt(2) * nw)
        lang -> (docs.length.toLong, nw, nt, e6)
    }
    assert(fert.length == want.size && fert.length >= 2)
    fert.foreach { case (lang, nDocs, nWords, nTokens, e6) =>
      assert(want(lang) == ((nDocs, nWords, nTokens, e6)),
        s"lang $lang diverged from the doc-grain recompute")
      // rails: every word is >= 1 token, and tokens never exceed chars
      val charsPerWordE6 =
        (BigInt(2) * toks.filter(t => langOf(t._1) == lang).map(_._4).sum * 1000000
          + nWords) / (BigInt(2) * nWords)
      assert(e6 >= 1000000 && e6 <= charsPerWordE6,
        s"lang $lang fertility $e6 outside [1e6, $charsPerWordE6]")
    }
    ptx.Caching.releaseAll()
    assert(run().toSeq == fert.toSeq, "fertility rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("kmeansAdaptive SAMPLE-trained branch: trained cells, nearest-cell full assignment, deterministic (r16)") {
    // every fixture-scale consumer runs the exact path (n <= k*64); this
    // forces the sampled branch (trainPerCell=4 → cap 32 < 500) and pins
    // its contract: k from adaptiveK, Lloyd rounds on the Knuth-hash
    // sample, and the FULL corpus assigned to its nearest trained cell
    // (in the sampled branch the assignment runs against the FINAL
    // centroids, so the nearest-cell property is directly checkable —
    // unlike the exact path's one-update-behind pairing)
    val s = TestSpark.spark
    val e = Tables.embeddings(s, SF01).select("vec_id", "embedding")
    ptx.functions.VectorOps.register(s)
    def run() = {
      val (cent, asg) = ptx.sources.VectorIndex.kmeansAdaptive(
        e, iters = 3, targetCell = 64, minK = 8, trainPerCell = 4)
      (cent.collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toList).toMap,
        asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    }
    val (cent, asg) = run()
    // adaptiveK(500, 64) = 8 cells; a crashed sample could only shrink it
    assert(cent.size == 8 && asg.size == 500)
    assert(asg.values.toSet.subsetOf(cent.keySet))
    // the full assignment is against the final centroids: every vector
    // sits in its nearest cell per the shared assign() recompute
    val viaAssign = ptx.sources.VectorIndex.assign(e,
        s.createDataFrame(cent.toSeq.map { case (l, c) => (l, c) })
          .toDF("label", "centroid"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(viaAssign == asg, "sampled-branch assignment is not nearest-cell")
    // deterministic: the Knuth sample and the seeds are pure functions
    val (cent2, asg2) = run()
    assert(cent2 == cent && asg2 == asg, "sampled build rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("kmeansAdaptive large-k dispatch: past the literal cap the broadcast path builds the same-shape index (r16)") {
    // assignAuto reverts to the broadcast-frame assign above 1024 cells
    // (a multi-MB literal would bloat every task closure); force it with
    // targetCell=1 over 1100 vectors and pin the index shape + determinism
    val s = TestSpark.spark
    ptx.functions.VectorOps.register(s)
    val e = Tables.embeddings(s, "/root/testdata/sf0.1")
      .select("vec_id", "embedding")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 1100)
    def run() = {
      val (cent, asg) = ptx.sources.VectorIndex.kmeansAdaptive(
        e, iters = 1, targetCell = 1, minK = 8)
      (cent.collect().map(_.getInt(0)).sorted.toSeq,
        asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    }
    val (labels, asg) = run()
    assert(labels.size > 1024, s"dispatch not exercised: only ${labels.size} cells")
    assert(asg.size == 1100 && asg.values.toSet.subsetOf(labels.toSet))
    val (labels2, asg2) = run()
    assert(labels2 == labels && asg2 == asg, "broadcast-path build rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("llm_semdedup_kmeans: matches a brute-force within-cell keep-lowest-id recompute, deterministic (r15)") {
    def run() = q("llm_semdedup_kmeans").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val out = run()
    ptx.Caching.releaseAll()
    val vecs = Tables.embeddings(spark, SF01).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.length == vecs.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // brute force the keep-lowest-id rule inside the cells the query
    // itself assigned (the cell ASSIGNMENT is the iterative part — the
    // dedup decision on top of it must match an independent recompute)
    val byCell = out.groupBy(_._2)
    byCell.foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      val expectDup = ids.filter(v =>
        ids.exists(o => o < v && cos(vecs(o), vecs(v)) >= 0.45)).toSet
      members.foreach { case (v, _, canonical) =>
        assert(canonical == !expectDup(v),
          s"vec $v canonical=$canonical disagrees with brute force")
      }
    }
    assert(out.exists(!_._3), "fixture degenerate: no semantic dup found")
    assert(run().toSeq == out.toSeq, "kmeans semdedup rerun diverged")
    ptx.Caching.releaseAll()
  }

  test("BpeLearn stopping rules: minScore and targetVocab stop at the unrestricted run's exact prefix (r15)") {
    val docs = Tables.documents(spark, SF01).select("text")
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val full = collect(ptx.functions.BpeLearn.learn(docs, 8))
    ptx.Caching.releaseAll()
    assert(full.length == 8)
    // min-frequency floor: one above the 5th merge's score — the run
    // must stop at exactly the prefix whose scores clear the floor
    // (round choices never depend on remaining rounds, so an
    // early-stopped run IS a prefix, never a different table)
    val floor = full(4)._5 + 1
    val wantFloor = full.takeWhile(_._5 >= floor)
    assert(wantFloor.length < 8, "fixture degenerate: floor drops nothing")
    val gotFloor = collect(ptx.functions.BpeLearn.learn(docs, 8, minScore = floor))
    ptx.Caching.releaseAll()
    assert(gotFloor == wantFloor,
      s"minScore=$floor run is not the unrestricted prefix")
    // vocab budget: alphabet + 3 new symbols => exactly 3 merges
    import org.apache.spark.sql.functions.{col, explode, expr, split}
    val alphabet = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(explode(expr("split(w, '')")).as("c"))
      .distinct().count().toInt
    val gotVocab = collect(ptx.functions.BpeLearn.learn(
      docs, 8, targetVocab = alphabet + 3))
    ptx.Caching.releaseAll()
    assert(gotVocab == full.take(3),
      s"targetVocab=${alphabet + 3} run should be the 3-merge prefix")
    // a budget at/below the alphabet learns nothing (empty merge table)
    val gotNone = ptx.functions.BpeLearn.learn(docs, 8, targetVocab = alphabet)
    assert(gotNone.collect().isEmpty, "vocab already at budget must learn 0 merges")
    ptx.Caching.releaseAll()
  }

  test("llm_winnowing plan: exchanges carry the source key and 64-bit fingerprints, never text (r14)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.types.StringType
    // structural assertion needs a concrete plan (the IoSpec discipline)
    Jobs.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = q("llm_winnowing")
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val nodes = p.collect { case n => n }
        nodes ++ nodes.flatMap {
          case im: InMemoryTableScanExec => flatten(im.relation.cachedPlan)
          case _ => Nil
        }
      }
      val exchanges = flatten(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected the two aggregation exchanges")
      // the scaladoc's 100 TB claim, pinned: the corpus-sized exchanges
      // key on (source, 64-bit fp) / partial sums — document TEXT never
      // crosses a shuffle (contrast llm_hot_shingles, whose OUTPUT is
      // the string and which documents the sample posture instead)
      def hasString(dt: org.apache.spark.sql.types.DataType): Boolean =
        dt match {
          case _: StringType => true
          case a: org.apache.spark.sql.types.ArrayType =>
            hasString(a.elementType)
          case m: org.apache.spark.sql.types.MapType =>
            hasString(m.keyType) || hasString(m.valueType)
          case s: org.apache.spark.sql.types.StructType =>
            s.fields.exists(f => hasString(f.dataType))
          case _ => false
        }
      exchanges.foreach { e =>
        val strings = e.output.filter(a => hasString(a.dataType))
        assert(strings.map(_.name).forall(_ == "source"),
          s"non-source string bytes on a winnowing exchange: ${strings.map(_.name)}")
      }
    }
    ptx.Caching.releaseAll()
  }

  test("llm_dedup_winnow recalls every exact near-dup pair with >= 2 shared fingerprints (r14)") {
    val rows = q("llm_dedup_winnow").collect()
    val cand = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = q("llm_dedup_near").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.nonEmpty && near.subsetOf(cand),
      s"winnow candidates missed near pairs: ${near -- cand}")
    // report-shape sanity: the n_shared >= 2 cut held and the overlap
    // coefficient is a valid half-up e6 fraction
    rows.foreach { r =>
      assert(r.getLong(2) >= 2L)
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000000L)
    }
    ptx.Caching.releaseAll()
  }

  test("llm_embed_threshold_curve: anchored at 0.45 to llm_dedup_embed, monotone, cross-label sane (r14)") {
    val curve = q("llm_embed_threshold_curve").collect()
      .map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(curve.map(_._1).toSeq == Seq(45, 55, 65, 75, 85, 95))
    // the 0.45 row IS the embed anchor's pair set re-counted
    val anchor = q("llm_dedup_embed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val (p45, x45, l45, d45, s45) = curve.toMap.apply(45)
    assert(p45 == anchor.length)
    assert(x45 == anchor.count(!_._3))
    assert(l45 == anchor.flatMap(p => Seq(p._1, p._2)).distinct.length)
    assert(d45 == anchor.map(_._2).distinct.length)
    assert(s45 == Tables.embeddings(spark, SF01).count() - d45)
    // monotone: tightening drops pairs/cross-label/linked/dropped, grows
    // survivors; cross-label never exceeds pairs
    curve.map(_._2).sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._1 >= hi._1 && lo._2 >= hi._2 && lo._3 >= hi._3 &&
        lo._4 >= hi._4 && lo._5 <= hi._5, s"curve not monotone: $lo -> $hi")
    }
    curve.foreach { case (_, (p, x, _, _, _)) => assert(x <= p) }
    ptx.Caching.releaseAll()
  }

  test("llm_embed_threshold_curve_sem: bounded by the exact curve, equal where pairs are within-cell, anchored to semdedup (r15)") {
    val exact = q("llm_embed_threshold_curve").collect()
      .map(r => r.getInt(0) ->
        // (pairs, cross_label, linked, dropped, surviving)
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val sem = q("llm_embed_threshold_curve_sem").collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(exact.keySet == sem.keySet)
    exact.foreach { case (t, (p, x, l, d, s)) =>
      val (p2, l2, d2, s2) = sem(t)
      // cell-bounded candidates ⊆ the all-pairs space ⇒ every count is
      // bounded by the exact curve's (survivors from the other side)
      assert(p2 <= p && l2 <= l && d2 <= d && s2 >= s,
        s"sem curve exceeded the exact curve at t=$t")
      // the candidate restriction removes EXACTLY the cross-label pairs,
      // so the pair counts differ by the anchor's own n_cross_label —
      // and where the exact curve reports none, the two curves must
      // agree on every column (cell-locality covers the whole pair set)
      assert(p2 == p - x, s"sem pairs != exact minus cross-label at t=$t")
      if (x == 0L) assert((p2, l2, d2, s2) == ((p, l, d, s)),
        s"sem curve diverged where all exact pairs are within-cell (t=$t)")
    }
    // the loosest threshold (45 = llm_semdedup's 0.45 gate) re-counts
    // the semantic-dedup anchor: dropped ids ARE semdedup's
    // non-canonical set (same candidate frame — shared
    // cellCandidatePairs — same keep-lowest-id policy)
    val nonCanonical = q("llm_semdedup").collect().count(!_.getBoolean(2))
    assert(sem(45)._3 == nonCanonical.toLong,
      s"sem curve n_dropped(45) ${sem(45)._3} != semdedup non-canonical $nonCanonical")
    ptx.Caching.releaseAll()
  }

  test("winnowing guarantee: a shared 6-word run shares a fingerprint; short docs select nothing (r14)") {
    import spark.implicits._
    // two docs share EXACTLY a 6-word run (= w+k-1 at w=4, k=3: four
    // consecutive gram hashes — one full window) inside distinct noise;
    // the third doc is too short to form a gram
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "s", s"one two three $run four five six"),
      (2L, "s", s"seven eight nine $run ten eleven twelve"),
      (3L, "s", "tiny doc")).toDF("doc_id", "source", "text")
    val rows = ops.TextAnalysis.winnowedFingerprints(docs)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(rows(1L).intersect(rows(2L)).nonEmpty,
      "shared 6-word run selected no common fingerprint")
    assert(rows(3L).isEmpty, "a 2-word doc cannot carry a gram")
    // density audit on the corpus: every source sits near the 2/(w+1)
    // theoretical selection rate, and the count invariants hold
    val audit = q("llm_winnowing").collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val (grams, fps, distinct) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(fps <= grams && distinct <= fps)
      val density = r.getLong(5)
      assert(density > 300000L && density < 500000L,
        s"source ${r.getString(0)} density_e6 $density far from 2/(w+1) = 400000")
    }
    ptx.Caching.releaseAll()
  }

  test("llm_dedup_winnow_capped: equals the anchor under the cap; excludes only hot-fp overlap (r17)") {
    import spark.implicits._
    // the fixture's max fingerprint df is far under WinnowDfCap=64, so
    // the capped twin must equal the exact anchor ROW FOR ROW there
    val exact = q("llm_dedup_winnow").collect().map(_.toSeq).toSeq
    val capped = q("llm_dedup_winnow_capped").collect().map(_.toSeq).toSeq
    assert(capped == exact,
      "capped twin must equal the anchor when no fingerprint exceeds the cap")
    ptx.Caching.releaseAll()
    // synthetic hot-fp corpus: a boilerplate 12-word run shared by ALL
    // six docs (df = 6) plus one rare run shared by docs 1-2 only
    // (df = 2); at maxDf = 3 the boilerplate postings are excluded.
    // 12 words = 7 gram windows ⇒ ≥ 2 distinct winnowed fingerprints
    // (one window-min covers at most w = 4 consecutive windows), so
    // both runs clear the query's n_shared ≥ 2 filter on their own
    val boiler = "omega psi chi phi upsilon tau om2 ps2 ch2 ph2 up2 ta2"
    val rare = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, "s", s"one two three $rare four $boiler"),
      (2L, "s", s"seven eight nine $rare ten $boiler"),
      (3L, "s", s"aa bb cc dd ee $boiler"),
      (4L, "s", s"ff gg hh ii jj $boiler"),
      (5L, "s", s"kk ll mm nn oo $boiler"),
      (6L, "s", s"pp qq rr ss tt $boiler")).toDF("doc_id", "source", "text")
    val w = ops.TextAnalysis.winnowedFingerprints(docs)
    def pairs(maxDf: Int): Map[(Long, Long), (Long, Long)] =
      ops.LlmScale.winnowCandidates(w, maxDf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val full = pairs(0)
    val cut = pairs(3)
    ptx.Caching.releaseAll()
    // exact sees the boilerplate pair space (all 15 pairs share the run)
    assert(full.keySet.size == 15, s"boilerplate should link all pairs, got ${full.keySet}")
    // capped: ONLY the rare-run pair survives — boilerplate-only overlap
    // is the documented exclusion, and candidates are bounded
    assert(cut.keySet == Set((1L, 2L)),
      s"capped candidates must keep exactly the rare-run pair, got ${cut.keySet}")
    // the recalled pair's overlap denominator (nf) is UNCAPPED: its
    // ov_e6 is computed against the full fingerprint sets, so the
    // shared count may only DROP vs exact, never the denominator
    assert(cut((1L, 2L))._1 <= full((1L, 2L))._1,
      "capped n_shared may only drop vs exact")
    // guarantee modulo the cap: any pair sharing >= 2 sub-cap
    // fingerprints is recalled — docs 1-2 share the >= 6-word rare run
    // (>= 2 window fingerprints at these lengths)
    assert(cut((1L, 2L))._1 >= 2)
  }
}
