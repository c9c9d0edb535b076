package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Batch workloads: a closed loop over registry keys, one query at a time,
  * in graft.Bench's per-key order (warm run, then the timed runs back to
  * back), with the keys permuted by the seed.
  *
  * Set-up (`Main.setup`, timed per round): every table through
  * `ptx.Tables.t`, then one warm-up query.
  *
  * Per key: an untimed check run (the warm run) records the row count and
  * an order-insensitive digest of the full output; `Caching.releaseAll()`
  * and a GC follow outside the timed window. Then the timed runs, each
  * build (registry call) → plan (`executedPlan`) → exec
  * (`toRdd.count()`) → release (`Caching.releaseAll()`). A query's latency
  * is build + plan + exec; release is outside it. Every key gets the same
  * number of timed runs (`runs`), so a run measures the same work on every
  * commit and the latency percentiles mix the keys in fixed proportions. */
object Batch {
  /** Every fixture table, loaded through `ptx.Tables` during set-up. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The set-up's warm-up query, as graft.Bench runs one before timing. */
  val WarmupKey = "join_star_q5"

  def run(spark0: SparkSession, a: Args, rec: Records, main0: Long): Unit = {
    val sc = spark0.sparkContext
    val tracker = if (a.trace) { val t = new ExecTracker; sc.addSparkListener(t); Some(t) } else None
    val dir = a.s("layout") match {
      case "fixture" => a.data
      case "multifile" =>
        Corpus.write(spark0, a.data, a.work.resolve("corpus"), a.seed, rec)
      case l => sys.error(s"unknown layout $l")
    }
    // set-up round: every table through ptx.Tables, then the warm-up query
    val (spark, _) = Main.setup(spark0, rec, main0) { s =>
      val tl0 = System.nanoTime()
      TableNames.foreach(n => ptx.Tables.t(s, dir, n))
      val loadMs = (System.nanoTime() - tl0) / 1e6
      ptx.QueryRegistry.all(WarmupKey)(s, dir).queryExecution.toRdd.count()
      ptx.Caching.releaseAll()
      rec.add("type" -> "setup_round", "tables_load_ms" -> loadMs, "corpus" -> dir)
    }
    val order = new scala.util.Random(a.seed).shuffle(a.keys)
    val runs = a.i("runs")
    val origin = System.nanoTime()

    def tag(group: String): Unit = if (a.trace) sc.setJobGroup(group, group, interruptOnCancel = false)

    order.zipWithIndex.foreach { case (key, ki) =>
      val fn = ptx.QueryRegistry.all(key)
      val g = s"pb:$key"
      val c0 = System.nanoTime()
      tag(s"$g:check")
      val check = try Some(digest(fn(spark, dir))) catch { case e: Throwable => rec.fail(s"check $key", e); None }
      ptx.Caching.releaseAll()
      if (a.trace) sc.clearJobGroup()
      Jvm.collect()
      rec.add("type" -> "check", "key" -> key, "rows" -> check.map(_._1), "digest" -> check.map(_._2.toString),
        "check_ms" -> (System.nanoTime() - c0) / 1e6, "heap_mb" -> Jvm.oldGenAfterGcMb)
      tracker.foreach(_.takePrefix(sc, s"$g:check"))
      (0 until runs).foreach { run =>
        val gr = s"$g:$run"
        val gc0 = Jvm.gcMs
        val cpu0 = Jvm.cpuMs
        try {
          tag(s"$gr:build")
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          tag(s"$gr:plan")
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          tag(s"$gr:exec")
          val rows = df.queryExecution.toRdd.count()
          val t3 = System.nanoTime()
          val cpuMs = Jvm.cpuMs - cpu0
          val gcMs = Jvm.gcMs - gc0
          // trace-only readings sit between exec and release, outside every span
          val traced: Seq[(String, Any)] = if (!a.trace) Nil else {
            val shape = PlanWalk.shape(df.queryExecution.executedPlan)
            val phases = df.queryExecution.tracker.phases
            def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
            Seq("exchanges" -> shape.exchanges, "broadcasts" -> shape.broadcasts, "scans" -> shape.scans,
              "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
              "physical_ms" -> phase("planning"), "cached_bytes" -> cached, "gc_ms" -> gcMs)
          }
          val t4 = System.nanoTime()
          tag(s"$gr:release")
          ptx.Caching.releaseAll()
          val t5 = System.nanoTime()
          if (a.trace) sc.clearJobGroup()
          check.foreach { case (n, _) =>
            if (rows != n) rec.fail(s"$key run $run", new IllegalStateException(s"rows $rows != checked $n"))
          }
          val counts: Seq[(String, Any)] = tracker.map { t =>
            val build = t.take(sc, s"$gr:build"); val pl = t.take(sc, s"$gr:plan")
            val ex = t.take(sc, s"$gr:exec"); t.take(sc, s"$gr:release")
            Seq("build_jobs" -> build.jobs, "plan_jobs" -> pl.jobs) ++ ex.fields
          }.getOrElse(Nil)
          def ms(x: Long, y: Long) = (y - x) / 1e6
          rec.add(Seq("type" -> "query", "key" -> key, "pos" -> ki, "run" -> run, "rows" -> rows,
            "latency_ms" -> ms(t0, t3), "build_ms" -> ms(t0, t1), "plan_ms" -> ms(t1, t2),
            "exec_ms" -> ms(t2, t3), "release_ms" -> ms(t4, t5), "wall_ms" -> ms(t0, t5), "cpu_ms" -> cpuMs,
            "spans" -> Map("build" -> Seq(ms(origin, t0), ms(origin, t1)), "plan" -> Seq(ms(origin, t1), ms(origin, t2)),
              "exec" -> Seq(ms(origin, t2), ms(origin, t3)), "release" -> Seq(ms(origin, t4), ms(origin, t5)))) ++
            traced ++ counts: _*)
        } catch {
          case e: Throwable =>
            rec.fail(s"$key run $run", e)
            ptx.Caching.releaseAll()
        }
      }
    }
  }

  /** Row count and order-insensitive digest (sum of per-row xxhash64 over
    * the unsafe row bytes) of the query's full output, computed from the
    * same physical plan the timed runs execute. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r: InternalRow =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }
}
