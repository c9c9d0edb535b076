package ptx.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN quality/speed dial: recall@5 of the IVF probe against the
  * exact brute-force top-5, swept over nprobe — the measurement that
  * sizes the nprobe knob for a serving tier. The declared `llm_ann_recall`
  * query pins nprobe=3 (the graded point); this prints the whole curve so
  * the recall a given probe budget buys is a recorded number, not a guess.
  *
  * Probes = first 100 vec_ids (10× the query's sample — smoother curve);
  * the exact side is computed ONCE and pinned; each nprobe's probe wall is
  * the warm second run (cold pays codegen). Output: one line per nprobe —
  * mean/min recall (e6 fixed point, half-up) and warm wall seconds.
  *
  * `runMain ptx.tools.RecallSweep [--kmeans] [nprobe...]` (default
  * 1 2 3 5 8), with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored.
  * `--kmeans` swaps the label cells for the learned mini-Lloyd cells
  * (`VectorIndex.kmeans`, k=8 — the `llm_ann_ivf_kmeans` build): labels
  * are a data attribute, not a geometric partition, so the two curves
  * together measure how much recall per scanned cell a LEARNED index
  * actually buys on this corpus.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = Probe.sfDir
    val useKmeans = args.contains("--kmeans")
    val rest = args.filterNot(_ == "--kmeans")
    val sweep = if (rest.nonEmpty) rest.toSeq.map(_.toInt) else Seq(1, 2, 3, 5, 8)
    val spark = Probe.session()
    ptx.functions.VectorOps.register(spark)
    val e0 = ptx.Tables.embeddings(spark, sfDir)
    val probes = e0.filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val (cent, e) =
      if (useKmeans) {
        // the same corpus-adaptive build the declared queries run
        val (c, assign) = ptx.sources.VectorIndex.kmeansAdaptive(e0, iters = 3)
        (ptx.Caching.pin(c),
          ptx.Caching.pin(e0.drop("label").join(assign, "vec_id")))
      } else (ptx.Caching.pin(ptx.ops.LlmScale.ivfCentroids(e0)), e0)
    val wEx = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    val exact = ptx.Caching.pin(
      e0.select(col("vec_id").as("cand_id"), col("embedding").as("c"))
        .crossJoin(broadcast(probes))
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("sim", expr("cosine_sim(p, c)"))
        .withColumn("rnk", row_number().over(wEx))
        .filter(col("rnk") <= 5)
        .select(col("probe_id"), col("cand_id")))
    exact.count() // materialize the pins outside every timed region
    val nCells = cent.count().toInt
    val kind = if (useKmeans) "kmeans" else "label"
    println(s"[recall-sweep] sf=$sfDir cells=$nCells ($kind) probes=100 k=5")
    sweep.filter(_ <= nCells).foreach { nprobe =>
      def ivf() = ptx.ops.LlmScale
        .ivfProbe(cent, e, probes, nprobe = nprobe, k = 5)
        .select(col("probe_id"), col("cand_id"), lit(1).as("hit"))
      Probe.materialize(ivf()) // cold: codegen + shuffles
      val warm = Probe.seconds(Probe.materialize(ivf()))
      val rec = exact.join(ivf(), Seq("probe_id", "cand_id"), "left_outer")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(expr("(2 * n_hit * 1000000 + k) div (2 * k)").as("r"))
        .agg(avg(col("r")).cast("long").as("mean_e6"),
          min(col("r")).as("min_e6"))
        .head()
      println(f"[recall-sweep] nprobe=$nprobe%d mean_recall_e6=${rec.getLong(0)}%d " +
        f"min_recall_e6=${rec.getLong(1)}%d warm_probe_s=$warm%.3f")
    }
    ptx.Caching.releaseAll()
    spark.stop()
  }
}
