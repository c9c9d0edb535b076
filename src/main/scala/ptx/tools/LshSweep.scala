package ptx.tools

import org.apache.spark.sql.functions._

/** LSH serving-config dial: recall@5 of the
  * multi-table random-hyperplane index swept over (L tables × sign
  * bits), next to the knob that actually pays for it — the candidate
  * fraction each probe scores exactly. The declared `llm_ann_lsh` pins
  * one point of this surface; the whole surface is printed so the
  * config is picked from a recorded table, not a guess.
  *
  *   sbt "runMain ptx.tools.LshSweep [sfDir]"    (default sf0.01 — the
  *   oracle-compare scale)
  */
object LshSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Probe.session()
    ptx.functions.VectorOps.register(spark)
    val e = ptx.Tables.embeddings(spark, sfDir)
    val n = e.count()
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    println(s"[lsh-sweep] sf=$sfDir n=$n probes=10 k=5 (seed-7 planes)")
    for (l <- Seq(4, 8, 16); bits <- Seq(4, 6, 8)) {
      // ONE candidate build per config, pinned: the bucket hashing +
      // distinct pair union is the dominant cost, and both the recall
      // audit and the fraction count read it
      val cand = ptx.Caching.pin(
        ptx.ops.LlmScale.lshCandidateFrame(spark, sfDir, l, bits))
      val audit = ptx.ops.LlmScale
        .recallAudit(e, probes, ptx.ops.LlmScale.lshTopKFrom(cand))
        .agg(avg(col("recall_e6")).cast("long").as("mean_e6"),
          min(col("recall_e6")).as("min_e6")).head()
      // candidate fraction: distinct (probe, cand) pairs the exact
      // scorer touches, per probe, over the corpus — the cost knob
      val nCand = cand.count()
      println(f"[lsh-sweep] L=$l%2d bits=$bits%d recall_mean=${audit.getLong(0) / 1e6}%.3f " +
        f"recall_min=${audit.getLong(1) / 1e6}%.3f cand_frac=${nCand / 10.0 / n}%.3f")
      ptx.Caching.releaseAll()
    }
    // the collision-count candidate CAP swept at
    // the declared L=16×6 geometry — the knob that turns the constant
    // candidate FRACTION into a constant candidate COUNT per probe
    // (fraction cap/n shrinks as the corpus grows)
    for (cap <- Seq(16, 32, 64, 128, 256)) {
      val cand = ptx.Caching.pin(
        ptx.ops.LlmScale.lshCandidateFrame(spark, sfDir, 16, 6, cap))
      val audit = ptx.ops.LlmScale
        .recallAudit(e, probes, ptx.ops.LlmScale.lshTopKFrom(cand))
        .agg(avg(col("recall_e6")).cast("long").as("mean_e6"),
          min(col("recall_e6")).as("min_e6")).head()
      val nCand = cand.count()
      println(f"[lsh-sweep] L=16 bits=6 cap=$cap%3d recall_mean=${audit.getLong(0) / 1e6}%.3f " +
        f"recall_min=${audit.getLong(1) / 1e6}%.3f cand_frac=${nCand / 10.0 / n}%.4f " +
        f"cand_per_probe=${nCand / 10.0}%.0f")
      ptx.Caching.releaseAll()
    }
    spark.stop()
  }
}
