package ptx.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Dev probe: stage-grain decomposition of the containment probe's
  * CANDIDATE round — the one job above the scheduling floor. Times each
  * sub-frame of `ContainIndex.probeArtifacts` standalone (warm, pinned
  * inputs, micro-batch plan scope) so "cheaper rounds" has a measured
  * target: is the wall in the shard chain (shingle → sets → df-merge →
  * prefix), the two index-side scans+joins, or the distinct+collect?
  * Each step is timed as its own action, so the sum OVERSTATES the real
  * fused job (shared stages re-run); read the deltas, not the total.
  *
  *   sbt "runMain ptx.tools.ContainRounds [sfDir]"
  */
object ContainRounds {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Probe.session()
    ptx.functions.VectorOps.register(spark)

    val docs = ptx.Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val shard = docs.filter(col("doc_id") % 10 === 0)
    val idx = Files.createTempDirectory("cr-idx").toString
    ptx.sources.ContainIndex.write(base, idx, 0.8)

    def t(name: String)(f: => Long): Unit = Probe.timed(f"[cr] $name%-42s")(f)

    // the probeArtifacts body, step by step, inside the same micro-batch
    // plan scope the admission stream uses — TWO passes, read the WARM one
    for (pass <- Seq("cold", "warm")) {
      println(s"[cr] --- $pass ---")
      ptx.stream.Pipelines.withMicroBatchPlan(spark) {
        val sh = ptx.Caching.pin(ptx.functions.TextShingles.shingles(shard)
          .select(col("doc_id"), col("shingle").as("h")))
        t("shingle pin materialize")(sh.count())
        val shardSets = ptx.Caching.pin(ptx.ops.LlmScale.containSets(sh))
        t("shard sets agg")(shardSets.count())
        val shardH = sh.select(col("h")).distinct()
        t("shard vocab distinct")(shardH.count())
        val idxDf = spark.read.parquet(s"$idx/df")
          .select(col("h"), col("df"))
          .join(broadcast(shardH), Seq("h"), "left_semi")
        t("index df scan + semi join")(idxDf.count())
        val dfreq = idxDf
          .unionByName(sh.groupBy(col("h")).agg(count(lit(1)).as("df")))
          .groupBy(col("h")).agg(sum(col("df")).as("df"))
        t("df merge agg")(dfreq.count())
        val prefixFull = ptx.Caching.pin(
          ptx.ops.LlmScale.containPrefix(sh, dfreq, shardSets, 0.8))
        t("prefix rank window (pin materialize)")(prefixFull.count())
        val shardPrefix = prefixFull.select(col("doc_id").as("src"), col("h"))
        val post = spark.read.parquet(s"$idx/post").select(col("h"), col("doc_id"))
        val candsA = broadcast(shardPrefix).join(post.toDF("h", "dst"), Seq("h"))
          .unionByName(broadcast(shardPrefix).join(sh.toDF("dst", "h"), Seq("h")))
        t("candsA: post scan + shard-shard join")(candsA.count())
        val candsB = spark.read.parquet(s"$idx/prefix")
          .select(col("doc_id").as("src"), col("h"))
          .join(broadcast(sh.toDF("dst", "h")), Seq("h"))
        t("candsB: index-prefix scan + join")(candsB.count())
        val cands = candsA.select(col("src"), col("dst"))
          .unionByName(candsB.select(col("src"), col("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct()
        t("union + distinct")(cands.count())
        t("candIds explode + distinct + collect")(
          cands.select(explode(array(col("src"), col("dst"))).as("doc_id"))
            .distinct().collect().length.toLong)
        // the REAL fused round for comparison: a fresh probeArtifacts
        // construction on the already-pinned shingle frame
        ptx.Caching.release(spark)
        val sh2 = ptx.Caching.pin(ptx.functions.TextShingles.shingles(shard)
          .select(col("doc_id"), col("shingle").as("h")))
        sh2.count()
        t("FUSED probeArtifacts construction") {
          ptx.sources.ContainIndex.probeArtifacts(spark, idx, sh2, 0.8,
            microBatch = true)
          0L
        }
        // empty-plan scheduling round on the same frames (the floor the
        // candidate round is compared against): one action over the
        // pinned shard frame
        t("empty-plan round (pinned count)")(sh2.count())
      }
      ptx.Caching.release(spark)
    }
    spark.stop()
  }
}
