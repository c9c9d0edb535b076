package ptx.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measures the amortization claim behind docs/SCALE.md for the
  * persisted [[ptx.sources.DedupIndex]] (`dedup`) or
  * [[ptx.sources.ContainIndex]] (`contain`) — admitting a shard against the
  * index must cost ~linear in the SHARD, while the inline declared query
  * (`llm_dedup_minhash_lsh` / `llm_containment_prefix`) re-signs the whole
  * corpus per run.
  *
  * Splits the corpus at `sfDir` into a base and a shard (10% and 1%
  * variants), then times with full materialization after a warm-up:
  *
  *   - inline: the declared full-corpus query — what a re-sign-everything
  *     admission would pay per shard;
  *   - build: the index write of the base — paid ONCE;
  *   - probe: the index probe of the shard — paid per admission (the
  *     containment index also times its micro-batch probe shape).
  *
  *   sbt "runMain ptx.tools.IndexProbe <dedup|contain> <sfDir>"
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val (kind, dir) = (args(0), args(1))
    val spark = Probe.session()
    val (inline, redo, write, probes) = kind match {
      case "dedup" => ("llm_dedup_minhash_lsh", "re-sign",
        ptx.sources.DedupIndex.write(_: DataFrame, _: String),
        Seq("" -> (ptx.sources.DedupIndex.probe(spark, _: String, _: DataFrame))))
      case "contain" => ("llm_containment_prefix", "re-shingle",
        ptx.sources.ContainIndex.write(_: DataFrame, _: String),
        Seq("" -> (ptx.sources.ContainIndex.probe(spark, _: String, _: DataFrame)),
          "micro-batch " -> (ptx.sources.ContainIndex.probe(spark, _: String,
            _: DataFrame, microBatch = true))))
      case other => sys.error(s"unknown index '$other' (want dedup|contain)")
    }
    def timeIt(label: String)(body: => Any): Unit = {
      Probe.timed(s"[$kind-index-probe] $label")(body)
      ptx.Caching.releaseAll()
    }

    Probe.withTempDirs { tmpDir =>
      val docs = ptx.Tables.documents(spark, dir).select("doc_id", "text")
      Probe.materialize(docs) // warm-up: JVM + codegen + the documents scan

      timeIt(s"inline full-corpus query ($redo everything)") {
        Probe.materialize(ptx.QueryRegistry.all(inline)(spark, dir))
      }
      for (pct <- Seq(10, 1)) {
        val mod = 100 / pct
        val base = docs.filter(col("doc_id") % mod =!= 0)
        val shard = docs.filter(col("doc_id") % mod === 0)
        val idx = tmpDir(s"${kind}idx$pct")
        timeIt(s"index build over ${100 - pct}% base (paid once)") {
          write(base, idx)
        }
        for ((shape, probe) <- probes)
          timeIt(s"${shape}probe of a $pct% shard (paid per admission)") {
            Probe.materialize(probe(idx, shard))
          }
      }
    }
    spark.stop()
  }
}
