package ptx.tools

import org.apache.spark.sql.functions._

/** Dev probe: the semantic threshold curve's Σ|cell|² bound,
  * measured on BOTH sides of its operative knob — cell GROWTH. On the
  * 10× corpus the fixture's 10 labels are a FIXED-k partition, so 10×
  * the vectors is 10× per cell = 100× in-cell pair space: the curve's
  * wall there measures fixed-k cell growth, not the posture a 100 TB
  * deployment runs (cell count k scales with the corpus — the
  * VectorIndex kmeans path — holding cell SIZE bounded). This probe
  * re-labels the 10× corpus by (label, replica) — vec_id div 1e7 IS the
  * replica index under the ProbeData key shift — giving 100 cells of
  * the ORIGINAL size, and times the identical curve body. The
  * bounded-cell posture this probe simulates is the RUNNABLE build:
  * `VectorIndex.adaptiveK`/`kmeansAdaptive` (k = ⌈n/256⌉,
  * sample-trained) is what the declared learned-cell queries execute
  * ([[ptx.ops.LlmScale.embedCurveSem]], one shared definition) over:
  *   (a) the 1× fixture            (baseline),
  *   (b) the 10× fixed-k labels    (cells grow 10×),
  *   (c) the 10× bounded-size cells (cell count grows 10×).
  * (c)/(a) is the bound's honest 10× factor; (b) documents what happens
  * when a deployment lets cells grow instead of re-sharding k.
  *
  *   sbt "runMain ptx.tools.SemCurveProbe /root/testdata/sf0.1 /tmp/probe10x"
  */
object SemCurveProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val p10 = if (args.length > 1) args(1) else "/tmp/probe10x"
    val spark = Probe.session()

    def time(label: String, e: org.apache.spark.sql.DataFrame): Unit = {
      // warm (codegen/classload), then the timed full-materialization pass
      Probe.materialize(ptx.ops.LlmScale.embedCurveSem(spark, e))
      ptx.Caching.releaseAll()
      Probe.timed(s"[semcurve] $label") {
        Probe.materialize(ptx.ops.LlmScale.embedCurveSem(spark, e))
      }
      ptx.Caching.releaseAll()
    }

    val e1 = ptx.Tables.embeddings(spark, sf)
    val e10 = ptx.Tables.embeddings(spark, p10)
    val e10sharded = e10.withColumn("label",
      (col("label") * 10 + (col("vec_id") / 10000000L).cast("int")).cast("int"))
    println(s"[semcurve] 1x cells: ${e1.groupBy("label").count().count()}, " +
      s"10x fixed-k: ${e10.groupBy("label").count().count()}, " +
      s"10x bounded-size: ${e10sharded.groupBy("label").count().count()}")
    time("1x fixture (10 cells x ~200)", e1)
    time("10x fixed-k (10 cells x ~2000 — cells GROW)", e10)
    time("10x bounded-size (100 cells x ~200 — k grows)", e10sharded)
    spark.stop()
  }
}
