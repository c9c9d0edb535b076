package ptx.tools

import org.apache.spark.sql.functions._

/** Dev probe: per-round cost of the BPE merge
  * learner as a function of WORD-TYPE vocabulary size, with corpus token
  * count held constant — the axis the learner's rounds are sized by
  * (each round is one aggregation over the word-TYPE table plus a 1-row
  * argmax collect; the corpus is only read on the first pass).
  *
  * The 10× volume probe cannot isolate this: its perturbed replicas grow
  * the fixture vocabulary 31 → 40 types while multiplying tokens 10×.
  * Here each word is deterministically suffixed with `doc_id % n`
  * (`w` → `w~j`), multiplying TYPES ~n× at identical token count — so a
  * timing delta between n=1 / n=10 / n=100 is the vocab term alone.
  *
  *   SPARK_GRAFT_BPE_DEBUG=1 sbt "runMain ptx.tools.BpeVocabProbe [sfDir]"
  */
object BpeVocabProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Probe.session()
    val docs = ptx.Tables.documents(spark, sfDir).select("doc_id", "text")

    def vocabX(n: Int) =
      if (n == 1) docs.select("text")
      else docs.select(expr(
        s"""array_join(transform(split(text, ' '),
           |  w -> concat(w, '~', CAST(doc_id % $n AS STRING))), ' ')"""
          .stripMargin).as("text"))

    Seq(1, 10, 100).foreach { n =>
      val d = vocabX(n)
      val types = d.select(explode(split(col("text"), " ")).as("w"))
        .select(col("w")).distinct().count()
      // cold pass absorbs codegen/classload; the second run's [bpe]
      // round lines are the steady-state per-round cost
      ptx.functions.BpeLearn.learn(d, 8).collect()
      ptx.Caching.releaseAll()
      println(s"[bpeprobe] vocab x$n ($types word types), warm rounds:")
      Probe.timed(s"[bpeprobe] vocab x$n total") {
        ptx.functions.BpeLearn.learn(d, 8).collect().length.toLong
      }
      ptx.Caching.releaseAll()
    }
    spark.stop()
  }
}
