package ptx.tools

import org.apache.spark.sql.functions._

/** Dev tool: generate the SCALE.md "10× probe" corpus for the document and
  * embedding tables — a deterministic 10× replication of a fixture dir with
  * per-replica perturbed texts (so replicas are near-dups, not exact dups)
  * and key-shifted ids (so id uniqueness holds). Earlier probes built this
  * ad hoc; this pins the recipe so the numbers in docs/SCALE.md are
  * reproducible:
  *   sbt "runMain ptx.tools.ProbeData /root/testdata/sf0.1 /tmp/probe10x"
  *   SPARK_GRAFT_SF_DIR=/tmp/probe10x sbt "runMain ptx.tools.Probe <query> ..."
  *
  * `--hot-events [reps]` instead writes the EVENTS-SKEW probe pair: the
  * source events replicated `reps`× (default 30, key-shifted ids — the
  * 10×-probe construction) land TWICE, as `$out/uniform/events.parquet`
  * and as `$out/hot/events.parquet` with 80% of rows remapped onto ONE
  * hot user_id and one hot event_type. Identical row counts, so a
  * timing delta between the two dirs isolates KEY SKEW from volume —
  * the hot-key shape for (a) user_id-partitioned windows/sessions and
  * (b) the event_type-keyed shuffle join that `join_skew_salted` salts.
  * Deterministic (event_id % 5 picks the hot slice), no RNG.
  *
  * `--hot-shingles` writes the DF-SKEW documents corpus behind the
  * docs/SCALE.md §probe table: the source documents with a fixed 12-word
  * boilerplate suffix appended to EVERY doc, so ~10 shingles per doc have
  * corpus-sized posting lists (the pair space the inverted-index anchors
  * pay and the banded/prefix scale paths never see). n_chars recomputed
  * to keep the fixture contract.
  */
object ProbeData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val hotEvents = args.contains("--hot-events")
    val spark = Probe.session()

    // the ONE events key-shift replication recipe (shared by the 10×
    // volume probe and the --hot-events skew probe, so the two corpora
    // cannot drift apart): key-shifted replicas — 10×/N× rows AND N× the
    // user domain, event times unchanged so window/session group counts
    // scale with users
    def replicateEvents(reps: org.apache.spark.sql.DataFrame) =
      ptx.Tables.events(spark, src)
        .crossJoin(reps)
        .select(
          (col("event_id") + col("r") * 1000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("r") * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))

    if (args.contains("--hot-shingles")) {
      val suffix = " subscribe to our newsletter for updates terms of service apply here"
      ptx.Tables.documents(spark, src)
        .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"wrote boilerplate-suffixed documents under $out")
      spark.stop()
      return
    }

    if (hotEvents) {
      val nReps = args.dropWhile(_ != "--hot-events").drop(1).headOption
        .map(_.toInt).getOrElse(30)
      val uniform = replicateEvents(
        spark.range(nReps.toLong).select(col("id").as("r")))
      uniform.write.mode("overwrite").parquet(s"$out/uniform/events.parquet")
      val hot = expr("event_id % 5 < 4") // 80% of rows
      uniform
        .select(col("event_id"), col("ts"),
          when(hot, lit(1L)).otherwise(col("user_id")).as("user_id"),
          when(hot, lit("click")).otherwise(col("event_type")).as("event_type"),
          col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$out/hot/events.parquet")
      println(s"wrote ${nReps}x uniform + hot-user/hot-type events under $out")
      spark.stop()
      return
    }

    val reps = spark.range(10).select(col("id").as("r"))

    // documents: replica 0 is the original; replicas 1..9 append a
    // replica-tag word so they are NEAR-dups of it (shared grams/chunks,
    // different fingerprints). n_chars is recomputed to keep the fixture
    // contract n_chars = length(text).
    val docs = ptx.Tables.documents(spark, src)
      .crossJoin(reps)
      .select(
        (col("doc_id") + col("r") * 10000000L).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("r"))).as("text"),
        col("lang"),
        col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: key-shifted replicas with a small deterministic
    // per-replica component shift (replicas cluster near the original —
    // the realistic shape for a re-crawled/near-duplicate corpus).
    val emb = ptx.Tables.embeddings(spark, src)
      .crossJoin(reps)
      .select(
        (col("vec_id") + col("r") * 10000000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x + r * 0.001 as float))")
          .as("embedding"),
        col("label"))
    emb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: the shared key-shift recipe (replicateEvents above),
    // matching the original probe's "1M events with 10× the users"
    // construction.
    replicateEvents(reps).write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"wrote 10x documents+embeddings+events under $out")
    spark.stop()
  }
}
