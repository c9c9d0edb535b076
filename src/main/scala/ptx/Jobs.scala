package ptx

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-side execution helpers: scoped session conf ([[Jobs.withConf]],
  * [[Jobs.noAqe]]) and concurrent submission of independent jobs
  * ([[Jobs.par]]).
  */
object Jobs {
  /** Run `body` with each `key -> value` of `kv` set on `spark`'s session
    * conf: the one scoped writer of session conf in the engine.
    *
    * Restore rule, kept per (session, key): the first scope to open on a
    * key records the session's base value. While scopes are open, the key
    * holds the value of the newest scope still open. When a scope exits,
    * the key falls back to the newest scope still open, or to the base
    * value (unset if there was none) when it was the last. So a nested
    * scope on one thread restores the outer scope's value, and
    * overlapping scopes on different threads restore the base value in
    * whatever order they exit. A body that throws restores the same way.
    * Each scope owns its entries, and a session leaves the registry when
    * its last scope closes.
    *
    * Session conf is shared by every query on the session: while a scope
    * is open, a concurrent query on `spark` plans with the scope's values
    * (same results, different job shape). A `foreachBatch` body therefore
    * scopes `batch.sparkSession`, the per-stream clone Spark hands it, and
    * never the session that started the stream.
    */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val owner = new Object
    val opened = mutable.ArrayBuffer.empty[String]
    try {
      scopes.synchronized {
        val keys = scopes.getOrElseUpdate(spark, mutable.Map.empty)
        kv.foreach { case (k, v) =>
          val base = spark.conf.getOption(k)
          spark.conf.set(k, v)
          keys.getOrElseUpdate(k, new Held(base)).open += owner -> v
          opened += k
        }
      }
      body
    } finally scopes.synchronized {
      val keys = scopes(spark)
      opened.foreach { k =>
        val held = keys(k)
        held.open.remove(held.open.indexWhere(_._1 eq owner))
        held.open.lastOption.map(_._2).orElse(held.base) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
        if (held.open.isEmpty) keys -= k
      }
      if (keys.isEmpty) scopes -= spark
    }
  }

  /** One key's open scopes, oldest first, over the value it had before. */
  private final class Held(val base: Option[String]) {
    val open = mutable.ArrayBuffer.empty[(AnyRef, String)]
  }
  private val scopes = mutable.Map.empty[SparkSession, mutable.Map[String, Held]]

  /** Run `body` with adaptive query execution off and, when
    * `shufflePartitions > 0`, `spark.sql.shuffle.partitions` at that
    * count: the job shape for iterative loops (label propagation, Lloyd
    * rounds) whose per-round frames are small and partitioned by the
    * operator. AQE materializes every exchange as its own driver job with
    * a re-plan between them; with it off, each round is one job whose
    * stages pipeline. Without AQE's coalescing every exchange runs at the
    * static count, so callers size it from the data with
    * [[adaptivePartitions]]. Results are identical with AQE on or off;
    * only the job shape changes. AQE's runtime skew-join splitting is off
    * inside the scope too.
    *
    * A [[withConf]] scope, under its restore rule: while it is open, other
    * queries on `spark` plan without AQE, and a loop inside a stream body
    * runs on `batch.sparkSession`.
    */
  def noAqe[T](spark: SparkSession, shufflePartitions: Int = -1)(body: => T): T = {
    val parts = if (shufflePartitions > 0)
      Seq("spark.sql.shuffle.partitions" -> shufflePartitions.toString) else Nil
    withConf(spark, ("spark.sql.adaptive.enabled" -> "false") +: parts: _*)(body)
  }

  /** Shuffle-partition count for a loop whose per-round input is `rows`
    * rows: one partition per `rowsPerPartition` rows, clamped to
    * [1, defaultParallelism]. defaultParallelism-parameterized — at
    * cluster scale the cap is the cluster's core count, and a 100 TB edge
    * frame saturates it; a fixture-sized frame gets 1-2 partitions and
    * its rounds stop paying 32 empty-task launches per stage. */
  def adaptivePartitions(spark: org.apache.spark.sql.SparkSession,
                         rows: Long, rowsPerPartition: Long = 262144L): Int = {
    val want = (rows + rowsPerPartition - 1) / rowsPerPartition
    math.max(1L, math.min(want,
      spark.sparkContext.defaultParallelism.toLong)).toInt
  }

  /** Concurrent driver-job submission for INDEPENDENT sink writes: a
    * foreachBatch body that runs its per-gate audit writes sequentially
    * pays one driver-job latency PER WRITE even though the jobs touch
    * disjoint outputs and share no lineage beyond the cached batch. Spark's scheduler overlaps concurrently-submitted jobs across
    * the executor pool (FIFO within it), so at micro-batch sizes — where
    * fixed per-job cost dominates data cost — the batch's wall time drops
    * from sum(jobs) toward max(jobs).
    *
    * Failure contract: every job is awaited and the FIRST failure rethrows
    * on the caller's thread, so a foreachBatch retry still sees the batch
    * fail loudly (the sinks are batch-scoped overwrites — a half-written
    * concurrent sibling is replaced on replay, the same idempotency the
    * sequential form relied on). Only use for jobs with no ordering
    * dependency; anything reading another job's output must stay after the
    * `par` call.
    */
  def par(jobs: (() => Unit)*): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val started = jobs.map(j => Future(j()))
    // await ALL (not failing fast) so no job is still writing when the
    // caller proceeds to reads or to the next batch; then rethrow the
    // first failure
    val outcomes = started.map(f => Await.ready(f, Duration.Inf).value.get)
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }
  }
}
