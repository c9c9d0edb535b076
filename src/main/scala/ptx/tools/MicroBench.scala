package ptx.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scratch micro-benchmarks for expression/codegen investigations.
  * Current subject: the RANGE-frame window's key-cardinality bound
  * vs `SegmentedScan.rangeFrameSum`'s value-banded decomposition — the
  * win_range_frame shape, whose o_orderstatus partition key has 3 values
  * at ANY scale, so the window form caps at 3-way parallelism. Also
  * prints the window-exchange max/avg partition row skew both ways.
  * (Previous subjects are kept in git history.)
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Probe.session()

    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit =
      Probe.timed(s"[mb] $label")(Probe.materialize(f))

    // REPS-replicated orders (key-preserving: replication multiplies each
    // status's history, exactly the axis the window form cannot split)
    val reps = sys.env.getOrElse("SPARK_GRAFT_MB_REPS", "10").toInt
    val o = ptx.Tables.orders(spark, sfDir)
      .crossJoin(spark.range(reps.toLong).select(col("id").as("r")))
      .select((col("o_orderkey") * reps + col("r")).as("o_orderkey"),
        col("o_orderstatus"),
        ((col("o_totalprice") * 100).cast("long") + col("r")).as("cents"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("cents"))
      .rangeBetween(-10000L, 10000L)
    def windowForm = o.withColumn("near", sum(col("cents")).over(w))
    def bandedForm = ptx.ops.SegmentedScan.rangeFrameSum(
      o, Seq("o_orderstatus"), "cents", 10000.0, "near")

    // warmup both
    windowForm.queryExecution.toRdd.count()
    bandedForm.queryExecution.toRdd.count()

    time(s"RANGE window form (3-value key, ${reps}x orders, local[${Probe.cpus}])")(
      windowForm)
    time(s"rangeFrameSum banded form (same data)")(bandedForm)

    // exchange skew: rows per shuffle partition for key-hash vs
    // (key, band)-hash at the session's partition count
    val parts = Probe.cpus
    def skew(label: String, keyed: org.apache.spark.sql.DataFrame): Unit = {
      val sizes = keyed.rdd.mapPartitionsWithIndex {
        (i, it) => Iterator(i -> it.size) }.collect().map(_._2)
      val mx = sizes.max.toDouble
      val avg = sizes.sum.toDouble / sizes.count(_ > 0).max(1)
      println(f"[mb] $label: max/avg occupied = ${mx / avg}%.2f " +
        s"(max=${sizes.max}, occupied=${sizes.count(_ > 0)}/$parts)")
    }
    skew("window exchange (hash o_orderstatus)",
      o.repartition(parts, col("o_orderstatus")))
    skew("banded exchange (hash o_orderstatus, band)",
      o.repartition(parts, col("o_orderstatus"),
        floor(col("cents") / lit(10000.0)).cast("long")))

    // HOT-BAND distribution: 80% of the rows remapped into ONE
    // width-band of ONE key — the adversarial case for banding itself
    // (the hot-user probe at the value grain). The
    // load-bearing property measured here: rangeFrameSum's only
    // (key, band)-partitioned stage runs on the DISTINCT-VALUE grain, so
    // the hot band's straggler task is |distinct values in the band| ≤
    // width rows (10k here), not 80% of the corpus — while the window
    // form's straggler is the hot KEY's whole history either way.
    val hotRow = col("o_orderkey") % 5 < 4
    val hot = o.select(col("o_orderkey"),
      when(hotRow, lit("O")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(hotRow, pmod(col("cents"), lit(10000L))).otherwise(col("cents")).as("cents"))
    def windowHot = hot.withColumn("near", sum(col("cents")).over(w))
    def bandedHot = ptx.ops.SegmentedScan.rangeFrameSum(
      hot, Seq("o_orderstatus"), "cents", 10000.0, "near")
    windowHot.queryExecution.toRdd.count()
    bandedHot.queryExecution.toRdd.count()
    time("RANGE window form, HOT band corpus (80% one key+band)")(windowHot)
    time("rangeFrameSum banded form, HOT band corpus")(bandedHot)
    skew("banded exchange hot (hash o_orderstatus, band; row grain)",
      hot.repartition(parts, col("o_orderstatus"),
        floor(col("cents") / lit(10000.0)).cast("long")))
    skew("banded per-band window hot (DISTINCT-value grain)",
      hot.groupBy(col("o_orderstatus"),
          floor(col("cents") / lit(10000.0)).cast("long").as("band"),
          col("cents")).agg(count(lit(1)))
        .repartition(parts, col("o_orderstatus"), col("band")))

    // CONTINUOUS hot band: the same 80%-one-band remap but with
    // ~unique values INSIDE the band (distinct ≈ rows — the SCALE.md
    // residual where the distinct-value mitigation degenerates).
    // rangeFrameSumQuantized restores the straggler bound at grid
    // resolution; measured against the raw banded form and the window
    // form on the identical corpus, plus the distinct-value-grain skew
    // of both formulations.
    // a fractional per-row component makes every hot value distinct —
    // integer remaps stay ≤ width distinct by construction, which is
    // precisely the bound the residual loses
    val hotC = o.select(col("o_orderkey"),
      when(hotRow, lit("O")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(hotRow, pmod(col("cents") * 7919L + col("o_orderkey"), lit(10000L))
          .cast("double") + col("o_orderkey").cast("double") / lit(1e9))
        .otherwise(col("cents").cast("double")).as("cents"))
    def windowHotC = hotC.withColumn("near", sum(col("cents")).over(w))
    def bandedHotC = ptx.ops.SegmentedScan.rangeFrameSum(
      hotC, Seq("o_orderstatus"), "cents", 10000.0, "near")
    def quantHotC = ptx.ops.SegmentedScan.rangeFrameSumQuantized(
      hotC, Seq("o_orderstatus"), "cents", 10000.0, "near", grid = 100.0)
    windowHotC.queryExecution.toRdd.count()
    bandedHotC.queryExecution.toRdd.count()
    quantHotC.queryExecution.toRdd.count()
    time("RANGE window form, CONTINUOUS hot band")(windowHotC)
    time("rangeFrameSum raw banded, CONTINUOUS hot band (the residual)")(bandedHotC)
    time("rangeFrameSumQuantized grid=100, CONTINUOUS hot band")(quantHotC)
    skew("continuous hot band DISTINCT-value grain (raw)",
      hotC.groupBy(col("o_orderstatus"),
          floor(col("cents") / lit(10000.0)).cast("long").as("band"),
          col("cents")).agg(count(lit(1)))
        .repartition(parts, col("o_orderstatus"), col("band")))
    skew("continuous hot band DISTINCT-value grain (grid=100)",
      hotC.select(col("o_orderstatus"),
          (floor(col("cents") / lit(100.0) + lit(0.5)) * lit(100.0)).as("q"))
        .groupBy(col("o_orderstatus"),
          floor(col("q") / lit(10000.0)).cast("long").as("band"), col("q"))
        .agg(count(lit(1)))
        .repartition(parts, col("o_orderstatus"), col("band")))
    spark.stop()
  }
}
