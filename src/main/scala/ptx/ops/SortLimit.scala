package ptx.ops

import org.apache.spark.sql.functions._
import ptx.{QFn, Tables}

/** G6 — sort / limit / top-k (SURVEY.md §2 G6).
  *
  * Scale notes (100 TB): `topk_global` compiles to TakeOrderedAndProject
  * (per-partition heap + driver merge of k rows) — no global sort. Full
  * ORDER BY uses range partitioning; LIMIT/OFFSET pages are collected from
  * the sorted prefix only.
  */
object SortLimit {

  def queries: Map[String, QFn] = Map(
    "sort_multi_key" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderpriority").desc_nulls_last,
          col("price").asc_nulls_first, col("o_orderkey"))
    }),
    "limit_offset" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderkey"))
        .offset(40).limit(20)
    }),
    // lineitem streams through a broadcast of the filtered customer ⋈
    // orders (~26k rows at sf0.1), as in join_star_q5: unhinted, the
    // product size estimate of c ⋈ o made JoinSelection broadcast the 336k
    // filtered lineitem rows (17 MiB) instead. Same cluster-scale caveat.
    "topk_global" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      l.join(broadcast(c.join(o, col("c_custkey") === col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    })
  )

  def oracle: Map[String, String] = Map(
    "sort_multi_key" ->
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
        |FROM orders
        |ORDER BY o_orderpriority DESC NULLS LAST, price ASC NULLS FIRST, o_orderkey""".stripMargin,
    "limit_offset" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_orderkey LIMIT 20 OFFSET 40""".stripMargin,
    "topk_global" ->
      """SELECT l_orderkey, o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
  )
}
