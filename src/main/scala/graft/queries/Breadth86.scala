package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Num.cents

/** Eighty-seventh wave — the TPC-H Q10/Q14/Q18 skeletons, same
  * exact-integer revenue discipline as Breadth81.
  *
  *  - **q_returned_revenue**: top 20 customers by revenue lost to
  *    returned lines (the Q10 returned-item report): lineitem filters
  *    to `l_returnflag = 'R'` BEFORE aggregating to order grain, then
  *    rolls orders → customers with the 25-row nation dim broadcast.
  *  - **q_promo_share**: per ship month, the revenue share of PROMO
  *    parts (the Q14 promotion effect): one broadcastable part-dim
  *    join, both numerator and denominator exact int64, one division
  *    at emit in the pinned (100·promo)/total operand order.
  *  - **q_big_orders**: the Q18 large-volume-order report: orders
  *    whose total line quantity exceeds 200 units (quantities are
  *    integral, summed as int64), joined back to their customer, top
  *    25 by (quantity, orderkey).
  *
  * Scale shape: facts aggregate to order grain before any dim join;
  * part/nation dims broadcast; top-k is TakeOrderedAndProject. The
  * Q18 HAVING filter prunes at the first aggregate, so the join-back
  * touches only qualifying orders. */
object Breadth86 {

  private[graft] val BigQty = 200L
  private[graft] val RetTopN = 20
  private[graft] val BigTopN = 25

  private def revExpr = (cents(col("l_extendedprice")) *
    (lit(100L) - cents(col("l_discount")))).as("__rev")

  /** Top customers by returned-line revenue (Q10 skeleton). */
  private[graft] def returnedRevenue(nation: DataFrame, customer: DataFrame,
                                     orders: DataFrame, lineitem: DataFrame,
                                     k: Int = RetTopN): DataFrame = {
    val ret = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revExpr)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("__rev")).as("__rev_i"))
    val byCust = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(ret, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_ret_orders"), sum(col("__rev_i")).as("__cr"))
    byCust
      .join(customer.select(col("c_custkey"), col("c_name"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_ret_orders"),
        (col("__cr").cast("double") / lit(10000.0)).as("ret_revenue"))
      .orderBy(col("ret_revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  /** PROMO revenue share per ship month (Q14 skeleton). */
  private[graft] def promoShare(part: DataFrame,
                                lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"),
      date_trunc("month", col("l_shipdate").cast("date")).cast("date")
        .as("ship_month"), revExpr)
    li.join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(sum(when(col("p_type") === "PROMO", col("__rev"))
          .otherwise(lit(0L))).as("__promo"),
        sum(col("__rev")).as("__total"))
      .select(col("ship_month"),
        (col("__promo").cast("double") / lit(10000.0)).as("promo_revenue"),
        (col("__total").cast("double") / lit(10000.0)).as("total_revenue"),
        ((lit(100.0) * col("__promo").cast("double")) /
          col("__total").cast("double")).as("promo_share_pct"))
      .orderBy(col("ship_month").asc)
  }

  /** Large-volume orders joined back to their customer (Q18 skeleton). */
  private[graft] def bigOrders(customer: DataFrame, orders: DataFrame,
                               lineitem: DataFrame, minQty: Long = BigQty,
                               k: Int = BigTopN): DataFrame = {
    val qty = lineitem.select(col("l_orderkey"),
        col("l_quantity").cast("long").as("__q"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("__q")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    qty.join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("o_date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_date"), col("n_lines"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(k)
  }

  val defs: Map[String, Q] = Map(
    "q_returned_revenue" -> ((s, dir) =>
      returnedRevenue(Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_promo_share" -> ((s, dir) =>
      promoShare(Tables.part(s, dir), Tables.lineitem(s, dir))),
    "q_big_orders" -> ((s, dir) =>
      bigOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))))

  private val revSql =
    """CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_returned_revenue" ->
      s"""WITH ret AS (
         |  SELECT l_orderkey, CAST(sum($revSql) AS BIGINT) AS rev_i
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         |bc AS (
         |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ret_orders,
         |    CAST(sum(rev_i) AS BIGINT) AS cr
         |  FROM orders JOIN ret ON o_orderkey = l_orderkey
         |  GROUP BY 1)
         |SELECT c_custkey, c_name, n_name, n_ret_orders,
         |  CAST(cr AS DOUBLE) / 10000.0 AS ret_revenue
         |FROM bc
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY ret_revenue DESC, c_custkey
         |LIMIT $RetTopN""".stripMargin,

    "q_promo_share" ->
      s"""SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE))
         |    AS DATE) AS ship_month,
         |  CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revSql
         |    ELSE 0 END) AS BIGINT) AS DOUBLE) / 10000.0 AS promo_revenue,
         |  CAST(CAST(sum($revSql) AS BIGINT) AS DOUBLE) / 10000.0
         |    AS total_revenue,
         |  (100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revSql
         |    ELSE 0 END) AS BIGINT) AS DOUBLE))
         |    / CAST(CAST(sum($revSql) AS BIGINT) AS DOUBLE)
         |    AS promo_share_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_big_orders" ->
      s"""WITH qty AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING sum(CAST(l_quantity AS BIGINT)) > $BigQty)
         |SELECT o_orderkey, c_custkey, c_name,
         |  CAST(o_orderdate AS DATE) AS o_date, n_lines, total_qty
         |FROM qty
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_qty DESC, o_orderkey
         |LIMIT $BigTopN""".stripMargin)
}
