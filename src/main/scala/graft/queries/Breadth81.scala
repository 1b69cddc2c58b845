package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Num.cents

/** Eighty-second wave — the classic warehouse join shapes (the TPC-H
  * Q3/Q4/Q5 skeletons) over the star schema, in the exact-integer
  * revenue discipline.
  *
  *  - **q_segment_backlog**: shipping-priority backlog — for BUILDING-
  *    segment customers, orders placed before the cutoff with at least
  *    one line still shipping after it, top 10 by open revenue.
  *    Revenue is exact: cents × (100 − discount%) is an int64 sum
  *    (price·disc products are 4-dp-exact integers), divided once at
  *    emit. The Q3 skeleton: dim-filter → fact join → agg → top-k.
  *  - **q_late_priority**: order-priority late-shipment check — per
  *    priority, how many orders have ANY line shipped > 90 days after
  *    the order date (distinct-order semi form), and the share of that
  *    priority's orders. The Q4 skeleton: EXISTS collapses to a
  *    pre-aggregated per-order flag join, never a row-multiplying one.
  *  - **q_nation_revenue**: revenue by customer nation — the Q5
  *    skeleton: two broadcast dims (nation ⋈ customer) + one fact
  *    chain (orders ⋈ lineitem), revenue exact as above.
  *
  * Scale shape: facts shuffle on their join keys once each
  * (orderkey / custkey); nation (25 rows) broadcasts; the Q3 top-k is
  * a TakeOrderedAndProject over |open orders| aggregate rows, and the
  * Q4 flag table is |orders|-bounded. No row-multiplying join ever
  * reaches an aggregate: lineitem collapses to per-order grain before
  * joining orders-side dims. */
object Breadth81 {

  private val Cutoff = "1998-01-01"
  private val LateDays = 90
  private val TopK = 10

  /** Exact open revenue per order for segment customers, top 10. */
  private[graft] def segmentBacklog(customer: DataFrame, orders: DataFrame,
                                    lineitem: DataFrame, segment: String,
                                    cutoff: String = Cutoff,
                                    k: Int = TopK): DataFrame = {
    val cust = customer.filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val ord = orders.filter(col("o_orderdate").cast("date") < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("o_date"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val open = lineitem
      .filter(col("l_shipdate").cast("date") > lit(cutoff))
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rev"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("__rev")).as("__rev_i"))
    ord.join(open, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_date"),
        (col("__rev_i").cast("double") / lit(10000.0)).as("open_revenue"))
      .orderBy(col("open_revenue").desc, col("o_orderkey").asc)
      .limit(k)
  }

  /** Per-priority count + share of orders with a >90-day-late line. */
  private[graft] def latePriority(orders: DataFrame, lineitem: DataFrame,
                                  lateDays: Int = LateDays): DataFrame = {
    val lines = lineitem.select(col("l_orderkey"),
      col("l_shipdate").cast("date").as("__ship"))
    val flags = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("date").as("__od"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(max(when(datediff(col("__ship"), col("__od")) > lateDays, 1L)
        .otherwise(0L)).as("__late"))
    flags.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("__late")).as("n_late"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_late"),
        (col("n_late").cast("double") / col("n_orders").cast("double"))
          .as("late_share"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Exact revenue per customer nation (nation broadcast). */
  private[graft] def nationRevenue(nation: DataFrame, customer: DataFrame,
                                   orders: DataFrame,
                                   lineitem: DataFrame): DataFrame = {
    val rev = lineitem.select(col("l_orderkey"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rev"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("__rev")).as("__rev_i"))
    val ord = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(rev, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("__rev_i")).as("__cust_rev"))
    val cust = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("__cust_rev")).as("__rev_i"))
      .select(col("n_name"), col("n_customers"),
        (col("__rev_i").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy(col("n_name").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_segment_backlog" -> ((s, dir) =>
      segmentBacklog(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "BUILDING")),
    "q_late_priority" -> ((s, dir) =>
      latePriority(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_nation_revenue" -> ((s, dir) =>
      nationRevenue(Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_segment_backlog" ->
      s"""WITH open_rev AS (
         |  SELECT l_orderkey,
         |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
         |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
         |      AS BIGINT) AS rev_i
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) > DATE '$Cutoff'
         |  GROUP BY 1)
         |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
         |  CAST(rev_i AS DOUBLE) / 10000.0 AS open_revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN open_rev ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '$Cutoff'
         |ORDER BY open_revenue DESC, o_orderkey ASC
         |LIMIT $TopK""".stripMargin,

    "q_late_priority" ->
      s"""WITH flags AS (
         |  SELECT o_orderkey, o_orderpriority,
         |    CAST(max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
         |        CAST(l_shipdate AS DATE)) > $LateDays THEN 1 ELSE 0 END)
         |      AS BIGINT) AS late
         |  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2)
         |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(late) AS BIGINT) AS n_late,
         |  CAST(sum(late) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS late_share
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_nation_revenue" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |      AS BIGINT) AS rev_i
        |  FROM lineitem GROUP BY 1),
        |cust_rev AS (
        |  SELECT o_custkey, CAST(sum(rev_i) AS BIGINT) AS cust_rev
        |  FROM orders JOIN rev ON o_orderkey = l_orderkey
        |  GROUP BY 1)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cust_rev) AS DOUBLE) / 10000.0 AS revenue
        |FROM cust_rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
