package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Num.cents

/** Ninety-sixth wave — the remaining classic warehouse join shapes,
  * part 1 (the TPC-H Q7/Q8/Q12/Q13 skeletons re-expressed on this
  * star schema: it ships no partsupp/shipmode/commitdate columns, so
  * each query keeps the SHAPE — the join topology, the correlated
  * aggregate, the CASE-sum — on the columns that exist).
  *
  *  - **q_volume_shipping** (Q7): bilateral trade volume between two
  *    nations — supplier nation vs customer nation, revenue per
  *    (supp_nation, cust_nation, ship-year) for the pair, both
  *    directions. Exact cents×(100−disc%) int64 revenue.
  *  - **q_market_share** (Q8): one nation's share of ECONOMY-part
  *    revenue delivered into one region, per order year — the
  *    two-sided dim chain (part + supplier-nation on one side,
  *    customer-nation-region on the other) with a conditional-sum
  *    numerator over a total denominator, ONE double division at emit.
  *  - **q_priority_delay** (Q12): ship-delay buckets × priority class —
  *    per delay bucket (≤30 / 31–90 / >90 days from order to ship),
  *    how many lines belong to URGENT/HIGH orders vs not. The Q12
  *    CASE-sum discipline: one orders⋈lineitem join, no row explosion.
  *  - **q_custdist** (Q13): the customer order-count distribution —
  *    LEFT join customers→orders so zero-order customers survive,
  *    count per customer, then group by that count. Two aggregations,
  *    both map-side combinable.
  *
  * Scale shape: nation (25) and supplier (|S|≪|L|) broadcast; facts
  * shuffle once on their join key; Q8's numerator/denominator ride the
  * same aggregate (no second pass); Q13 is two hash aggregates over
  * |customer| rows. */
object Breadth95 {

  private def revI(li: DataFrame): DataFrame =
    li.withColumn("__rev",
      cents(col("l_extendedprice")) *
        (lit(100L) - cents(col("l_discount"))))

  /** Bilateral supplier-nation → customer-nation revenue per year. */
  private[graft] def volumeShipping(nation: DataFrame, supplier: DataFrame,
                                    customer: DataFrame, orders: DataFrame,
                                    lineitem: DataFrame, nationA: String,
                                    nationB: String): DataFrame = {
    val n = nation.select(col("n_nationkey"), col("n_name"))
    val supp = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    revI(lineitem)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"), col("__rev"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === nationA &&
        col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("__rev")).as("__rev_i"))
      .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
        col("n_lines"),
        (col("__rev_i").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy(col("supp_nation").asc, col("cust_nation").asc,
        col("ship_year").asc)
  }

  /** One nation's revenue share of a part type sold into a region. */
  private[graft] def marketShare(region: DataFrame, nation: DataFrame,
                                 supplier: DataFrame, customer: DataFrame,
                                 orders: DataFrame, lineitem: DataFrame,
                                 part: DataFrame, shareNation: String,
                                 regionName: String,
                                 pType: String): DataFrame = {
    val n = nation.select(col("n_nationkey"), col("n_name"),
      col("n_regionkey"))
    val supp = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val regKeys = n
      .join(broadcast(region.filter(col("r_name") === regionName)
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("__rn"))
    val cust = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(regKeys), col("c_nationkey") === col("__rn"))
      .select(col("c_custkey"))
    val ord = orders
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val pk = part.filter(col("p_type") === pType).select(col("p_partkey"))
    revI(lineitem)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("__rev"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === shareNation, col("__rev"))
        .otherwise(0L)).as("__num"),
        sum(col("__rev")).as("__den"))
      .select(col("o_year"),
        (col("__num").cast("double") / lit(10000.0)).as("nation_revenue"),
        (col("__den").cast("double") / lit(10000.0)).as("total_revenue"),
        (col("__num").cast("double") / col("__den").cast("double"))
          .as("mkt_share"))
      .orderBy(col("o_year").asc)
  }

  /** Ship-delay buckets × high/low order priority line counts. */
  private[graft] def priorityDelay(orders: DataFrame,
                                   lineitem: DataFrame): DataFrame = {
    val d = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(d <= 30, "a_fast").when(d <= 90, "b_medium")
          .otherwise("c_slow"))
      .groupBy(col("delay_bucket"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
        .as("high_line_count"),
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("delay_bucket").asc)
  }

  /** Distribution of per-customer order counts (zero kept via LEFT). */
  private[graft] def custdist(customer: DataFrame,
                              orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val defs: Map[String, Q] = Map(
    "q_volume_shipping" -> ((s, dir) =>
      volumeShipping(Tables.nation(s, dir), Tables.supplier(s, dir),
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "NATION_18", "NATION_19")),
    "q_market_share" -> ((s, dir) =>
      marketShare(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.supplier(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.part(s, dir), "NATION_5", "ASIA", "ECONOMY")),
    "q_priority_delay" -> ((s, dir) =>
      priorityDelay(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_custdist" -> ((s, dir) =>
      custdist(Tables.customer(s, dir), Tables.orders(s, dir))))

  private val RevSql =
    """CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    "q_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(CAST(sum($RevSql) AS BIGINT) AS DOUBLE) / 10000.0
         |    AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
         |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_market_share" ->
      s"""WITH t AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |    CAST(sum(CASE WHEN sn.n_name = 'NATION_5'
         |      THEN $RevSql ELSE 0 END) AS BIGINT) AS num,
         |    CAST(sum($RevSql) AS BIGINT) AS den
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN region ON cn.n_regionkey = r_regionkey
         |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
         |  GROUP BY 1)
         |SELECT o_year, CAST(num AS DOUBLE) / 10000.0 AS nation_revenue,
         |  CAST(den AS DOUBLE) / 10000.0 AS total_revenue,
         |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mkt_share
         |FROM t ORDER BY o_year""".stripMargin,

    "q_priority_delay" ->
      """SELECT CASE
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) <= 30 THEN 'a_fast'
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) <= 90 THEN 'b_medium'
        |    ELSE 'c_slow' END AS delay_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)
}
