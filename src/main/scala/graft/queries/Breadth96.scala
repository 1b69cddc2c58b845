package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Num.cents

/** Ninety-seventh wave — the remaining classic warehouse join shapes,
  * part 2 (the TPC-H Q2/Q9/Q15/Q17 skeletons on this schema — no
  * partsupp table ships, so the lineitem history stands in as the
  * part×supplier price source where Q2/Q17 would read partsupp).
  *
  *  - **q_min_cost_supplier** (Q2): cheapest supplier per small part —
  *    for each part of one type under a size cap, the supplier(s)
  *    achieving the minimum observed unit price. The correlated-min
  *    shape: per-(part,supplier) min unit price, then a min-per-part
  *    join back on equality. Unit price = cents(extendedprice) /
  *    quantity, ONE double division per row (no accumulation — min
  *    over identical doubles is order-free), quantities integral.
  *  - **q_product_profit** (Q9): profit by supplier nation × order
  *    year over 'red%' parts, cost modeled as 50% of retail per unit:
  *    profit_i = rev_i − qty·retail_cents·50 — all int64, one divide.
  *  - **q_top_supplier** (Q15): the top revenue supplier(s) of one
  *    quarter — per-supplier exact revenue, kept where it equals the
  *    scalar max (broadcast 1-row join), ties preserved.
  *  - **q_small_qty_revenue** (Q17): revenue locked in small-quantity
  *    lines — lines of one brand's parts whose quantity is below 20%
  *    of that part's average, compared exactly by cross-multiplying
  *    (5·qty·n < Σqty), emitted as avg weekly revenue (÷52).
  *
  * Scale shape: part filters broadcast; the Q2 min-per-part and Q17
  * avg-per-part are |parts|-bounded aggregates joined back without
  * row explosion; the Q15 scalar max is a broadcast single row; Q9
  * shuffles lineitem once on orderkey after collapsing dims. */
object Breadth96 {

  /** Cheapest observed supplier per part (type + size screened). */
  private[graft] def minCostSupplier(part: DataFrame, supplier: DataFrame,
                                     nation: DataFrame, lineitem: DataFrame,
                                     pType: String, maxSize: Int): DataFrame = {
    val pk = part.filter(col("p_type") === pType &&
        col("p_size") <= maxSize)
      .select(col("p_partkey"), col("p_name"), col("p_size"))
    val unit = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        (cents(col("l_extendedprice")).cast("double") /
          col("l_quantity").cast("long").cast("double")).as("__u"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("p_size"),
        col("l_suppkey"))
      .agg(min(col("__u")).as("__su"))
    val best = unit.groupBy(col("p_partkey").as("__bk"))
      .agg(min(col("__su")).as("__bu"))
    unit.join(best, col("p_partkey") === col("__bk") &&
        col("__su") === col("__bu"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"),
        col("s_name"))), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("s_name"), col("n_name"),
        (col("__su") / lit(100.0)).as("min_unit_price"))
      .orderBy(col("p_partkey").asc, col("s_name").asc)
  }

  /** Exact profit by supplier nation × order year over one part set. */
  private[graft] def productProfit(part: DataFrame, supplier: DataFrame,
                                   nation: DataFrame, orders: DataFrame,
                                   lineitem: DataFrame,
                                   namePrefix: String): DataFrame = {
    val pk = part.filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("__rc"))
    val supp = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("__q"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rev"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("__profit",
        col("__rev") - col("__q") * col("__rc") * lit(50L))
    profit
      .join(orders.select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("__profit")).as("__p"))
      .select(col("n_name"), col("o_year"), col("n_lines"),
        (col("__p").cast("double") / lit(10000.0)).as("profit"))
      .orderBy(col("n_name").asc, col("o_year").desc)
  }

  /** Supplier(s) with the max exact revenue over [start, start+3mo). */
  private[graft] def topSupplier(supplier: DataFrame, lineitem: DataFrame,
                                 start: String): DataFrame = {
    val end = add_months(lit(start).cast("date"), 3)
    val rev = lineitem
      .filter(col("l_shipdate").cast("date") >= lit(start).cast("date") &&
        col("l_shipdate").cast("date") < end)
      .select(col("l_suppkey"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("__rev")).as("__rev_i"))
    val top = rev.agg(max(col("__rev_i")).as("__max_i"))
    rev.join(broadcast(top), col("__rev_i") === col("__max_i"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("__rev_i").cast("double") / lit(10000.0)).as("total_revenue"))
      .orderBy(col("s_suppkey").asc)
  }

  /** Avg weekly revenue stuck in sub-20%-of-average-quantity lines. */
  private[graft] def smallQtyRevenue(part: DataFrame, lineitem: DataFrame,
                                     brand: String): DataFrame = {
    val pk = part.filter(col("p_brand") === brand).select(col("p_partkey"))
    val li = lineitem
      .select(col("l_partkey"), col("l_quantity").cast("long").as("__q"),
        cents(col("l_extendedprice")).as("__ep"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
    val avg = li.groupBy(col("l_partkey").as("__pk"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__sq"))
    // qty < 0.2·avg ⟺ 5·qty·n < Σqty — exact in int64, no division
    li.join(avg, col("l_partkey") === col("__pk"))
      .filter(col("__q") * lit(5L) * col("__n") < col("__sq"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum(col("__ep")).as("__rev"))
      .select(col("n_small_lines"),
        (col("__rev").cast("double") / lit(100.0) / lit(52.0))
          .as("avg_weekly_revenue"))
  }

  val defs: Map[String, Q] = Map(
    "q_min_cost_supplier" -> ((s, dir) =>
      minCostSupplier(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.lineitem(s, dir), "SMALL", 10)),
    "q_product_profit" -> ((s, dir) =>
      productProfit(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "red")),
    "q_top_supplier" -> ((s, dir) =>
      topSupplier(Tables.supplier(s, dir), Tables.lineitem(s, dir),
        "1997-01-01")),
    "q_small_qty_revenue" -> ((s, dir) =>
      smallQtyRevenue(Tables.part(s, dir), Tables.lineitem(s, dir),
        "Brand#17")))

  val oracle: Map[String, String] = Map(
    "q_min_cost_supplier" ->
      """WITH unit AS (
        |  SELECT p_partkey, p_name, p_size, l_suppkey,
        |    min(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      AS DOUBLE) / CAST(CAST(l_quantity AS BIGINT) AS DOUBLE))
        |      AS su
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'SMALL' AND p_size <= 10
        |  GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT p_partkey AS bk, min(su) AS bu FROM unit GROUP BY 1)
        |SELECT p_partkey, p_name, p_size, s_name, n_name,
        |  su / 100.0 AS min_unit_price
        |FROM unit
        |JOIN best ON p_partkey = bk AND su = bu
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY p_partkey, s_name""".stripMargin,

    "q_product_profit" ->
      """WITH pr AS (
        |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))
        |      - CAST(l_quantity AS BIGINT)
        |        * CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) * 50
        |      AS profit_i
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE p_name LIKE 'red%')
        |SELECT n_name, o_year, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(profit_i) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS profit
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,

    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |      AS BIGINT) AS rev_i
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        |  GROUP BY 1)
        |SELECT l_suppkey AS s_suppkey, s_name,
        |  CAST(rev_i AS DOUBLE) / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_i = (SELECT max(rev_i) FROM rev)
        |ORDER BY 1""".stripMargin,

    "q_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS ep
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#17'),
        |a AS (
        |  SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq
        |  FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
        |  CAST(CAST(sum(ep) AS BIGINT) AS DOUBLE) / 100.0 / 52.0
        |    AS avg_weekly_revenue
        |FROM li JOIN a ON l_partkey = pk
        |WHERE q * 5 * n < sq""".stripMargin)
}
