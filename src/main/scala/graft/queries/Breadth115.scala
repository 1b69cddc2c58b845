package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, cents}

/** Hundred-sixteenth wave — warehouse temporal shape: SKU seasonality,
  * spend-quantile drift, discount response.
  *
  *  - **q_type_seasonality**: per (part type, ship month-of-year), the
  *    quantity share index vs the type's flat-month baseline —
  *    cross-multiplied exact (12·month_qty vs total_qty), emitted as
  *    one division.
  *  - **q_spend_quantile_trend**: per order month, rank-exact p50/p90
  *    of order totals — the distribution-drift report over time, no
  *    approximate percentile.
  *  - **q_discount_effect**: per discount level (the 2-dp domain is
  *    exact), line count, mean quantity and exact revenue share —
  *    does discount move volume.
  *
  * Scale shape: all three collapse to small-domain groups (type×12,
  * month, |discount levels|) after one fact pass; quantiles rank
  * per-month count tables. */
object Breadth115 {

  /** Quantity share index per (type, ship month-of-year). */
  private[graft] def typeSeasonality(part: DataFrame,
                                     lineitem: DataFrame): DataFrame = {
    val base = lineitem
      .select(col("l_partkey"),
        month(col("l_shipdate").cast("date")).cast("long").as("ship_month"),
        col("l_quantity").cast("long").as("__q"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("ship_month"))
      .agg(sum(col("__q")).as("__mq"))
    val tot = Window.partitionBy(col("p_type"))
    base
      .withColumn("__tq", sum(col("__mq")).over(tot))
      .select(col("p_type"), col("ship_month"), col("__mq").as("month_qty"),
        (d(col("__mq") * 12L) / d(col("__tq"))).as("season_index"))
      .orderBy(col("p_type").asc, col("ship_month").asc)
  }

  /** Rank-exact p50/p90 of order totals per order month. */
  private[graft] def spendQuantileTrend(orders: DataFrame): DataFrame = {
    val vc = orders
      .select(date_trunc("month", col("o_orderdate")).cast("date")
        .as("order_month"), cents(col("o_totalprice")).as("__v"))
      .groupBy(col("order_month"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col("order_month"))
      .orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col("order_month"))
    def pick(k: Column) =
      max(when(k > col("__pre") && k <= col("__pre") + col("__cnt"),
        col("__v")))
    val t = vc
      .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(all))
      .withColumn("__k50", shiftright(col("__n") + 1L, 1))
      .withColumn("__k90",
        floor((col("__n") * 9L + 9L).cast("double") / lit(10.0))
          .cast("long"))
    t.groupBy(col("order_month"))
      .agg(max(col("__n")).as("n_orders"),
        (pick(col("__k50")).cast("double") / lit(100.0)).as("p50_total"),
        (pick(col("__k90")).cast("double") / lit(100.0)).as("p90_total"))
      .orderBy(col("order_month").asc)
  }

  /** Volume / revenue response per exact discount level. */
  private[graft] def discountEffect(lineitem: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val g = lineitem
      .select(cents(col("l_discount")).as("disc_pct"),
        col("l_quantity").cast("long").as("__q"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rev"))
      .groupBy(col("disc_pct"))
      .agg(count(lit(1)).as("n_lines"), sum(col("__q")).as("__sq"),
        sum(col("__rev")).as("__sr"))
    g.withColumn("__tr", sum(col("__sr")).over(all))
      .select(col("disc_pct"), col("n_lines"),
        (d(col("__sq")) / d(col("n_lines"))).as("mean_qty"),
        (d(col("__sr")) / lit(10000.0)).as("revenue"),
        (d(col("__sr")) / d(col("__tr"))).as("revenue_share"))
      .orderBy(col("disc_pct").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_type_seasonality" -> ((s, dir) =>
      typeSeasonality(Tables.part(s, dir), Tables.lineitem(s, dir))),
    "q_spend_quantile_trend" -> ((s, dir) =>
      spendQuantileTrend(Tables.orders(s, dir))),
    "q_discount_effect" -> ((s, dir) =>
      discountEffect(Tables.lineitem(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_type_seasonality" ->
      """WITH base AS (
        |  SELECT p_type,
        |    CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_month,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_type, ship_month, mq AS month_qty,
        |  CAST(mq * 12 AS DOUBLE)
        |    / CAST(CAST(sum(mq) OVER (PARTITION BY p_type) AS BIGINT)
        |      AS DOUBLE) AS season_index
        |FROM base ORDER BY 1, 2""".stripMargin,

    "q_spend_quantile_trend" ->
      """WITH vc AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
        |      AS order_month,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |rk AS (
        |  SELECT order_month, v, cnt,
        |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY order_month
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS pre,
        |    CAST(sum(cnt) OVER (PARTITION BY order_month) AS BIGINT) AS n
        |  FROM vc)
        |SELECT order_month, CAST(max(n) AS BIGINT) AS n_orders,
        |  CAST(max(CASE WHEN (n + 1) // 2 > pre
        |    AND (n + 1) // 2 <= pre + cnt THEN v END) AS DOUBLE) / 100.0
        |    AS p50_total,
        |  CAST(max(CASE WHEN (n * 9 + 9) // 10 > pre
        |    AND (n * 9 + 9) // 10 <= pre + cnt THEN v END) AS DOUBLE)
        |    / 100.0 AS p90_total
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_discount_effect" ->
      """WITH g AS (
        |  SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
        |      AS disc_pct,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |      AS BIGINT) AS sr
        |  FROM lineitem GROUP BY 1)
        |SELECT disc_pct, n_lines,
        |  CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_qty,
        |  CAST(sr AS DOUBLE) / 10000.0 AS revenue,
        |  CAST(sr AS DOUBLE) / CAST(CAST(sum(sr) OVER () AS BIGINT)
        |    AS DOUBLE) AS revenue_share
        |FROM g ORDER BY 1""".stripMargin)
}
