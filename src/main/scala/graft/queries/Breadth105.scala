package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Hundred-sixth wave — weighted order statistics and customer
  * trajectory shapes over the warehouse tables.
  *
  *  - **q_weighted_median**: the quantity-weighted median line price
  *    per brand — the weighted-rank crossing (2·cumw vs Σw, integer
  *    cross-multiplied) over the price count table; no division until
  *    the cent→dollar emit.
  *  - **q_category_transitions**: which part type follows which — per
  *    customer, consecutive-order (date, key tie-break) dominant-type
  *    pairs, counted globally, top 20. The sequence grain is
  *    |orders|-bounded; the dominant type per order is a rank-1 window
  *    over the |order×type| aggregate.
  *  - **q_spend_trajectory**: is each customer spending more or less —
  *    per-customer OLS slope of order total (cents) over the order
  *    index, from exact int64 moments; emitted as the rising/falling/
  *    flat census plus the exact mean slope (one division).
  *
  * Scale shape: all three collapse to order grain immediately; the
  * weighted median ranks a |brand×price| count table; transitions and
  * trajectories are per-customer windows over |orders| rows. */
object Breadth105 {

  private val TransTopK = 20

  /** Quantity-weighted median extended price per brand. */
  private[graft] def weightedMedian(part: DataFrame,
                                    lineitem: DataFrame): DataFrame = {
    val vc = lineitem
      .select(col("l_partkey"), cents(col("l_extendedprice")).as("__v"),
        col("l_quantity").cast("long").as("__w"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("__v"))
      .agg(sum(col("__w")).as("__cw"), count(lit(1)).as("__lines"))
    val ord = Window.partitionBy(col("p_brand")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col("p_brand"))
    vc.withColumn("__pre", coalesce(sum(col("__cw")).over(ord), lit(0L)))
      .withColumn("__tot", sum(col("__cw")).over(all))
      .withColumn("__n", sum(col("__lines")).over(all))
      // the crossing value: first v where 2·(pre+cw) ≥ Σw
      .groupBy(col("p_brand"))
      .agg(max(col("__n")).as("n_lines"), max(col("__tot")).as("total_qty"),
        max(when(col("__pre") * 2L < col("__tot") &&
          (col("__pre") + col("__cw")) * 2L >= col("__tot"), col("__v")))
          .as("__wm"))
      .select(col("p_brand"), col("n_lines"), col("total_qty"),
        (col("__wm").cast("double") / lit(100.0)).as("weighted_median"))
      .orderBy(col("p_brand").asc)
  }

  /** Dominant part type per order (by quantity, type tie-break). */
  private def orderType(orders: DataFrame, lineitem: DataFrame,
                        part: DataFrame): DataFrame = {
    val byType = lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("__q"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_type"))
      .agg(sum(col("__q")).as("__tq"))
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("__tq").desc, col("p_type").asc)
    byType.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("p_type"))
  }

  /** Global top-20 consecutive-order type transitions. */
  private[graft] def categoryTransitions(orders: DataFrame,
                                         lineitem: DataFrame,
                                         part: DataFrame,
                                         k: Int = TransTopK): DataFrame = {
    val seq = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orderType(orders, lineitem, part)
      .withColumn("__prev", lag(col("p_type"), 1).over(seq))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col("p_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("n_transitions").desc, col("from_type").asc,
        col("to_type").asc)
      .limit(k)
  }

  /** Rising/falling/flat census of per-customer spend OLS slopes. */
  private[graft] def spendTrajectory(orders: DataFrame): DataFrame = {
    val seq = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val idx = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("__c"))
      .withColumn("__i", row_number().over(seq).cast("long"))
    val g = idx.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("__n"), sum(col("__i")).as("__si"),
        sum(col("__i") * col("__i")).as("__sii"),
        sum(col("__c")).as("__sy"),
        sum(col("__i") * col("__c")).as("__siy"))
      .filter(col("__n") > 1)
    // slope sign decided on the exact int64 numerator (den > 0 always)
    val num = col("__n") * col("__siy") - col("__si") * col("__sy")
    val den = col("__n") * col("__sii") - col("__si") * col("__si")
    val slope = num.cast("double") / den.cast("double")
    g.select(col("o_custkey"), num.as("__num"), slope.as("__slope"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("__num") > 0, 1L).otherwise(0L)).as("n_rising"),
        sum(when(col("__num") < 0, 1L).otherwise(0L)).as("n_falling"),
        sum(when(col("__num") === 0, 1L).otherwise(0L)).as("n_flat"),
        (sum(floor(col("__slope") * lit(1.0e6) + lit(0.5)).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / lit(1.0e6) /
          lit(100.0)).as("mean_slope_dollars"))
  }

  val defs: Map[String, Q] = Map(
    "q_weighted_median" -> ((s, dir) =>
      weightedMedian(Tables.part(s, dir), Tables.lineitem(s, dir))),
    "q_category_transitions" -> ((s, dir) =>
      categoryTransitions(Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q_spend_trajectory" -> ((s, dir) =>
      spendTrajectory(Tables.orders(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_weighted_median" ->
      """WITH vc AS (
        |  SELECT p_brand,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cw,
        |    CAST(count(*) AS BIGINT) AS lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT p_brand, v, cw, lines,
        |    CAST(COALESCE(sum(cw) OVER (PARTITION BY p_brand ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre,
        |    CAST(sum(cw) OVER (PARTITION BY p_brand) AS BIGINT) AS tot,
        |    CAST(sum(lines) OVER (PARTITION BY p_brand) AS BIGINT) AS n
        |  FROM vc)
        |SELECT p_brand, CAST(max(n) AS BIGINT) AS n_lines,
        |  CAST(max(tot) AS BIGINT) AS total_qty,
        |  CAST(max(CASE WHEN pre * 2 < tot AND (pre + cw) * 2 >= tot
        |    THEN v END) AS DOUBLE) / 100.0 AS weighted_median
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_category_transitions" ->
      s"""WITH bt AS (
         |  SELECT l_orderkey, p_type,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tq
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2),
         |dom AS (
         |  SELECT l_orderkey, p_type FROM (
         |    SELECT l_orderkey, p_type,
         |      row_number() OVER (PARTITION BY l_orderkey
         |        ORDER BY tq DESC, p_type) AS rn
         |    FROM bt)
         |  WHERE rn = 1),
         |seq AS (
         |  SELECT o_custkey, p_type,
         |    lag(p_type) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS prev
         |  FROM dom JOIN orders ON l_orderkey = o_orderkey)
         |SELECT prev AS from_type, p_type AS to_type,
         |  CAST(count(*) AS BIGINT) AS n_transitions
         |FROM seq WHERE prev IS NOT NULL
         |GROUP BY 1, 2
         |ORDER BY n_transitions DESC, from_type, to_type
         |LIMIT $TransTopK""".stripMargin,

    "q_spend_trajectory" ->
      """WITH idx AS (
        |  SELECT o_custkey,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS i
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(i) AS BIGINT) AS si,
        |    CAST(sum(i * i) AS BIGINT) AS sii,
        |    CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(i * c) AS BIGINT) AS siy
        |  FROM idx GROUP BY 1 HAVING count(*) > 1),
        |s AS (
        |  SELECT CAST(n * siy - si * sy AS BIGINT) AS num,
        |    CAST(n * siy - si * sy AS DOUBLE)
        |      / CAST(n * sii - si * si AS DOUBLE) AS slope
        |  FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rising,
        |  CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_falling,
        |  CAST(sum(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flat,
        |  CAST(CAST(sum(CAST(floor(slope * 1000000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
        |    / 100.0 AS mean_slope_dollars
        |FROM s""".stripMargin)
}
