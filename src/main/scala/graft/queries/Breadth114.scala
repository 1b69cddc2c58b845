package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, cents}

/** Hundred-fifteenth wave — retail order-book shape: basket sizes,
  * price dispersion, repurchase loyalty.
  *
  *  - **q_basket_size_dist**: the lines-per-order distribution with
  *    exact mean basket value per size bucket (cent sums, one divide).
  *  - **q_price_dispersion**: per part, (max − min)/median of its line
  *    prices — the median rank-exact from the per-part count table,
  *    the spread ratio ONE division of exact ints; top 20 most
  *    dispersed (ties by part key).
  *  - **q_repurchase_rate**: parts bought by the same customer in ≥2
  *    DISTINCT orders — repurchase share per part over its buyers,
  *    top 20 by (share, buyers). The (customer, part) grain collapses
  *    from lineitem×orders before any ranking.
  *
  * Scale shape: basket stats are one |orders| aggregate; dispersion
  * ranks per-part count tables (|part×price|-bounded); repurchase is
  * two grouped aggregates on (custkey, partkey). */
object Breadth114 {

  private val TopK = 20

  /** Lines-per-order histogram with mean basket value per size. */
  private[graft] def basketSizeDist(lineitem: DataFrame): DataFrame = {
    val per = lineitem
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("__c"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("basket_size"), sum(col("__c")).as("__v"))
    per.groupBy(col("basket_size"))
      .agg(count(lit(1)).as("n_orders"), sum(col("__v")).as("__sv"))
      .select(col("basket_size"), col("n_orders"),
        (d(col("__sv")) / d(col("n_orders")) / lit(100.0))
          .as("mean_basket_value"))
      .orderBy(col("basket_size").asc)
  }

  /** Per-part price spread over the rank-exact median, top 20. */
  private[graft] def priceDispersion(lineitem: DataFrame,
                                     k: Int = TopK): DataFrame = {
    val vc = lineitem
      .select(col("l_partkey"), cents(col("l_extendedprice")).as("__v"))
      .groupBy(col("l_partkey"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col("l_partkey")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col("l_partkey"))
    val t = vc
      .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(all))
      .withColumn("__klo", shiftright(col("__n") + 1L, 1))
      .withColumn("__khi", shiftright(col("__n"), 1) + 1L)
    t.groupBy(col("l_partkey"))
      .agg(max(col("__n")).as("n_lines"),
        min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
        max(when(col("__klo") > col("__pre") &&
          col("__klo") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__m1"),
        max(when(col("__khi") > col("__pre") &&
          col("__khi") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__m2"))
      .filter(col("n_lines") >= 3 && col("__m1") + col("__m2") > 0)
      .select(col("l_partkey"), col("n_lines"),
        (d(col("__hi") - col("__lo")) / lit(100.0)).as("price_range"),
        (d(col("__m1") + col("__m2")) / lit(200.0)).as("median_price"),
        (d((col("__hi") - col("__lo")) * 2L) /
          d(col("__m1") + col("__m2"))).as("dispersion"))
      .orderBy(col("dispersion").desc, col("l_partkey").asc)
      .limit(k)
  }

  /** Repurchase share per part over its distinct buyers, top 20. */
  private[graft] def repurchaseRate(orders: DataFrame, lineitem: DataFrame,
                                    k: Int = TopK): DataFrame = {
    val cp = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"), col("o_custkey"))
      .agg(countDistinct(col("l_orderkey")).as("__n_ord"))
    cp.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_buyers"),
        sum(when(col("__n_ord") >= 2, 1L).otherwise(0L))
          .as("n_repurchasers"))
      .filter(col("n_buyers") >= 5)
      .select(col("l_partkey"), col("n_buyers"), col("n_repurchasers"),
        (d(col("n_repurchasers")) / d(col("n_buyers")))
          .as("repurchase_rate"))
      .orderBy(col("repurchase_rate").desc, col("n_buyers").desc,
        col("l_partkey").asc)
      .limit(k)
  }

  val defs: Map[String, Q] = Map(
    "q_basket_size_dist" -> ((s, dir) =>
      basketSizeDist(Tables.lineitem(s, dir))),
    "q_price_dispersion" -> ((s, dir) =>
      priceDispersion(Tables.lineitem(s, dir))),
    "q_repurchase_rate" -> ((s, dir) =>
      repurchaseRate(Tables.orders(s, dir), Tables.lineitem(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_basket_size_dist" ->
      """WITH per AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1)
        |SELECT basket_size, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 100.0 AS mean_basket_value
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_price_dispersion" ->
      s"""WITH vc AS (
         |  SELECT l_partkey,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |rk AS (
         |  SELECT l_partkey, v, cnt,
         |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY l_partkey
         |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS pre,
         |    CAST(sum(cnt) OVER (PARTITION BY l_partkey) AS BIGINT) AS n
         |  FROM vc),
         |g AS (
         |  SELECT l_partkey, CAST(max(n) AS BIGINT) AS n_lines,
         |    CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
         |    CAST(max(CASE WHEN (n + 1) // 2 > pre
         |      AND (n + 1) // 2 <= pre + cnt THEN v END) AS BIGINT) AS m1,
         |    CAST(max(CASE WHEN n // 2 + 1 > pre
         |      AND n // 2 + 1 <= pre + cnt THEN v END) AS BIGINT) AS m2
         |  FROM rk GROUP BY 1
         |  HAVING max(n) >= 3)
         |SELECT l_partkey, n_lines,
         |  CAST(hi - lo AS DOUBLE) / 100.0 AS price_range,
         |  CAST(m1 + m2 AS DOUBLE) / 200.0 AS median_price,
         |  CAST((hi - lo) * 2 AS DOUBLE) / CAST(m1 + m2 AS DOUBLE)
         |    AS dispersion
         |FROM g WHERE m1 + m2 > 0
         |ORDER BY dispersion DESC, l_partkey LIMIT $TopK""".stripMargin,

    "q_repurchase_rate" ->
      s"""WITH cp AS (
         |  SELECT l_partkey, o_custkey,
         |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |g AS (
         |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_buyers,
         |    CAST(sum(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_repurchasers
         |  FROM cp GROUP BY 1 HAVING count(*) >= 5)
         |SELECT l_partkey, n_buyers, n_repurchasers,
         |  CAST(n_repurchasers AS DOUBLE) / CAST(n_buyers AS DOUBLE)
         |    AS repurchase_rate
         |FROM g
         |ORDER BY repurchase_rate DESC, n_buyers DESC, l_partkey
         |LIMIT $TopK""".stripMargin)
}
