package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Ninety-first wave — supply-chain service metrics.
  *
  *  - **q_backlog_aging**: the open-order aging report at a snapshot
  *    date — orders placed before the snapshot whose LAST line ships
  *    after it, bucketed by order age (0-30 / 31-60 / 61-90 / 90+
  *    days), with exact open-revenue per bucket (only the still-open
  *    lines count). The bucket label derives from integer day
  *    arithmetic; revenue is the Breadth81 cent discipline.
  *  - **q_fill_rate**: weekly order fill rate — the share of each
  *    order-week's orders fully shipped within 14 days (max line lag
  *    per order ≤ 14), plus the mean worst-lag. Integer lags, one
  *    division per week.
  *  - **q_abc_xyz**: the ABC×XYZ inventory matrix — parts classed A/B/C
  *    by cumulative revenue share (exact integer cumsum over the
  *    revenue-ranked part table) × X/Y/Z by demand variability (CV of
  *    per-month quantity from integer sums; X < 0.5 ≤ Y < 1.0 ≤ Z),
  *    emitting the 9-cell matrix with part counts and revenue share.
  *
  * Scale shape: lineitem aggregates to order/part grain before joins;
  * the ABC ranking windows over the |parts|-bounded revenue table; CV
  * is exact integer sums per (part, month) then per part. */
object Breadth90 {

  private[graft] val Snapshot = "1998-01-01"
  private[graft] val FillDays = 14

  private def revExpr = (cents(col("l_extendedprice")) *
    (lit(100L) - cents(col("l_discount")))).as("__rev")

  /** Open-order aging buckets at the snapshot date. */
  private[graft] def backlogAging(orders: DataFrame, lineitem: DataFrame,
                                  snapshot: String = Snapshot): DataFrame = {
    val open = lineitem
      .filter(col("l_shipdate").cast("date") > lit(snapshot))
      .select(col("l_orderkey"), revExpr)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__nl"), sum(col("__rev")).as("__rev_i"))
    val aged = orders
      .filter(col("o_orderdate").cast("date") < lit(snapshot))
      .select(col("o_orderkey"),
        datediff(lit(snapshot).cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("__age"))
      .join(open, col("o_orderkey") === col("l_orderkey"))
    aged
      .withColumn("age_bucket",
        when(col("__age") <= 30, "0-30")
          .when(col("__age") <= 60, "31-60")
          .when(col("__age") <= 90, "61-90")
          .otherwise("90+"))
      .groupBy(col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("__nl")).as("n_open_lines"),
        (sum(col("__rev_i")).cast("double") / lit(10000.0))
          .as("open_revenue"))
      .orderBy(col("age_bucket").asc)
  }

  /** Weekly share of orders fully shipped within `fillDays`. */
  private[graft] def fillRate(orders: DataFrame, lineitem: DataFrame,
                              fillDays: Int = FillDays): DataFrame = {
    val lag = orders.select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("__od"))
      .join(lineitem.select(col("l_orderkey"),
        col("l_shipdate").cast("date").as("__sd")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("__od"))
      .agg(max(datediff(col("__sd"), col("__od")).cast("long"))
        .as("__maxlag"))
    lag
      .withColumn("order_week",
        date_trunc("week", col("__od")).cast("date"))
      .groupBy(col("order_week"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("__maxlag") <= fillDays, 1L).otherwise(0L))
          .as("n_filled"),
        sum(col("__maxlag")).as("__lagsum"))
      .select(col("order_week"), col("n_orders"), col("n_filled"),
        (col("n_filled").cast("double") / col("n_orders").cast("double"))
          .as("fill_rate"),
        (col("__lagsum").cast("double") / col("n_orders").cast("double"))
          .as("mean_worst_lag"))
      .orderBy(col("order_week").asc)
  }

  /** ABC (revenue cumshare) × XYZ (monthly-demand CV) matrix. */
  private[graft] def abcXyz(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"),
      date_trunc("month", col("l_shipdate").cast("date")).cast("date")
        .as("__m"),
      col("l_quantity").cast("long").as("__q"), revExpr)
    // per-part revenue + per-month quantity moments (exact ints)
    val pm = li.groupBy(col("l_partkey"), col("__m"))
      .agg(sum(col("__q")).as("__mq"), sum(col("__rev")).as("__mr"))
    val p = pm.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("__nm"),
        sum(col("__mq")).as("__sq"),
        sum(col("__mq") * col("__mq")).as("__sqq"),
        sum(col("__mr")).as("__pr"))
    // ABC: rank by revenue desc (tie partkey), exact integer cumshare
    // thresholds by cross-multiplication: cum*100 <= 80*total etc.
    val ordRev = Window.orderBy(col("__pr").desc, col("l_partkey").asc)
    val wAll = Window.partitionBy()
    val classed = p
      .withColumn("__cum", sum(col("__pr")).over(
        ordRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__pr")).over(wAll))
      // decimal cross-multiply: cum·100 at 10× the bench scale would
      // brush int64; decimal38 keeps the share comparison exact forever
      .withColumn("abc_class",
        when(col("__cum").cast("decimal(38,0)") * 100 <=
          col("__tot").cast("decimal(38,0)") * 80, "A")
          .when(col("__cum").cast("decimal(38,0)") * 100 <=
            col("__tot").cast("decimal(38,0)") * 95, "B")
          .otherwise("C"))
    // XYZ: CV² = n·Σq² / (Σq)² − 1/n … compared exactly by cross-
    // multiplication against 0.25 and 1.0 (CV thresholds 0.5, 1.0):
    // CV² < ¼  ⇔  4·(n·Σq²·n − Σq²... keep it simple with the exact
    // rational: cv2 = (n·sqq − sq²) · n / (n² · sq²)… both sides
    // integer: cv2 < t²  ⇔  n·(n·sqq − sq²) < t²·sq²·n² / n … use
    // (n·sqq − sq²)·n < t²·sq²·n ⇔ n·sqq − sq² < t²·sq². With t=1/2:
    // 4·(n·sqq − sq²) < sq²; with t=1: (n·sqq − sq²) < sq²·? … note
    // cv² = (n·sqq − sq²)/sq² when using mean = sq/n and sd over n:
    // cv² = var/mean² = ((sqq/n − (sq/n)²))/((sq/n)²) = (n·sqq − sq²)/sq².
    .withColumn("__v", col("__nm") * col("__sqq") - col("__sq") * col("__sq"))
      .withColumn("xyz_class",
        when(col("__v") * 4 < col("__sq") * col("__sq"), "X")
          .when(col("__v") < col("__sq") * col("__sq"), "Y")
          .otherwise("Z"))
    classed.groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("__pr")).cast("double") / lit(10000.0)).as("revenue"))
      .orderBy(col("abc_class").asc, col("xyz_class").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_backlog_aging" -> ((s, dir) =>
      backlogAging(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_fill_rate" -> ((s, dir) =>
      fillRate(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_abc_xyz" -> ((s, dir) => abcXyz(Tables.lineitem(s, dir))))

  private val revSql =
    """CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_backlog_aging" ->
      s"""WITH open_l AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl,
         |    CAST(sum($revSql) AS BIGINT) AS rev_i
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) > DATE '$Snapshot'
         |  GROUP BY 1),
         |aged AS (
         |  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
         |      DATE '$Snapshot') AS BIGINT) AS age, nl, rev_i
         |  FROM orders JOIN open_l ON o_orderkey = l_orderkey
         |  WHERE CAST(o_orderdate AS DATE) < DATE '$Snapshot')
         |SELECT CASE WHEN age <= 30 THEN '0-30'
         |    WHEN age <= 60 THEN '31-60'
         |    WHEN age <= 90 THEN '61-90' ELSE '90+' END AS age_bucket,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(nl) AS BIGINT) AS n_open_lines,
         |  CAST(sum(rev_i) AS DOUBLE) / 10000.0 AS open_revenue
         |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fill_rate" ->
      s"""WITH lag AS (
         |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         |    CAST(max(date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(l_shipdate AS DATE))) AS BIGINT) AS maxlag
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2)
         |SELECT CAST(date_trunc('week', od) AS DATE) AS order_week,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CASE WHEN maxlag <= $FillDays THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_filled,
         |  CAST(sum(CASE WHEN maxlag <= $FillDays THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fill_rate,
         |  CAST(sum(maxlag) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS mean_worst_lag
         |FROM lag GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_abc_xyz" ->
      s"""WITH li AS (
         |  SELECT l_partkey,
         |    CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
         |      AS m,
         |    CAST(l_quantity AS BIGINT) AS q, $revSql AS rev
         |  FROM lineitem),
         |pm AS (
         |  SELECT l_partkey, m, CAST(sum(q) AS BIGINT) AS mq,
         |    CAST(sum(rev) AS BIGINT) AS mr
         |  FROM li GROUP BY 1, 2),
         |p AS (
         |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS nm,
         |    CAST(sum(mq) AS BIGINT) AS sq,
         |    CAST(sum(mq * mq) AS BIGINT) AS sqq,
         |    CAST(sum(mr) AS BIGINT) AS pr
         |  FROM pm GROUP BY 1),
         |cl AS (
         |  SELECT *,
         |    CAST(sum(pr) OVER (ORDER BY pr DESC, l_partkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(pr) OVER () AS BIGINT) AS tot,
         |    nm * sqq - sq * sq AS v
         |  FROM p)
         |SELECT
         |  CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST(tot AS HUGEINT) * 80
         |      THEN 'A'
         |    WHEN CAST(cum AS HUGEINT) * 100 <= CAST(tot AS HUGEINT) * 95
         |      THEN 'B' ELSE 'C' END AS abc_class,
         |  CASE WHEN v * 4 < sq * sq THEN 'X'
         |    WHEN v < sq * sq THEN 'Y' ELSE 'Z' END AS xyz_class,
         |  CAST(count(*) AS BIGINT) AS n_parts,
         |  CAST(sum(pr) AS DOUBLE) / 10000.0 AS revenue
         |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
