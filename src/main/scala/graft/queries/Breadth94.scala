package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Ninety-fifth wave — calendar anchors and distribution fits.
  *
  *  - **q_turn_of_month**: the turn-of-month effect — day-bar cent
  *    moves bucketed by position in the month (first 2 trading days /
  *    last 2 / middle, per key-month by rank from both ends), mean
  *    move and up-share per bucket. Integer sums, two divisions.
  *  - **q_anchored_vwap**: month-anchored VWAP per key — the running
  *    Σ(price·qty)/Σqty RESTARTED at each calendar month's first tick
  *    (the trader's anchored-VWAP; q_vwap's day grain is the
  *    unanchored sibling). Integer numerators via running windows
  *    partitioned by (key, month); one division per row at emit.
  *  - **q_price_lognorm**: lognormal fit of order totals per market
  *    segment — ln(price) quantized to integer 1e-6 units per row
  *    (the corpus log-quantization discipline: the only accumulation
  *    is order-free int64), μ/σ from the moment sums, plus the
  *    implied median exp(μ) — 6-dp-rounded libm at emit only.
  *
  * Scale shape: turn-of-month rides the memoized bar grid with two
  * rank windows per key-month; anchored VWAP is one (key, month)
  * window over ticks; the lognormal fit is one map-side-combinable
  * groupBy after a broadcastable customer-dim join. */
object Breadth94 {

  /** Mean move + up-share by month-position bucket. */
  private[graft] def turnOfMonth(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val moves = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .withColumn("__m", date_trunc("month", col("day")).cast("date"))
    val wAsc = Window.partitionBy(col(keyCol), col("__m"))
      .orderBy(col("day").asc)
    val wDesc = Window.partitionBy(col(keyCol), col("__m"))
      .orderBy(col("day").desc)
    moves
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .withColumn("bucket",
        when(col("__ra") <= 2, "open")
          .when(col("__rd") <= 2, "close")
          .otherwise("mid"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_moves"),
        sum(col("__x")).as("__sx"),
        sum(when(col("__x") > 0, 1L).otherwise(0L)).as("__up"))
      .select(col("bucket"), col("n_moves"),
        (col("__sx").cast("double") / col("n_moves").cast("double"))
          .as("mean_move_cents"),
        (col("__up").cast("double") / col("n_moves").cast("double"))
          .as("up_share"))
      .orderBy(col("bucket").asc)
  }

  /** Month-anchored running VWAP per key (tick grain). */
  private[graft] def anchoredVwap(df: DataFrame, keyCol: String,
                                  tsCol: String, valCol: String,
                                  tieBreak: String,
                                  qtyJsonField: String): DataFrame = {
    val run = Window
      .partitionBy(col(keyCol),
        date_trunc("month", col(tsCol).cast("date")).cast("date"))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__q", coalesce(
        get_json_object(col("props"), s"$$.$qtyJsonField").cast("long"),
        lit(0L)))
      .withColumn("__spq", sum(col("__c") * col("__q")).over(run))
      .withColumn("__sq", sum(col("__q")).over(run))
      .select(col(keyCol), col(tieBreak), col(tsCol).cast("date").as("day"),
        when(col("__sq") > 0,
          col("__spq").cast("double") / col("__sq").cast("double") /
            lit(100.0)).as("anchored_vwap"))
      .orderBy(col(keyCol).asc, col(tieBreak).asc)
  }

  /** Lognormal μ/σ of order totals per market segment (1e-6-quantized
    * log moments). */
  private[graft] def priceLognorm(customer: DataFrame,
                                  orders: DataFrame): DataFrame = {
    val lq = floor(log(col("o_totalprice")) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val g = orders.filter(col("o_totalprice") > 0)
      .select(col("o_custkey"), lq.as("__l"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("__l")).as("__s1"),
        sum(col("__l") * col("__l")).as("__s2"))
    val nD = col("n_orders").cast("double")
    val mu = col("__s1").cast("double") / nD / lit(1000000.0)
    val varNum = nD * col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double")
    val sigma = sqrt(varNum) / nD / lit(1000000.0)
    g.select(col("c_mktsegment"), col("n_orders"),
      round(mu, 6).as("mu_ln"),
      when(varNum > 0, round(sigma, 6)).as("sigma_ln"),
      round(exp(mu), 6).as("median_price"))
      .orderBy(col("c_mktsegment").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_turn_of_month" -> ((s, dir) =>
      turnOfMonth(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_anchored_vwap" -> ((s, dir) =>
      anchoredVwap(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", "k")),
    "q_price_lognorm" -> ((s, dir) =>
      priceLognorm(Tables.customer(s, dir), Tables.orders(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_turn_of_month" ->
      s"""WITH ${Breadth67.movesSql},
         |mm AS (
         |  SELECT user_id, day, x,
         |    CAST(date_trunc('month', day) AS DATE) AS m
         |  FROM mv),
         |rk AS (
         |  SELECT x,
         |    row_number() OVER (PARTITION BY user_id, m ORDER BY day)
         |      AS ra,
         |    row_number() OVER (PARTITION BY user_id, m ORDER BY day DESC)
         |      AS rd
         |  FROM mm),
         |b AS (
         |  SELECT CASE WHEN ra <= 2 THEN 'open'
         |    WHEN rd <= 2 THEN 'close' ELSE 'mid' END AS bucket, x
         |  FROM rk)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_moves,
         |  CAST(CAST(sum(x) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS mean_move_cents,
         |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS up_share
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anchored_vwap" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, CAST(ts AS DATE) AS day,
        |    CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS m,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
        |      AS q
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, day,
        |    CAST(sum(c * q) OVER wr AS BIGINT) AS spq,
        |    CAST(sum(q) OVER wr AS BIGINT) AS sq
        |  FROM t
        |  WINDOW wr AS (PARTITION BY user_id, m ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, day,
        |  CASE WHEN sq > 0 THEN
        |    CAST(spq AS DOUBLE) / CAST(sq AS DOUBLE) / 100.0
        |  END AS anchored_vwap
        |FROM r ORDER BY user_id, event_id""".stripMargin,

    "q_price_lognorm" ->
      """WITH q AS (
        |  SELECT c_mktsegment,
        |    CAST(floor(ln(o_totalprice) * 1000000.0 + 0.5) AS BIGINT) AS l
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice > 0),
        |g AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(l) AS BIGINT) AS s1,
        |    CAST(sum(l * l) AS BIGINT) AS s2
        |  FROM q GROUP BY 1)
        |SELECT c_mktsegment, n AS n_orders,
        |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
        |    AS mu_ln,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0 THEN
        |    round(sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |      / CAST(n AS DOUBLE) / 1000000.0, 6)
        |  END AS sigma_ln,
        |  round(exp(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0), 6)
        |    AS median_price
        |FROM g ORDER BY 1""".stripMargin)
}
