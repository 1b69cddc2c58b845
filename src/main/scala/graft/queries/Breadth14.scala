package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Num.cents

/** Fourteenth relational wave — cross-series structure:
  *
  *  - the pairwise correlation matrix of daily closes (the crypto
  *    dashboard's correlation heatmap, and the feature-selection step
  *    before portfolio/risk math);
  *  - volume-weighted average price, with the tick's JSON `k` field as
  *    the quantity (the reference stores tick metadata as JSON props —
  *    `etl/crypto_etl.py:82` — so the weight comes through the JSON
  *    path, not a dedicated column).
  *
  * Exact parity: Pearson r is assembled from INTEGER co-moments of cent
  * closes (n·Σxy − Σx·Σy over sqrt of integer variance terms — sqrt is
  * IEEE-exact, the division runs once on identical operands); VWAP is
  * Σ(cents·k)/Σk, both integer sums. The pair join aligns the
  * |keys·days|-sized bar table on the day grid — Σ per-day |keys|², not
  * ticks² — and every sum downstream of it is integer, so join order
  * cannot move a bit.
  */
object Breadth14 {

  /** Daily close (integer cents) per key — the aligned series the pair
    * join runs on. Tie-safe last-of-day via max (ts, tieBreak) struct
    * ordering is avoided on purpose: the full-frame window is the house
    * q_ohlc form and keeps the tie rule identical to the other bars. */
  private[graft] def dailyCloseCents(df: DataFrame, keyCol: String,
                                     tsCol: String, valCol: String,
                                     tieBreak: String): DataFrame =
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))

  /** Pairwise Pearson correlation of daily closes across series keys,
    * over days where BOTH series closed (inner day-grid join). Pairs are
    * oriented key_a < key_b; pairs with fewer than `minDays` shared days
    * or a constant side (zero variance) are unscored.
    *
    * The matrix is restricted to the `topKeys` most-active keys (by
    * closed-day count, key as tie-break) — the heatmap contract, and the
    * scale guard: all-pairs-all-keys is |keys|²·|days| and melts at a
    * million keys, while top-N² stays constant; the key filter is a
    * broadcast semi-join of N ids against the |keys·days|-sized bar
    * table. */
  private[graft] def pairCorrelation(df: DataFrame, keyCol: String,
                                     tsCol: String, valCol: String,
                                     tieBreak: String, minDays: Int,
                                     topKeys: Int): DataFrame = {
    val allBars = dailyCloseCents(df, keyCol, tsCol, valCol, tieBreak)
    val top = allBars.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__nd"))
      .orderBy(col("__nd").desc, col(keyCol).asc)
      .limit(topKeys)
      .select(col(keyCol))
    val bars = allBars.join(broadcast(top), Seq(keyCol), "left_semi")
    val a = bars.select(col(keyCol).as("key_a"), col("day"), col("close").as("x"))
    val b = bars.select(col(keyCol).as("key_b"), col("day"), col("close").as("y"))
    val joined = a.join(b, Seq("day")).filter(col("key_a") < col("key_b"))
    val g = joined.groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"),
        sum(col("x") * col("y")).as("__sxy"))
    val num = g("n_days") * col("__sxy") - col("__sx") * col("__sy")
    val vx = g("n_days") * col("__sxx") - col("__sx") * col("__sx")
    val vy = g("n_days") * col("__syy") - col("__sy") * col("__sy")
    g.withColumn("corr_close",
        when(col("n_days") >= minDays && vx > 0 && vy > 0,
          num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))))
      .select(col("key_a"), col("key_b"), col("n_days"), col("corr_close"))
  }

  /** Per-key-per-day VWAP with the JSON `k` prop as quantity: integer
    * Σ(cents·k) / Σk, one terminal division. Zero total quantity (every
    * tick k=0) leaves the day unscored rather than dividing by zero. */
  private[graft] def vwap(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, qtyJsonField: String): DataFrame =
    df.withColumn("__day", col(tsCol).cast("date"))
      .withColumn("__c", cents(col(valCol)))
      .withColumn("__q",
        get_json_object(col("props"), s"$$.$qtyJsonField").cast("long"))
      .groupBy(col(keyCol), col("__day").as("day"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("__q")).as("total_qty"),
        when(sum(col("__q")) > 0,
          sum(col("__c") * col("__q")).cast("double") /
            sum(col("__q")).cast("double") / lit(100.0))
          .as("vwap"))

  val defs: Map[String, Q] = Map(
    // Correlation heatmap input: all key pairs sharing >= 5 closed days.
    "q_pair_corr" -> ((s, dir) =>
      pairCorrelation(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", minDays = 5, topKeys = 20)
        .orderBy(col("key_a").asc, col("key_b").asc)),

    // Daily VWAP weighted by the JSON quantity prop.
    "q_vwap" -> ((s, dir) =>
      vwap(Tables.events(s, dir), "user_id", "ts", "value", "k")
        .orderBy(col("user_id").asc, col("day").asc)))

  val oracle: Map[String, String] = Map(
    "q_pair_corr" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |allbars AS (
        |  SELECT user_id, day, max(cl) AS close
        |  FROM (
        |    SELECT user_id, day,
        |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |top AS (
        |  SELECT user_id FROM allbars GROUP BY user_id
        |  ORDER BY count(*) DESC, user_id LIMIT 20),
        |bars AS (
        |  SELECT * FROM allbars WHERE user_id IN (SELECT user_id FROM top)),
        |p AS (
        |  SELECT a.user_id AS key_a, b.user_id AS key_b,
        |    count(*) AS n_days,
        |    CAST(sum(a.close) AS BIGINT) AS sx, CAST(sum(b.close) AS BIGINT) AS sy,
        |    CAST(sum(a.close * a.close) AS BIGINT) AS sxx,
        |    CAST(sum(b.close * b.close) AS BIGINT) AS syy,
        |    CAST(sum(a.close * b.close) AS BIGINT) AS sxy
        |  FROM bars a JOIN bars b ON a.day = b.day AND a.user_id < b.user_id
        |  GROUP BY 1, 2)
        |SELECT key_a, key_b, n_days,
        |  CASE WHEN n_days >= 5 AND n_days * sxx - sx * sx > 0
        |            AND n_days * syy - sy * sy > 0
        |    THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
        |  END AS corr_close
        |FROM p ORDER BY key_a, key_b""".stripMargin,

    "q_vwap" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS q
        |  FROM events)
        |SELECT user_id, day, count(*) AS n_ticks,
        |  CAST(sum(q) AS BIGINT) AS total_qty,
        |  CASE WHEN sum(q) > 0
        |    THEN CAST(sum(c * q) AS DOUBLE) / CAST(sum(q) AS DOUBLE) / 100.0
        |  END AS vwap
        |FROM t GROUP BY user_id, day ORDER BY user_id, day""".stripMargin)
}
