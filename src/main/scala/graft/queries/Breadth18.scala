package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Eighteenth relational wave — completing the window-expressible
  * indicator set:
  *
  *  - stochastic %K (where the price sits inside the prior window's
  *    range — the other classic overbought/oversold oscillator);
  *  - ATR, average true range over daily bars (the volatility unit
  *    position sizing is quoted in).
  *
  * Both stay exact: %K is one division of integer cent differences; the
  * true range is a max of integer cent spreads and ATR is its windowed
  * integer sum over one division. (EMA-smoothed variants — Wilder ATR,
  * MACD — are RECURSIVE and deliberately out: a recurrence per row is
  * not window-expressible and would force a sequential fold; the
  * simple-average forms are the distributed-friendly ones.)
  */
object Breadth18 {

  /** Stochastic %K against the `w` ticks strictly before each row
    * (prior-window stance shared with the Bollinger screen): 100·(c −
    * lo)/(hi − lo), unscored when the prior window is flat (hi = lo) or
    * short. */
  private[graft] def stochasticK(df: DataFrame, keyCol: String, tsCol: String,
                                 valCol: String, tieBreak: String,
                                 w: Int): DataFrame = {
    val frame = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(-w, -1)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__lo", min(col("__c")).over(frame))
      .withColumn("__hi", max(col("__c")).over(frame))
      .filter(col("__n") === w)
      .withColumn("pct_k",
        when(col("__hi") > col("__lo"),
          lit(100.0) * (col("__c") - col("__lo")).cast("double") /
            (col("__hi") - col("__lo")).cast("double")))
      .select(col(keyCol), col(tieBreak), col(valCol),
        col("__lo").as("win_lo"), col("__hi").as("win_hi"), col("pct_k"))
  }

  /** Average true range over the trailing `w` daily bars (simple
    * average, integer cents): TR = max(high−low, |high−prev_close|,
    * |low−prev_close|); first bar per key (no prev close) uses
    * high−low. Runs on the |key·days|-sized bar table. */
  private[graft] def atr(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String, w: Int): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val frame = days.rowsBetween(-(w - 1), 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__pc", lag(col("close"), 1).over(days))
      .withColumn("__tr",
        when(col("__pc").isNotNull,
          greatest(col("high") - col("low"),
            abs(col("high") - col("__pc")),
            abs(col("low") - col("__pc"))))
          .otherwise(col("high") - col("low")))
      // both window aggregates BEFORE the full-frame filter — filtering
      // first would recompute the frames over the surviving rows
      .withColumn("__nb", count(lit(1)).over(frame))
      .withColumn("__str", sum(col("__tr")).over(frame))
      .filter(col("__nb") === w)
      .withColumn("atr",
        col("__str").cast("double") / lit(w.toDouble) / lit(100.0))
      .select(col(keyCol), col("day"), col("__tr").as("true_range_cents"),
        col("atr"))
  }

  /** On-balance volume: the running sum of signed quantities — +q on an
    * up-tick, −q on a down-tick, 0 on flat — per key. Pure integer
    * cumulative sum over one window shuffle (the one classic volume
    * indicator with no float anywhere); quantity from the JSON `k` prop
    * like VWAP. Null/absent quantities contribute 0, not null — OBV is
    * a running total and one null tick must not erase the line. */
  private[graft] def obv(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String,
                         qtyJsonField: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__q", coalesce(
        get_json_object(col("props"), s"$$.$qtyJsonField").cast("long"), lit(0L)))
      .withColumn("__d", col("__c") - lag(col("__c"), 1).over(ord))
      .withColumn("__sq",
        when(col("__d").isNull || col("__d") === 0, lit(0L))
          .when(col("__d") > 0, col("__q"))
          .otherwise(-col("__q")))
      .withColumn("obv", sum(col("__sq")).over(run))
      .select(col(keyCol), col(tieBreak), col(valCol), col("obv"))
  }

  val defs: Map[String, Q] = Map(
    // Where each tick sits in its prior 5-tick range.
    "q_stochastic" -> ((s, dir) =>
      stochasticK(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", w = 5)
        .orderBy(col("user_id").asc, col("event_id").asc)),

    // On-balance volume line per key (integer end to end).
    "q_obv" -> ((s, dir) =>
      obv(Tables.events(s, dir), "user_id", "ts", "value", "event_id", "k")
        .orderBy(col("user_id").asc, col("event_id").asc)),

    // 3-day average true range per key over daily bars.
    "q_atr" -> ((s, dir) =>
      atr(Tables.events(s, dir), "user_id", "ts", "value", "event_id", w = 3)
        .orderBy(col("user_id").asc, col("day").asc)))

  val oracle: Map[String, String] = Map(
    "q_stochastic" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts
        |  FROM events),
        |wnd AS (
        |  SELECT user_id, event_id, value, c,
        |    count(*) OVER f AS n, min(c) OVER f AS lo, max(c) OVER f AS hi
        |  FROM t
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, value, lo AS win_lo, hi AS win_hi,
        |  CASE WHEN hi > lo
        |    THEN 100.0 * CAST(c - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
        |  END AS pct_k
        |FROM wnd WHERE n = 5 ORDER BY user_id, event_id""".stripMargin,

    "q_obv" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value, ts,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS q
        |  FROM events),
        |d AS (
        |  SELECT user_id, event_id, value, ts, q,
        |    c - lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dc
        |  FROM t),
        |s AS (
        |  SELECT user_id, event_id, value, ts,
        |    CASE WHEN dc IS NULL OR dc = 0 THEN 0
        |         WHEN dc > 0 THEN q ELSE -q END AS sq
        |  FROM d)
        |SELECT user_id, event_id, value,
        |  CAST(sum(sq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM s ORDER BY user_id, event_id""".stripMargin,

    "q_atr" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day, max(o) AS open, max(cl) AS close,
        |    max(c) AS high, min(c) AS low
        |  FROM (
        |    SELECT user_id, day, c,
        |      first_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |tr AS (
        |  SELECT user_id, day,
        |    CASE WHEN pc IS NOT NULL
        |      THEN greatest(high - low, abs(high - pc), abs(low - pc))
        |      ELSE high - low END AS trng
        |  FROM (
        |    SELECT user_id, day, high, low,
        |      lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
        |    FROM bars)),
        |wnd AS (
        |  SELECT user_id, day, trng,
        |    count(*) OVER f AS nb, sum(trng) OVER f AS str
        |  FROM tr
        |  WINDOW f AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day, CAST(trng AS BIGINT) AS true_range_cents,
        |  CAST(str AS DOUBLE) / 3.0 / 100.0 AS atr
        |FROM wnd WHERE nb = 3 ORDER BY user_id, day""".stripMargin)
}
