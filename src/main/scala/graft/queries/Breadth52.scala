package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifty-third wave — multi-bar sequence patterns and buying pressure.
  *
  *  - **q_three_bar_patterns**: the classic three-bar candlestick
  *    sequences as lag-window flags over daily cent bars — three white
  *    soldiers (three rising up-bars, each opening inside the prior
  *    real body), three black crows (the mirror), and a morning star
  *    (long down bar, small-body star, up bar closing above the first
  *    bar's midpoint). Pattern-over-sequence queries are the
  *    MATCH_RECOGNIZE shape expressed with two lags — no self-join,
  *    one key-partitioned window, every comparison integer cents.
  *  - **q_bop**: Balance of Power — per bar (close−open)/(high−low),
  *    null on flat bars, plus the 5-bar smoothed form as a RATIO OF
  *    INTEGER WINDOW SUMS Σ(c−o)/Σ(h−l) (exact regardless of window
  *    arithmetic — the q_realized_vol discipline; averaging the daily
  *    ratios would be an order-dependent float sum).
  *
  * Scale shape: both are single-pass lag/rolling windows over the
  * memoized bar grid; per-key series are calendar-bounded. */
object Breadth52 {

  private[graft] val BopWin = 5

  private[graft] def threeBarPatterns(df: DataFrame, keyCol: String,
                                      tsCol: String, valCol: String,
                                      tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    def lagged(c: String, n: Int) = lag(col(c), n).over(days)
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__o1", lagged("open", 1)).withColumn("__c1", lagged("close", 1))
      .withColumn("__o2", lagged("open", 2)).withColumn("__c2", lagged("close", 2))
    val up = col("close") > col("open")
    val up1 = col("__c1") > col("__o1")
    val up2 = col("__c2") > col("__o2")
    val down = col("close") < col("open")
    val down1 = col("__c1") < col("__o1")
    val down2 = col("__c2") < col("__o2")
    val have3 = col("__o2").isNotNull
    bars.select(col(keyCol), col("day"), col("open"), col("close"),
      (have3 && up2 && up1 && up &&
        col("__c1") > col("__c2") && col("close") > col("__c1") &&
        col("__o1") >= col("__o2") && col("__o1") <= col("__c2") &&
        col("open") >= col("__o1") && col("open") <= col("__c1"))
        .as("three_white_soldiers"),
      (have3 && down2 && down1 && down &&
        col("__c1") < col("__c2") && col("close") < col("__c1") &&
        col("__o1") <= col("__o2") && col("__o1") >= col("__c2") &&
        col("open") <= col("__o1") && col("open") >= col("__c1"))
        .as("three_black_crows"),
      (have3 && down2 && up &&
        abs(col("__c1") - col("__o1")) * lit(3L) <=
          abs(col("__c2") - col("__o2")) &&
        col("close") * lit(2L) > col("__o2") + col("__c2"))
        .as("morning_star"))
  }

  private[graft] def bop(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val roll = days.rowsBetween(-(BopWin - 1), 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__i", row_number().over(days))
      .withColumn("__nco", sum(col("close") - col("open")).over(roll))
      .withColumn("__nhl", sum(col("high") - col("low")).over(roll))
      .select(col(keyCol), col("day"),
        when(col("high") > col("low"),
          (col("close") - col("open")).cast("double") /
            (col("high") - col("low")).cast("double")).as("bop"),
        when(col("__i") >= BopWin && col("__nhl") > 0,
          col("__nco").cast("double") / col("__nhl").cast("double"))
          .as(s"bop_$BopWin"))
  }

  val defs: Map[String, Q] = Map(
    "q_three_bar_patterns" -> ((s, dir) =>
      threeBarPatterns(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),
    "q_bop" -> ((s, dir) =>
      bop(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  private val barsSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(op) AS open, max(cl) AS close,
      |    max(c) AS high, min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c,
      |      first_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS op,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_three_bar_patterns" ->
      s"""WITH $barsSql,
         |lg AS (
         |  SELECT user_id, day, open, close,
         |    lag(open, 1) OVER w AS o1, lag(close, 1) OVER w AS c1,
         |    lag(open, 2) OVER w AS o2, lag(close, 2) OVER w AS c2
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, open, close,
         |  coalesce(o2 IS NOT NULL AND c2 > o2 AND c1 > o1 AND close > open
         |    AND c1 > c2 AND close > c1
         |    AND o1 >= o2 AND o1 <= c2
         |    AND open >= o1 AND open <= c1, FALSE) AS three_white_soldiers,
         |  coalesce(o2 IS NOT NULL AND c2 < o2 AND c1 < o1 AND close < open
         |    AND c1 < c2 AND close < c1
         |    AND o1 <= o2 AND o1 >= c2
         |    AND open <= o1 AND open >= c1, FALSE) AS three_black_crows,
         |  coalesce(o2 IS NOT NULL AND c2 < o2 AND close > open
         |    AND abs(c1 - o1) * 3 <= abs(c2 - o2)
         |    AND close * 2 > o2 + c2, FALSE) AS morning_star
         |FROM lg ORDER BY user_id, day""".stripMargin,

    "q_bop" ->
      s"""WITH $barsSql,
         |r AS (
         |  SELECT user_id, day, open, close, high, low,
         |    row_number() OVER w AS i,
         |    sum(close - open) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${BopWin - 1} PRECEDING AND CURRENT ROW) AS nco,
         |    sum(high - low) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${BopWin - 1} PRECEDING AND CURRENT ROW) AS nhl
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day,
         |  CASE WHEN high > low THEN
         |    CAST(close - open AS DOUBLE) / CAST(high - low AS DOUBLE)
         |  END AS bop,
         |  CASE WHEN i >= $BopWin AND nhl > 0 THEN
         |    CAST(nco AS DOUBLE) / CAST(nhl AS DOUBLE)
         |  END AS bop_$BopWin
         |FROM r ORDER BY user_id, day""".stripMargin)
}
