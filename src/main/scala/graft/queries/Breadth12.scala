package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Twelfth relational wave — market-microstructure summaries of the tick
  * stream: time-weighted average price, realized volatility, and feed
  * health. These close the report set a price tracker's operators ask
  * for daily ("what did it ACTUALLY trade at", "how rough was the ride",
  * "is the feed alive and sane") and all reduce to one window shuffle on
  * the series key.
  *
  * Exact-parity discipline (house rules): prices quantize to integer
  * cents (`floor(v·100+0.5)`), timestamps to integer epoch microseconds
  * (`unix_micros` ↔ `epoch_us` under the pinned UTC session) — every
  * sum/max is integer, and the one terminal division (and, for
  * volatility, IEEE-exact sqrt) runs on identical operands in both
  * engines. Int64 headroom: cent·µs dwell products stay < 2⁶³ for any
  * day of sub-10⁶-cent prices; re-base timestamps per window before
  * weighting if a deployment's dwells exceed it.
  */
object Breadth12 {

  private def micros(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** Per-key-per-day time-weighted average price: each tick's cent price
    * weighted by its dwell time (µs until the NEXT tick; the day's last
    * tick carries no weight — the standard open-interval TWAP). A
    * single-tick or zero-span day (all ticks at one instant) has no
    * dwell and degrades to the day's max cent price — deterministic, not
    * an avg whose fold order could drift. */
  private[graft] def twap(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame = {
    val day = col(tsCol).cast("date")
    val ord = Window.partitionBy(col(keyCol), col("__day"))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    df.withColumn("__day", day)
      .withColumn("__c", cents(col(valCol)))
      .withColumn("__us", micros(col(tsCol)))
      .withColumn("__dwell", lead(col("__us"), 1).over(ord) - col("__us"))
      .groupBy(col(keyCol), col("__day").as("day"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("__dwell")).as("__denom"),
        sum(col("__c") * col("__dwell")).as("__num"),
        max(col("__c")).as("__maxc"))
      .withColumn("twap",
        when(col("__denom").isNotNull && col("__denom") > 0,
          col("__num").cast("double") / col("__denom").cast("double") / lit(100.0))
          .otherwise(col("__maxc").cast("double") / lit(100.0)))
      .drop("__denom", "__num", "__maxc")
  }

  /** Per-key realized volatility over the totally-ordered tick series:
    * sqrt of the mean squared cent move, reported in price units. The
    * sum of squared integer deltas is exact; the division and the
    * IEEE-exact sqrt are the only float steps. Keys with a single tick
    * (no move) are unscored. */
  private[graft] def realizedVol(df: DataFrame, keyCol: String, tsCol: String,
                                 valCol: String, tieBreak: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__d", col("__c") - lag(col("__c"), 1).over(ord))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        count(col("__d")).as("n_moves"),
        sum(col("__d") * col("__d")).as("sq_move_cents2"),
        when(count(col("__d")) > 0,
          sqrt(sum(col("__d") * col("__d")).cast("double") /
            count(col("__d")).cast("double")) / lit(100.0))
          .as("realized_vol"))
  }

  /** Per-key feed-health report, all-integer: tick count, the largest
    * single-tick move (cents), and the longest silent gap (µs) — the
    * stuck-feed / fat-finger tripwire row. */
  private[graft] def tickHealth(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__us", micros(col(tsCol)))
      .withColumn("__d", col("__c") - lag(col("__c"), 1).over(ord))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(ord))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        max(abs(col("__d"))).as("max_move_cents"),
        max(col("__gap")).as("longest_gap_us"))
  }

  val defs: Map[String, Q] = Map(
    // Daily TWAP per series key — "what did it actually trade at",
    // robust to burst-then-silence tick spacing where a plain avg
    // over-weights the bursts.
    "q_twap" -> ((s, dir) =>
      twap(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Realized volatility per series key — "how rough was the ride".
    "q_realized_vol" -> ((s, dir) =>
      realizedVol(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Feed health per series key — stuck-feed / fat-finger tripwire.
    "q_tick_health" -> ((s, dir) =>
      tickHealth(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)))

  val oracle: Map[String, String] = Map(
    "q_twap" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dwell
        |  FROM events),
        |g AS (
        |  SELECT user_id, day, count(*) AS n_ticks,
        |    CAST(sum(dwell) AS BIGINT) AS denom,
        |    CAST(sum(c * dwell) AS BIGINT) AS num,
        |    max(c) AS maxc
        |  FROM t GROUP BY user_id, day)
        |SELECT user_id, day, n_ticks,
        |  CASE WHEN denom IS NOT NULL AND denom > 0
        |    THEN CAST(num AS DOUBLE) / CAST(denom AS DOUBLE) / 100.0
        |    ELSE CAST(maxc AS DOUBLE) / 100.0 END AS twap
        |FROM g ORDER BY user_id, day""".stripMargin,

    "q_realized_vol" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      - lag(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        |  FROM events)
        |SELECT user_id, count(*) AS n_ticks, count(d) AS n_moves,
        |  CAST(sum(d * d) AS BIGINT) AS sq_move_cents2,
        |  CASE WHEN count(d) > 0
        |    THEN sqrt(CAST(sum(d * d) AS DOUBLE) / CAST(count(d) AS DOUBLE)) / 100.0
        |  END AS realized_vol
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_tick_health" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      - lag(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_ticks,
        |  max(abs(d)) AS max_move_cents,
        |  CAST(max(gap) AS BIGINT) AS longest_gap_us
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin)
}
