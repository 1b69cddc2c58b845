package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Sixteenth relational wave — dashboard digest reports:
  *
  *  - seasonality profile (day-of-week × hour activity/price grid — the
  *    calendar heatmap behind "when does this market move");
  *  - top movers (largest day-over-day close changes — the
  *    gainers/losers widget every tracker front page carries).
  *
  * Integer discipline as the rest of the house: cent sums with ONE
  * terminal division for the average; mover deltas are integer cents
  * ranked by TakeOrdered, never a global sort.
  */
object Breadth16 {

  /** (day-of-week, hour) activity grid: tick count and average cent
    * price per cell — a ≤168-row aggregate off one scan. dow is ISO
    * (1=Monday), pinned explicitly: Spark's `dayofweek` is 1=Sunday
    * while DuckDB's `isodow` is 1=Monday, so both sides derive ISO. */
  private[graft] def seasonality(df: DataFrame, tsCol: String,
                                 valCol: String): DataFrame =
    df.withColumn("__c", cents(col(valCol)))
      .groupBy(
        // Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
        ((dayofweek(col(tsCol)) + lit(5)) % lit(7) + lit(1)).as("dow_iso"),
        hour(col(tsCol)).as("hh"))
      .agg(count(lit(1)).as("n_ticks"),
        (sum(col("__c")).cast("double") / count(lit(1)).cast("double") /
          lit(100.0)).as("avg_price"))

  /** Top day-over-day movers: per (key, day) close-to-close cent change,
    * the k largest absolute moves (ties by key then day). The lag runs
    * on the |key·days|-sized bar table; top-k is a TakeOrdered. */
  private[graft] def topMovers(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String,
                               k: Int): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth14.dailyCloseCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("prev_close", lag(col("close"), 1).over(days))
      .filter(col("prev_close").isNotNull)
      .withColumn("move_cents", col("close") - col("prev_close"))
      .select(col(keyCol), col("day"), col("prev_close"), col("close"),
        col("move_cents"))
      .orderBy(abs(col("move_cents")).desc, col(keyCol).asc, col("day").asc)
      .limit(k)
  }

  val defs: Map[String, Q] = Map(
    // When does this market move: the (dow, hour) heatmap grid.
    "q_seasonality" -> ((s, dir) =>
      seasonality(Tables.events(s, dir), "ts", "value")
        .orderBy(col("dow_iso").asc, col("hh").asc)),

    // Front-page gainers/losers: 10 largest absolute day-over-day moves.
    "q_top_movers" -> ((s, dir) =>
      topMovers(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", k = 10)))

  val oracle: Map[String, String] = Map(
    "q_seasonality" ->
      """SELECT CAST(isodow(ts) AS INTEGER) AS dow_iso,
        |  CAST(hour(ts) AS INTEGER) AS hh,
        |  count(*) AS n_ticks,
        |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 100.0 AS avg_price
        |FROM events GROUP BY 1, 2 ORDER BY dow_iso, hh""".stripMargin,

    "q_top_movers" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day, max(cl) AS close
        |  FROM (
        |    SELECT user_id, day,
        |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |m AS (
        |  SELECT user_id, day,
        |    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev_close,
        |    close
        |  FROM bars)
        |SELECT user_id, day, prev_close, close,
        |  close - prev_close AS move_cents
        |FROM m WHERE prev_close IS NOT NULL
        |ORDER BY abs(close - prev_close) DESC, user_id, day LIMIT 10""".stripMargin)
}
