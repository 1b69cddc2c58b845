package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.d

/** Hundred-thirtieth wave — forecast-baseline evaluation and the
  * operations activity grid:
  *
  *  - **q_forecast_eval**: per key, one-step-ahead errors of the three
  *    classical baselines every forecasting deployment must beat —
  *    naive (f = c_{t−1}), seasonal-naive (f = c_{t−7}) and drift
  *    (f = c_{t−1} + (c_{t−1} − c_1) // (t−2), floor-div so the
  *    forecast stays integer) — evaluated on the COMMON row set
  *    (bars with ≥7 of history) so the MAEs compare; MASE-style
  *    ratios are one division of exact integer error sums. The
  *    meterstick queries like q_holt/q_theta are judged against.
  *  - **q_hour_dow_grid**: event counts and share per (ISO weekday,
  *    hour) cell — the 7×24 ops heat-grid. Weekday via the
  *    cross-engine-stable ISO convention (Monday = 0).
  *
  * Scale shape: the eval is three lag windows on the memoized bar
  * grid; the grid is one groupBy over the scan with a broadcast
  * 1-row total. */
object Breadth129 {

  /** Baseline one-step error table per key. */
  private[graft] def forecastEval(df: DataFrame, keyCol: String,
                                  tsCol: String, valCol: String,
                                  tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__l1", lag(col("close"), 1).over(w))
      .withColumn("__l7", lag(col("close"), 7).over(w))
      .withColumn("__c1", first(col("close")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ev = bars.filter(col("__i") >= 8)
      .select(col(keyCol),
        abs(col("close") - col("__l1")).as("__en"),
        abs(col("close") - col("__l7")).as("__es"),
        // Spark `div` and DuckDB `//` BOTH truncate toward zero on
        // integers (measured: -7//2 = -3 in DuckDB), so negative
        // drifts agree with no floor gymnastics
        abs(col("close") - (col("__l1") +
          expr("(__l1 - __c1) div (__i - 2)"))).as("__ed"))
    ev.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        sum(col("__en")).as("__sn"), sum(col("__es")).as("__ss"),
        sum(col("__ed")).as("__sd"))
      .filter(col("__sn") > 0)
      .select(col(keyCol), col("n_evals"),
        (d(col("__sn")) / d(col("n_evals")) / lit(100.0)).as("mae_naive"),
        (d(col("__ss")) / d(col("n_evals")) / lit(100.0)).as("mae_snaive"),
        (d(col("__sd")) / d(col("n_evals")) / lit(100.0)).as("mae_drift"),
        (d(col("__ss")) / d(col("__sn"))).as("mase_snaive"),
        (d(col("__sd")) / d(col("__sn"))).as("mase_drift"))
      .orderBy(col(keyCol).asc)
  }

  /** 7×24 activity grid: counts + corpus share per (weekday, hour). */
  private[graft] def hourDowGrid(df: DataFrame, tsCol: String): DataFrame = {
    val g = df.select(weekday(col(tsCol)).as("dow"),
        hour(col(tsCol)).as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = g.agg(sum(col("n_events")).as("__t"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n_events"),
        (d(col("n_events")) / d(col("__t"))).as("share"))
      .orderBy(col("dow").asc, col("hour").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_forecast_eval" -> ((s, dir) =>
      forecastEval(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_hour_dow_grid" -> ((s, dir) =>
      hourDowGrid(Tables.events(s, dir), "ts")))

  private val BarsSql =
    """t AS (
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
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_forecast_eval" ->
      s"""WITH $BarsSql,
         |nb AS (
         |  SELECT user_id, day, close,
         |    CAST(row_number() OVER w AS BIGINT) AS i,
         |    lag(close, 1) OVER w AS l1,
         |    lag(close, 7) OVER w AS l7,
         |    first_value(close) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         |ev AS (
         |  SELECT user_id,
         |    abs(close - l1) AS en,
         |    abs(close - l7) AS es,
         |    abs(close - (l1 + (l1 - c1) // (i - 2))) AS ed
         |  FROM nb WHERE i >= 8),
         |g AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_evals,
         |    CAST(sum(en) AS BIGINT) AS sn, CAST(sum(es) AS BIGINT) AS ss,
         |    CAST(sum(ed) AS BIGINT) AS sd
         |  FROM ev GROUP BY 1)
         |SELECT user_id, n_evals,
         |  CAST(sn AS DOUBLE) / CAST(n_evals AS DOUBLE) / 100.0
         |    AS mae_naive,
         |  CAST(ss AS DOUBLE) / CAST(n_evals AS DOUBLE) / 100.0
         |    AS mae_snaive,
         |  CAST(sd AS DOUBLE) / CAST(n_evals AS DOUBLE) / 100.0
         |    AS mae_drift,
         |  CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE) AS mase_snaive,
         |  CAST(sd AS DOUBLE) / CAST(sn AS DOUBLE) AS mase_drift
         |FROM g WHERE sn > 0 ORDER BY user_id""".stripMargin,

    "q_hour_dow_grid" ->
      """WITH g AS (
        |  SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
        |    CAST(hour(ts) AS INTEGER) AS hour,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tt FROM g)
        |SELECT dow, hour, n_events,
        |  CAST(n_events AS DOUBLE) / CAST((SELECT tt FROM t) AS DOUBLE)
        |    AS share
        |FROM g ORDER BY dow, hour""".stripMargin)
}
