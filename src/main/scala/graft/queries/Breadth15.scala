package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Fifteenth relational wave — retrospective series reports:
  *
  *  - best single trade (max buy-low→sell-high profit per key — the
  *    backtest floor every strategy is measured against);
  *  - user churn (first-seen / last-seen accounting per day — the
  *    audience-health report of the ops dashboard).
  *
  * Both integer end to end: profit is cents minus a prefix-min of cents
  * (running min is exact, like the drawdown peak), churn is counts over
  * min/max day aggregates.
  */
object Breadth15 {

  /** Best buy→sell profit per key: max over the series of
    * (cents − prefix-min cents). One window shuffle, O(1) running state
    * (the drawdown recurrence with min/max swapped); 0 for monotonically
    * falling series (buy=sell is always admissible), null never. */
  private[graft] def bestTrade(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame = {
    val run = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__rm", min(col("__c")).over(run))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        max(col("__c") - col("__rm")).as("best_trade_cents"))
  }

  /** Per-day audience accounting: actives, first-seen (new) and
    * last-seen (gone — the user's final appearance) counts. Three
    * |keys·days|- or |keys|-sized aggregates joined on the day grid —
    * never a self-join of event rows. */
  private[graft] def userChurn(df: DataFrame, keyCol: String,
                               tsCol: String): DataFrame = {
    val presence = df.select(col(keyCol), col(tsCol).cast("date").as("day"))
      .distinct()
    val active = presence.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"))
    val spans = presence.groupBy(col(keyCol))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val fresh = spans.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val gone = spans.groupBy(col("last_day").as("day"))
      .agg(count(lit(1)).as("n_gone"))
    active.join(fresh, Seq("day"), "left")
      .join(gone, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_gone"), lit(0L)).as("n_gone"))
  }

  val defs: Map[String, Q] = Map(
    // Best achievable single trade per series key, in cents.
    "q_best_trade" -> ((s, dir) =>
      bestTrade(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Daily audience accounting over the event stream. Long-lived keys
    // concentrate the new/gone edges on the corpus boundary days, so
    // most interior days exercise the coalesce-to-zero path.
    "q_user_churn" -> ((s, dir) =>
      userChurn(Tables.events(s, dir), "user_id", "ts")
        .orderBy(col("day").asc)))

  val oracle: Map[String, String] = Map(
    "q_best_trade" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    min(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |  FROM events)
        |SELECT user_id, count(*) AS n_ticks,
        |  CAST(max(c - rm) AS BIGINT) AS best_trade_cents
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_user_churn" ->
      """WITH presence AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |active AS (SELECT day, count(*) AS n_active FROM presence GROUP BY day),
        |spans AS (
        |  SELECT user_id, min(day) AS first_day, max(day) AS last_day
        |  FROM presence GROUP BY user_id),
        |fresh AS (SELECT first_day AS day, count(*) AS n_new FROM spans GROUP BY 1),
        |gone AS (SELECT last_day AS day, count(*) AS n_gone FROM spans GROUP BY 1)
        |SELECT a.day, a.n_active,
        |  coalesce(f.n_new, 0) AS n_new,
        |  coalesce(g.n_gone, 0) AS n_gone
        |FROM active a LEFT JOIN fresh f ON a.day = f.day
        |LEFT JOIN gone g ON a.day = g.day
        |ORDER BY a.day""".stripMargin)
}
