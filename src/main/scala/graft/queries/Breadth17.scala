package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Seventeenth relational wave — Bollinger breakout screening, the one
  * classic band indicator expressible EXACTLY: the breakout test
  * |price − mean| > k·σ is squared and cross-multiplied into the integer
  * domain, (w·c − Σx)² > k²·(w·Σx² − (Σx)²), so the flag never touches a
  * float — no engine's window-aggregation fold order can flip it (the
  * trap that rules out a naive stddev comparison). The reported band
  * values are then one identical-operand expression per row (sqrt is
  * IEEE-exact). Bounded ROWS frame → O(w) per-key state, one window
  * shuffle, and a form that lifts to the state store like RSI/SMA.
  */
object Breadth17 {

  /** Per-row Bollinger state over the `w` ticks STRICTLY BEFORE the row
    * (only full frames scored): population mid/band of the prior window
    * plus integer breakout flags at `k` sigmas. Excluding the current
    * tick matters — a self-included spike inflates its own band and can
    * suppress exactly the flag it should raise (same stance as the
    * rolling z-score screen). */
  private[graft] def bollinger(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String,
                               w: Int, k: Int): DataFrame = {
    val frame = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(-w, -1)
    val wL = lit(w.toLong)
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__sx", sum(col("__c")).over(frame))
      .withColumn("__sxx", sum(col("__c") * col("__c")).over(frame))
      .filter(col("__n") === w)
      .withColumn("__dev", wL * col("__c") - col("__sx"))   // w·(c − mean), integer
      .withColumn("__varn", wL * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("mid",
        col("__sx").cast("double") / lit(w * 100.0))
      .withColumn("band",
        lit(k.toDouble) * sqrt(col("__varn").cast("double")) / lit(w.toDouble) / lit(100.0))
      .withColumn("breakout_up",
        col("__dev") > 0 && col("__dev") * col("__dev") > lit(k.toLong * k) * col("__varn"))
      .withColumn("breakout_dn",
        col("__dev") < 0 && col("__dev") * col("__dev") > lit(k.toLong * k) * col("__varn"))
      .select(col(keyCol), col(tieBreak), col(valCol), col("mid"), col("band"),
        col("breakout_up"), col("breakout_dn"))
  }

  val defs: Map[String, Q] = Map(
    // 5-tick, 2-sigma Bollinger screen per series key.
    "q_bollinger" -> ((s, dir) =>
      bollinger(Tables.events(s, dir), "user_id", "ts", "value", "event_id",
        w = 5, k = 2)
        .orderBy(col("user_id").asc, col("event_id").asc)))

  val oracle: Map[String, String] = Map(
    "q_bollinger" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts
        |  FROM events),
        |wnd AS (
        |  SELECT user_id, event_id, value, c,
        |    count(*) OVER f AS n,
        |    sum(c) OVER f AS sx,
        |    sum(c * c) OVER f AS sxx
        |  FROM t
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT user_id, event_id, value,
        |    5 * c - sx AS dev, 5 * sxx - sx * sx AS varn, sx
        |  FROM wnd WHERE n = 5)
        |SELECT user_id, event_id, value,
        |  CAST(sx AS DOUBLE) / 500.0 AS mid,
        |  2.0 * sqrt(CAST(varn AS DOUBLE)) / 5.0 / 100.0 AS band,
        |  dev > 0 AND dev * dev > 4 * varn AS breakout_up,
        |  dev < 0 AND dev * dev > 4 * varn AS breakout_dn
        |FROM s ORDER BY user_id, event_id""".stripMargin)
}
