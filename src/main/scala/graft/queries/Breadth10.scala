package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tenth relational wave — price-series analytics. The reference is a
  * crypto price tracker (frontend/src/App.js:87-186 charts a per-coin
  * price history; etl/crypto_etl.py:15-39 ingests the tick series), so
  * the canonical financial time-series idioms over a tick stream are the
  * natural widening of its surface:
  *
  *  - maximum drawdown (running peak → worst peak-to-trough loss) — the
  *    risk metric every price dashboard grows next;
  *  - RSI (14-period relative strength index, the momentum oscillator);
  *  - SMA crossover signals (fast/slow moving-average "golden cross");
  *  - day-over-day gap analysis (prior close vs next open).
  *
  * All four are ONE window shuffle on the series key: per-key state is a
  * running scalar (drawdown), a bounded ROWS frame (RSI, SMA), or the
  * |days|-sized bar aggregate (gap) — each form survives 100 TB because
  * no window ever orders more than one key's rows. Float discipline
  * matches the parity rules: comparisons and divisions use identical
  * operands in both engines; rounding happens once, at the emit
  * boundary.
  */
object Breadth10 {

  /** Per-key running-peak drawdown rows: peak = max so far (prefix max —
    * order-insensitive, exact), dd = (peak - value)/peak on identical
    * operands. Rows where the running peak is 0 are unscored (null). */
  private[graft] def drawdownRows(df: DataFrame, keyCol: String, valCol: String,
                                  ordCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val run = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__peak", max(col(valCol)).over(run))
      .withColumn("__dd",
        when(col("__peak") > 0, (col("__peak") - col(valCol)) / col("__peak")))
  }

  /** Wilder-simplified RSI over the trailing `period` deltas: average
    * gain / average loss over a bounded ROWS frame (state O(period) per
    * key). Rows without a full delta window are not scored; an all-gain
    * window pins RSI to 100 exactly (avg loss is a sum of true zeros —
    * identical in any fold order). */
  private[graft] def rsi(df: DataFrame, keyCol: String, valCol: String,
                         ordCols: Seq[org.apache.spark.sql.Column], period: Int): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    val frame = ord.rowsBetween(-(period - 1), 0)
    df.withColumn("__diff", col(valCol) - lag(col(valCol), 1).over(ord))
      .filter(col("__diff").isNotNull)
      .withColumn("__gain", when(col("__diff") > 0, col("__diff")).otherwise(lit(0.0)))
      .withColumn("__loss", when(col("__diff") < 0, -col("__diff")).otherwise(lit(0.0)))
      .withColumn("__ag", avg(col("__gain")).over(frame))
      .withColumn("__al", avg(col("__loss")).over(frame))
      .withColumn("__nd", count(col("__diff")).over(frame))
      .filter(col("__nd") === period)
      .withColumn("rsi",
        when(col("__al") === 0.0, lit(100.0))
          .otherwise(round(lit(100.0) - lit(100.0) / (lit(1.0) + col("__ag") / col("__al")), 4)))
  }

  /** Fast/slow simple-moving-average pair per row (bounded ROWS frames;
    * only rows with BOTH full frames are scored). The signal compares the
    * 4-dp ROUNDED averages — both engines round to the same decimal, so
    * the boolean cannot flip on a fold-order ulp. */
  private[graft] def smaSignal(df: DataFrame, keyCol: String, valCol: String,
                               ordCols: Seq[org.apache.spark.sql.Column],
                               fast: Int, slow: Int): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    df.withColumn("__sf", avg(col(valCol)).over(ord.rowsBetween(-(fast - 1), 0)))
      .withColumn("__ss", avg(col(valCol)).over(ord.rowsBetween(-(slow - 1), 0)))
      .withColumn("__n", count(col(valCol)).over(ord.rowsBetween(-(slow - 1), 0)))
      .filter(col("__n") === slow)
      .withColumn("sma_fast", round(col("__sf"), 4))
      .withColumn("sma_slow", round(col("__ss"), 4))
      .withColumn("signal", col("sma_fast") > col("sma_slow"))
  }

  /** Golden-cross flag over a signal column: true where the signal flips
    * false→true along the key's order (null-safe lag, so the first
    * scored row never crosses). Same partition key and sort as the SMA
    * windows — Catalyst plans one exchange for the whole cascade. */
  private[graft] def withCross(df: DataFrame, keyCol: String,
                               ordCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    df.withColumn("crossed",
      col("signal") && (lag(col("signal"), 1).over(ord) <=> lit(false)))
  }

  /** Daily bars (tie-safe open/close via the explicit-full-frame window,
    * same formulation as q_ohlc) + the day-over-day gap: today's open vs
    * the PRIOR day's close, lagged over the per-key |days|-sized bar
    * aggregate — the window after the groupBy runs on bars, not ticks. */
  private[graft] def dayGaps(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val bar = Window.partitionBy(col(keyCol), col("__day"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    df.withColumn("__day", col("ts").cast("date"))
      .withColumn("__open", first(col(valCol)).over(bar))
      .withColumn("__close", last(col(valCol)).over(bar))
      .groupBy(col(keyCol), col("__day").as("day"))
      .agg(max("__open").as("open"), max("__close").as("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(days))
      .filter(col("prev_close").isNotNull)
      .withColumn("gap_pct",
        when(col("prev_close") =!= 0.0,
          round((col("open") - col("prev_close")) / col("prev_close") * 100.0, 4)))
  }

  val defs: Map[String, Q] = Map(
    // Max drawdown per series key: worst peak-to-trough loss over the
    // totally-ordered tick series. Running max is exact (no float fold),
    // the division is identical-operand, and max-of-dd is
    // order-insensitive — one window shuffle, O(1) running state per key.
    "q_drawdown" -> ((s, dir) =>
      drawdownRows(Tables.events(s, dir), "user_id", "value",
        Seq(col("ts").asc, col("event_id").asc))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ticks"),
          max(col("value")).as("peak"),
          round(max(col("__dd")), 4).as("max_drawdown"))
        .orderBy(col("user_id").asc)),

    // 14-period RSI per tick (momentum oscillator). Bounded trailing
    // frame of 14 deltas per key.
    "q_rsi" -> ((s, dir) =>
      rsi(Tables.events(s, dir), "user_id", "value",
        Seq(col("ts").asc, col("event_id").asc), period = 14)
        .select(col("user_id"), col("event_id"), col("value"), col("rsi"))
        .orderBy(col("user_id").asc, col("event_id").asc)),

    // 3/7 SMA crossover: per-tick fast/slow averages, the golden-cross
    // flag where the signal flips false→true (null-safe lag so the first
    // scored row never crosses). Second window reuses the SAME partition
    // key and sort order — Catalyst plans one exchange.
    "q_sma_cross" -> ((s, dir) => {
      val ord = Seq(col("ts").asc, col("event_id").asc)
      withCross(
        smaSignal(Tables.events(s, dir), "user_id", "value", ord, fast = 3, slow = 7),
        "user_id", ord)
        .select(col("user_id"), col("event_id"),
          col("sma_fast"), col("sma_slow"), col("signal"), col("crossed"))
        .orderBy(col("user_id").asc, col("event_id").asc)
    }),

    // Day-over-day gaps: prior close vs next open per key — the
    // overnight-move report. Tick→bar is one grouped aggregate; the gap
    // lag runs over the |key·days|-sized bar table.
    "q_gap_days" -> ((s, dir) =>
      dayGaps(Tables.events(s, dir), "user_id", "value")
        .select(col("user_id"), col("day"), col("open"), col("close"),
          col("prev_close"), col("gap_pct"))
        .orderBy(col("user_id").asc, col("day").asc)))

  val oracle: Map[String, String] = Map(
    "q_drawdown" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events)
        |SELECT user_id, count(*) AS n_ticks, max(value) AS peak,
        |  round(max(CASE WHEN peak > 0 THEN (peak - value) / peak END), 4)
        |    AS max_drawdown
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_rsi" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts, value,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS diff
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
        |    CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss,
        |    diff
        |  FROM d WHERE diff IS NOT NULL),
        |w AS (
        |  SELECT user_id, event_id, value,
        |    avg(gain) OVER f AS ag, avg(loss) OVER f AS al,
        |    count(diff) OVER f AS nd
        |  FROM g
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, value,
        |  CASE WHEN al = 0.0 THEN 100.0
        |       ELSE round(100.0 - 100.0 / (1.0 + ag / al), 4) END AS rsi
        |FROM w WHERE nd = 14 ORDER BY user_id, event_id""".stripMargin,

    "q_sma_cross" ->
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sf,
        |    avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ss,
        |    count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    round(sf, 4) AS sma_fast, round(ss, 4) AS sma_slow,
        |    round(sf, 4) > round(ss, 4) AS signal
        |  FROM w WHERE n = 7)
        |SELECT user_id, event_id, sma_fast, sma_slow, signal,
        |  signal AND (lag(signal) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NOT DISTINCT FROM false) AS crossed
        |FROM s ORDER BY user_id, event_id""".stripMargin,

    "q_gap_days" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |    first_value(value) OVER bar AS o, last_value(value) OVER bar AS c
        |  FROM events
        |  WINDOW bar AS (PARTITION BY user_id, CAST(ts AS DATE)
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |bars AS (
        |  SELECT user_id, day, max(o) AS open, max(c) AS close
        |  FROM t GROUP BY user_id, day),
        |g AS (
        |  SELECT user_id, day, open, close,
        |    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev_close
        |  FROM bars)
        |SELECT user_id, day, open, close, prev_close,
        |  CASE WHEN prev_close <> 0.0
        |       THEN round((open - prev_close) / prev_close * 100.0, 4) END AS gap_pct
        |FROM g WHERE prev_close IS NOT NULL
        |ORDER BY user_id, day""".stripMargin)
}
