package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seventieth wave — conditional volatility, body momentum, swing
  * points.
  *
  *  - **q_ewma_vol**: RiskMetrics EWMA volatility per key — the
  *    λ=0.94 exponentially-weighted variance of day-bar cent moves,
  *    v_t = λ·v_{t−1} + (1−λ)·x_t², seeded at the first move's x²,
  *    emitted as √v in the price domain. A [[graft.ops.Recurrence]]
  *    fold (O(1) state per key). x² stays an exact integer product before
  *    the one cast; λ is written as a division (94/100) in BOTH
  *    engines so neither parses a DECIMAL literal.
  *  - **q_qstick**: Chande's QStick(5) — the 5-bar SMA of the candle
  *    body (close − open) in integer cents, one division at emit,
  *    full windows only. Positive = buying pressure dominates opens.
  *  - **q_fractals**: Williams swing points — a bar whose high
  *    strictly exceeds the two highs on each side is a fractal high
  *    (lows symmetric); both flags need the full ±2-bar neighbourhood.
  *    Pure integer comparisons on the day-bar grid; emitted as one
  *    row per (day, kind) swing with its level.
  *
  * Scale shape: all three ride the memoized |key·days| day-bar grid —
  * ewma_vol is the calendar-bounded per-key fold (Recurrence object
  * doc), qstick/fractals are per-key windows with 5-row frames; no
  * query touches raw ticks twice. */
object Breadth69 {

  /** RiskMetrics decay — written as a division so both engines build
    * the identical double (a bare 0.94 is DECIMAL to DuckDB). */
  private[graft] val VolLam = 94.0 / 100.0

  /** EWMA-variance accumulator: previous close + running variance
    * (None until the first move exists). */
  private[graft] case class EwmaVolAcc(c: Long, v: Option[Double])

  /** One RiskMetrics step over integer cent closes. */
  private[graft] def ewmaVolStep(st: Option[EwmaVolAcc], c: Long): EwmaVolAcc =
    st match {
      case None => EwmaVolAcc(c, None)
      case Some(a) =>
        val xx = ((c - a.c) * (c - a.c)).toDouble
        EwmaVolAcc(c, Some(a.v match {
          case None => xx
          case Some(p) => VolLam * p + (1.0 - VolLam) * xx
        }))
    }

  /** EWMA volatility series per key (price domain: √v / 100). */
  private[graft] def ewmaVol(df: DataFrame, keyCol: String, tsCol: String,
                             valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[EwmaVolAcc], b: graft.ops.Bar) =>
        val a = ewmaVolStep(st, b.close)
        (a, a.v.map(math.sqrt(_) / 100.0))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("ewma_vol"))
    }

  /** QStick(k): SMA of (close − open) cents over k full bars. */
  private[graft] def qstick(df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String,
                            k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(k - 1), Window.currentRow)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("qstick",
        when(col("__n") === k,
          sum(col("close") - col("open")).over(w).cast("double") /
            lit(k * 100.0)))
      .select(col(keyCol), col("day"), col("qstick"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** Williams fractal highs/lows over the ±2-bar neighbourhood. */
  private[graft] def fractals(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__h1", lag(col("high"), 1).over(w))
      .withColumn("__h2", lag(col("high"), 2).over(w))
      .withColumn("__h3", lead(col("high"), 1).over(w))
      .withColumn("__h4", lead(col("high"), 2).over(w))
      .withColumn("__l1", lag(col("low"), 1).over(w))
      .withColumn("__l2", lag(col("low"), 2).over(w))
      .withColumn("__l3", lead(col("low"), 1).over(w))
      .withColumn("__l4", lead(col("low"), 2).over(w))
    val hi = bars.filter(
      col("high") > col("__h1") && col("high") > col("__h2") &&
        col("high") > col("__h3") && col("high") > col("__h4"))
      .select(col(keyCol), col("day"), lit("high").as("kind"),
        col("high").as("level"))
    val lo = bars.filter(
      col("low") < col("__l1") && col("low") < col("__l2") &&
        col("low") < col("__l3") && col("low") < col("__l4"))
      .select(col(keyCol), col("day"), lit("low").as("kind"),
        col("low").as("level"))
    hi.unionAll(lo)
      .orderBy(col(keyCol).asc, col("day").asc, col("kind").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_ewma_vol" -> ((s, dir) =>
      ewmaVol(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),
    "q_qstick" -> ((s, dir) =>
      qstick(Tables.events(s, dir), "user_id", "ts", "value", "event_id")),
    "q_fractals" -> ((s, dir) =>
      fractals(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  /** Close-only bar + index prefix (the Breadth19 recursive-CTE
    * discipline). */
  private val nbSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close
      |  FROM (
      |    SELECT user_id, day,
      |      last_value(c) OVER (PARTITION BY user_id, day
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |        AS cl
      |    FROM t)
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  /** Full OHLC bar prefix (open via the tie-safe first_value twin). */
  private val ohlcSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(op) AS open, max(cl) AS close,
      |    max(c) AS high, min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c,
      |      first_value(c) OVER wb AS op, last_value(c) OVER wb AS cl
      |    FROM t
      |    WINDOW wb AS (PARTITION BY user_id, day ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ewma_vol" ->
      s"""WITH RECURSIVE $nbSql,
         |v AS (
         |  SELECT user_id, day, close, i, CAST(NULL AS DOUBLE) AS v
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    CASE WHEN v.v IS NULL
         |      THEN CAST((b.close - v.close) * (b.close - v.close)
         |        AS DOUBLE)
         |      ELSE (94.0/100.0) * v.v + (1.0 - 94.0/100.0)
         |        * CAST((b.close - v.close) * (b.close - v.close)
         |          AS DOUBLE)
         |    END
         |  FROM v JOIN nb b ON b.user_id = v.user_id AND b.i = v.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  sqrt(v) / 100.0 AS ewma_vol
         |FROM v ORDER BY user_id, day""".stripMargin,

    "q_qstick" ->
      s"""WITH $ohlcSql
         |SELECT user_id, day,
         |  CASE WHEN count(*) OVER w5 = 5 THEN
         |    CAST(sum(close - open) OVER w5 AS DOUBLE) / 500.0
         |  END AS qstick
         |FROM bars
         |WINDOW w5 AS (PARTITION BY user_id ORDER BY day
         |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, day""".stripMargin,

    "q_fractals" ->
      s"""WITH $ohlcSql,
         |nb AS (
         |  SELECT user_id, day, high, low,
         |    lag(high, 1) OVER wk AS h1, lag(high, 2) OVER wk AS h2,
         |    lead(high, 1) OVER wk AS h3, lead(high, 2) OVER wk AS h4,
         |    lag(low, 1) OVER wk AS l1, lag(low, 2) OVER wk AS l2,
         |    lead(low, 1) OVER wk AS l3, lead(low, 2) OVER wk AS l4
         |  FROM bars
         |  WINDOW wk AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, kind, level FROM (
         |  SELECT user_id, day, 'high' AS kind, high AS level
         |  FROM nb
         |  WHERE high > h1 AND high > h2 AND high > h3 AND high > h4
         |  UNION ALL
         |  SELECT user_id, day, 'low' AS kind, low AS level
         |  FROM nb
         |  WHERE low < l1 AND low < l2 AND low < l3 AND low < l4)
         |ORDER BY user_id, day, kind""".stripMargin)
}
