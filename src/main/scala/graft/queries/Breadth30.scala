package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thirtieth wave — the stop-and-reverse / normalized-momentum row of
  * the chart menu (reference renders raw history only,
  * `frontend/src/App.js:464-571`), plus two risk-ratio completions:
  *
  *  - parabolic SAR (Wilder's stop-and-reverse — the recurrence whose
  *    STATE switches regime mid-fold; the combinator's stress test);
  *  - stochastic RSI (a window normalization OVER a recurrence — the
  *    mass-index hybrid shape, on the Wilder RSI series);
  *  - Chande momentum oscillator (window up/down cent sums, one
  *    terminal division);
  *  - Sortino ratio (downside semi-deviation — the Sharpe sibling
  *    whose radicand only counts losing days);
  *  - N-day rate of change (the momentum primitive the screeners
  *    build on);
  *  - classic floor-trader pivot points from the prior day's bar.
  *
  * Exact-parity discipline (house rules): window sums are INTEGER cent
  * sums (order-free), each measure ends in a fixed scalar float
  * expression with identical operand order in the DuckDB oracle; the
  * PSAR recurrence folds in day order with the same IEEE step as the
  * oracle's recursive CTE (AF constants written as division
  * expressions in SQL — the DECIMAL-literal lesson).
  *
  * Scale shape: everything rides the memoized |keys|·|days| bar grid —
  * one groupBy shuffle shared session-wide; PSAR is one executor-local
  * O(L) fold per key (O(1) state: regime, SAR, EP, AF, a 2-bar
  * high/low ring); the window queries are one key-partitioned window
  * each; Sortino/n-day stats are one hash aggregate.
  */
object Breadth30 {

  private[graft] val PsarAf0 = 2.0 / 100.0
  private[graft] val PsarAfMax = 20.0 / 100.0
  private[graft] val StochRsiW = 14
  private[graft] val CmoW = 14
  private[graft] val RocN = 10

  /** PSAR accumulator, O(1) per key: regime
    * flag, SAR (cents-domain double), extreme point (integer cents),
    * acceleration factor, and the prior two bars' low/high (the
    * Wilder clamp ring; both slots seed at bar 1's values so the
    * bar-2 clamp degenerates to the single prior bar). */
  private[graft] case class PsarAcc(up: Boolean, sar: Double, ep: Long,
                                    af: Double, l1: Long, l2: Long,
                                    h1: Long, h2: Long)

  /** One PSAR step of the batch fold. Seed: long
    * regime, SAR at bar 1's low, EP at its high, AF = 0.02. Step:
    * SAR' = SAR + AF·(EP − SAR), clamped against the prior two bars'
    * lows (long) / highs (short); the current bar piercing the clamped
    * SAR reverses the regime (SAR jumps to the old EP, EP restarts at
    * the piercing extreme, AF resets); otherwise a new extreme steps
    * AF by 0.02 up to 0.2. Every comparison and the operand order
    * mirror the oracle's recursive CTE exactly. */
  private[graft] def psarStep(st: Option[PsarAcc], high: Long,
                              low: Long): PsarAcc = st match {
    case None =>
      PsarAcc(up = true, sar = low.toDouble, ep = high, af = PsarAf0,
        l1 = low, l2 = low, h1 = high, h2 = high)
    case Some(a) =>
      val s0 = a.sar + a.af * (a.ep.toDouble - a.sar)
      val clamped =
        if (a.up) math.min(s0, math.min(a.l1, a.l2).toDouble)
        else math.max(s0, math.max(a.h1, a.h2).toDouble)
      val rev = if (a.up) low.toDouble < clamped else high.toDouble > clamped
      if (rev)
        PsarAcc(up = !a.up, sar = a.ep.toDouble,
          ep = if (a.up) low else high, af = PsarAf0,
          l1 = low, l2 = a.l1, h1 = high, h2 = a.h1)
      else {
        val ep =
          if (a.up) math.max(a.ep, high) else math.min(a.ep, low)
        val af =
          if ((a.up && high > a.ep) || (!a.up && low < a.ep))
            math.min(a.af + PsarAf0, PsarAfMax)
          else a.af
        PsarAcc(a.up, clamped, ep, af, low, a.l1, high, a.h1)
      }
  }

  /** Parabolic SAR per key over the daily bars — one Recurrence fold;
    * emitted in the price domain (one terminal /100) with the regime
    * flag. */
  private[graft] def psar(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[PsarAcc], b: graft.ops.Bar) =>
        val a = psarStep(st, b.high, b.low)
        (a, (a.sar / 100.0, a.up))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("_1").as("psar"), s.getField("_2").as("is_up"))
    }

  /** Stochastic RSI per key: the Wilder RSI(14) series normalized to
    * its own rolling 14-bar min/max range — full windows only (the
    * warm-up NULL prefix is dropped before the window counts); a flat
    * RSI window (max = min) is unscored. The min/max picks are
    * order-free; the normalization is one fixed scalar expression. */
  private[graft] def stochRsi(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val f = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(StochRsiW - 1), 0)
    Breadth19.wilderRsiSeries(df, keyCol, tsCol, valCol, tieBreak)
      .filter(col("rsi_wilder").isNotNull)
      .withColumn("__n", count(lit(1)).over(f))
      .withColumn("__mn", min(col("rsi_wilder")).over(f))
      .withColumn("__mx", max(col("rsi_wilder")).over(f))
      .filter(col("__n") === StochRsiW)
      .select(col(keyCol), col("day"), col("close_cents"),
        col("rsi_wilder"),
        when(col("__mx") > col("__mn"),
          lit(100.0) * (col("rsi_wilder") - col("__mn"))
            / (col("__mx") - col("__mn"))).as("stoch_rsi"))
  }

  /** Chande momentum oscillator per key: 100·(ΣU − ΣD)/(ΣU + ΣD) over
    * the trailing 14 day-over-day cent moves — both sums INTEGER
    * (order-free), one terminal division; a motionless window is
    * unscored. Diffs lag over PRESENT days (the q_top_movers
    * convention); full windows only. */
  private[graft] def cmo(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val f = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(CmoW - 1), 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__d", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__d").isNotNull)
      .withColumn("__n", count(lit(1)).over(f))
      .withColumn("__su", sum(greatest(col("__d"), lit(0L))).over(f))
      .withColumn("__sd", sum(greatest(-col("__d"), lit(0L))).over(f))
      .filter(col("__n") === CmoW)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        when(col("__su") + col("__sd") > 0,
          lit(100.0) * (col("__su") - col("__sd")).cast("double")
            / (col("__su") + col("__sd")).cast("double")).as("cmo"))
  }

  /** Unannualized daily Sortino per key: mean day move over downside
    * semi-deviation, which collapses to Σx / √(n·Σmin(x,0)²) — one
    * integer numerator, one integer radicand, one division (the
    * dailySharpe algebra with the radicand counting only losing
    * days). Keys with no losing day are unscored. Int64 headroom:
    * n·Σd² with day-scale cent moves ~10⁴ holds to ~10⁷ days·keys² —
    * re-base to coarser units past that (the q_sharpe note). */
  private[graft] def sortino(df: DataFrame, keyCol: String, tsCol: String,
                             valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val dn = least(col("__x"), lit(0L))
    val g = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("__x") < 0, 1L).otherwise(0L)).as("n_down"),
        sum(col("__x")).as("__sx"), sum(dn * dn).as("__sdd"))
    g.select(col(keyCol), col("n_days"), col("n_down"),
      when(col("__sdd") > 0,
        col("__sx").cast("double")
          / sqrt((col("n_days") * col("__sdd")).cast("double")))
        .as("sortino_daily"))
  }

  /** N-day rate of change per key: 100·(C_t − C_{t−N})/C_{t−N} over
    * the day-bar closes (N bars back over PRESENT days), one terminal
    * division; a non-positive base close is unscored. */
  private[graft] def roc(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__p", lag(col("close"), RocN).over(w))
      .filter(col("__p").isNotNull)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        col("__p").as("base_cents"),
        when(col("__p") > 0,
          lit(100.0) * (col("close") - col("__p")).cast("double")
            / col("__p").cast("double")).as("roc"))
  }

  /** Classic floor-trader pivot points per key from the PRIOR day's
    * bar: P = (H+L+C)/3, R1 = 2P − L, S1 = 2P − H, R2 = P + (H−L),
    * S2 = P − (H−L). The H+L+C sum is integer; every level is a fixed
    * scalar float chain in the cents domain with ONE terminal /100
    * each — identical operand order in the oracle. First day per key
    * (no prior bar) is unscored and dropped. */
  private[graft] def pivotPoints(df: DataFrame, keyCol: String, tsCol: String,
                                 valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val withPrev = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__ph", lag(col("high"), 1).over(w))
      .withColumn("__pl", lag(col("low"), 1).over(w))
      .withColumn("__pc", lag(col("close"), 1).over(w))
      .filter(col("__ph").isNotNull)
    val p = (col("__ph") + col("__pl") + col("__pc")).cast("double") / lit(3.0)
    val rng = (col("__ph") - col("__pl")).cast("double")
    withPrev.select(col(keyCol), col("day"),
      col("close").as("close_cents"),
      (p / lit(100.0)).as("pivot"),
      ((lit(2.0) * p - col("__pl").cast("double")) / lit(100.0)).as("r1"),
      ((lit(2.0) * p - col("__ph").cast("double")) / lit(100.0)).as("s1"),
      ((p + rng) / lit(100.0)).as("r2"),
      ((p - rng) / lit(100.0)).as("s2"))
  }

  val defs: Map[String, Q] = Map(
    // Wilder parabolic SAR: the regime-switching stop-and-reverse.
    "q_psar" -> ((s, dir) =>
      psar(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // StochRSI: rolling min/max normalization of the Wilder RSI.
    "q_stoch_rsi" -> ((s, dir) =>
      stochRsi(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Chande momentum: windowed up/down cent sums, one division.
    "q_cmo" -> ((s, dir) =>
      cmo(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Sortino: mean over downside semi-deviation, integer moments.
    "q_sortino" -> ((s, dir) =>
      sortino(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // 10-day rate of change over day-bar closes.
    "q_roc" -> ((s, dir) =>
      roc(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Floor-trader pivots from the prior day's bar.
    "q_pivot_points" -> ((s, dir) =>
      pivotPoints(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** OHLC day bars + per-key bar index (the q_elder_ray oracle shape). */
  private val ohlcBarsSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close, max(c) AS high, min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close, high, low,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  /** Close-only bars + per-key bar index (the Breadth19 oracle shape). */
  private val closeBarsSql =
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
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_psar" ->
      s"""WITH RECURSIVE $ohlcBarsSql,
         |r AS (
         |  SELECT user_id, day, close, high, low, i,
         |    TRUE AS up, CAST(low AS DOUBLE) AS sar, high AS ep,
         |    2.0/100.0 AS af, low AS l1, low AS l2, high AS h1, high AS h2
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT user_id, day, close, high, low, i,
         |    CASE WHEN rev THEN NOT up ELSE up END,
         |    CASE WHEN rev THEN CAST(ep AS DOUBLE) ELSE clamped END,
         |    CASE WHEN rev THEN (CASE WHEN up THEN low ELSE high END)
         |         WHEN up THEN greatest(ep, high) ELSE least(ep, low) END,
         |    CASE WHEN rev THEN 2.0/100.0
         |         WHEN (up AND high > ep) OR (NOT up AND low < ep)
         |           THEN least(af + 2.0/100.0, 20.0/100.0)
         |         ELSE af END,
         |    low, l1, high, h1
         |  FROM (
         |    SELECT *, CASE WHEN up THEN CAST(low AS DOUBLE) < clamped
         |                   ELSE CAST(high AS DOUBLE) > clamped END AS rev
         |    FROM (
         |      SELECT b.user_id, b.day, b.close, b.high, b.low, b.i,
         |        r.up, r.ep, r.af, r.l1, r.h1,
         |        CASE WHEN r.up
         |          THEN least(r.sar + r.af * (CAST(r.ep AS DOUBLE) - r.sar),
         |            CAST(least(r.l1, r.l2) AS DOUBLE))
         |          ELSE greatest(r.sar + r.af * (CAST(r.ep AS DOUBLE) - r.sar),
         |            CAST(greatest(r.h1, r.h2) AS DOUBLE)) END AS clamped
         |      FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)))
         |SELECT user_id, day, close AS close_cents,
         |  sar / 100.0 AS psar, up AS is_up
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_stoch_rsi" ->
      s"""WITH RECURSIVE $closeBarsSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(0 AS BIGINT) AS sg, CAST(0 AS BIGINT) AS sl,
         |    CAST(NULL AS DOUBLE) AS ag, CAST(NULL AS DOUBLE) AS al
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    r.sg + greatest(b.close - r.close, 0),
         |    r.sl + greatest(r.close - b.close, 0),
         |    CASE WHEN b.i - 1 < 14 THEN NULL
         |      WHEN b.i - 1 = 14
         |        THEN CAST(r.sg + greatest(b.close - r.close, 0) AS DOUBLE) / 14.0
         |      ELSE (r.ag * 13.0 + CAST(greatest(b.close - r.close, 0) AS DOUBLE)) / 14.0
         |    END,
         |    CASE WHEN b.i - 1 < 14 THEN NULL
         |      WHEN b.i - 1 = 14
         |        THEN CAST(r.sl + greatest(r.close - b.close, 0) AS DOUBLE) / 14.0
         |      ELSE (r.al * 13.0 + CAST(greatest(r.close - b.close, 0) AS DOUBLE)) / 14.0
         |    END
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1),
         |s AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN al IS NULL THEN NULL WHEN al = 0.0 THEN 100.0
         |      ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
         |  FROM r),
         |f AS (
         |  SELECT user_id, day, close, rsi,
         |    count(*) OVER w AS n, min(rsi) OVER w AS mn, max(rsi) OVER w AS mx
         |  FROM s WHERE rsi IS NOT NULL
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${StochRsiW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents, rsi AS rsi_wilder,
         |  CASE WHEN mx > mn THEN 100.0 * (rsi - mn) / (mx - mn) END AS stoch_rsi
         |FROM f WHERE n = $StochRsiW ORDER BY user_id, day""".stripMargin,

    "q_cmo" ->
      s"""WITH $closeBarsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
         |  FROM nb),
         |f AS (
         |  SELECT user_id, day, close,
         |    count(*) OVER w AS n,
         |    CAST(sum(greatest(x, 0)) OVER w AS BIGINT) AS su,
         |    CAST(sum(greatest(-x, 0)) OVER w AS BIGINT) AS sd
         |  FROM d WHERE x IS NOT NULL
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${CmoW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN su + sd > 0
         |    THEN 100.0 * CAST(su - sd AS DOUBLE) / CAST(su + sd AS DOUBLE) END
         |    AS cmo
         |FROM f WHERE n = $CmoW ORDER BY user_id, day""".stripMargin,

    "q_sortino" ->
      s"""WITH $closeBarsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
         |  FROM nb)
         |SELECT user_id, count(*) AS n_days,
         |  CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         |  CASE WHEN sum(least(x, 0) * least(x, 0)) > 0
         |    THEN CAST(sum(x) AS DOUBLE)
         |      / sqrt(CAST(count(*) * sum(least(x, 0) * least(x, 0)) AS DOUBLE))
         |  END AS sortino_daily
         |FROM d WHERE x IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_roc" ->
      s"""WITH $closeBarsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    lag(close, $RocN) OVER (PARTITION BY user_id ORDER BY day) AS p
         |  FROM nb)
         |SELECT user_id, day, close AS close_cents, p AS base_cents,
         |  CASE WHEN p > 0
         |    THEN 100.0 * CAST(close - p AS DOUBLE) / CAST(p AS DOUBLE) END AS roc
         |FROM d WHERE p IS NOT NULL ORDER BY user_id, day""".stripMargin,

    "q_pivot_points" ->
      s"""WITH $ohlcBarsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    lag(high) OVER w AS ph, lag(low) OVER w AS pl,
         |    lag(close) OVER w AS pc
         |  FROM nb
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, close AS close_cents,
         |  (CAST(ph + pl + pc AS DOUBLE) / 3.0) / 100.0 AS pivot,
         |  (2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(pl AS DOUBLE))
         |    / 100.0 AS r1,
         |  (2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph AS DOUBLE))
         |    / 100.0 AS s1,
         |  ((CAST(ph + pl + pc AS DOUBLE) / 3.0) + CAST(ph - pl AS DOUBLE))
         |    / 100.0 AS r2,
         |  ((CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph - pl AS DOUBLE))
         |    / 100.0 AS s2
         |FROM d WHERE ph IS NOT NULL ORDER BY user_id, day""".stripMargin)
}
