package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Twenty-third wave — the two remaining chart-overlay recurrences a
  * crypto dashboard's indicator menu carries that the engine lacked
  * (frontend chart conventions; the reference renders raw history only,
  * `frontend/src/App.js:464-571`):
  *
  *  - TSI, the true strength index: double EMA smoothing (13 then 25)
  *    of the day-over-day momentum and of its absolute value,
  *    TSI = 100·EMA25(EMA13(mom)) / EMA25(EMA13(|mom|)) — a recurrence
  *    OF a recurrence on the close series;
  *  - Supertrend: Wilder ATR-3 bands around the bar midpoint with the
  *    classic ratchet (the band only tightens while price respects it)
  *    and a flip rule — the trailing-stop overlay.
  *
  * Exact parity: momenta and true ranges are integer cents; every
  * smoothed value is the same IEEE expression with the same operand
  * order in the batch fold and the DuckDB oracle — TSI as one recursive
  * CTE, Supertrend as TWO chained recursions (the ATR recurrence, then
  * the band/trend recurrence over its banded rows — the q_adx oracle's
  * two-stage shape). Band comparisons run close-as-double against the
  * float band in all three engines.
  *
  * Scale shape: identical to the EMA family — one groupBy shuffle to
  * per-key day-bar arrays (calendar-bounded), one O(L) executor-local
  * fold per key, no other shuffle.
  */
object Breadth23 {

  private[graft] val A13 = 2.0 / 14.0
  private[graft] val A25 = 2.0 / 26.0
  private[graft] val StAtrN = 3
  private[graft] val StMult = 2.0

  /** TSI accumulator: previous close + the four EMA values (None until
    * their seeds). O(1) per key. */
  private[graft] case class TsiAcc(lastC: Long,
                                   e13: Option[Double], e25: Option[Double],
                                   e13a: Option[Double], e25a: Option[Double])

  /** One keyed TSI step of the batch fold.
    * EMA13 seeds at the first momentum, EMA25 at the first EMA13 value
    * (the q_macd signal-seed convention). */
  private[graft] def tsiStep(st: Option[TsiAcc], c: Long): TsiAcc = st match {
    case None => TsiAcc(c, None, None, None, None)
    case Some(a) =>
      val mom = (c - a.lastC).toDouble
      val am = math.abs(c - a.lastC).toDouble
      val e13 = a.e13 match {
        case None => mom
        case Some(p) => A13 * mom + (1.0 - A13) * p
      }
      val e25 = a.e25 match {
        case None => e13
        case Some(p) => A25 * e13 + (1.0 - A25) * p
      }
      val e13a = a.e13a match {
        case None => am
        case Some(p) => A13 * am + (1.0 - A13) * p
      }
      val e25a = a.e25a match {
        case None => e13a
        case Some(p) => A25 * e13a + (1.0 - A25) * p
      }
      TsiAcc(c, Some(e13), Some(e25), Some(e13a), Some(e25a))
  }

  /** The emitted TSI of an accumulator (None until scored — an all-flat
    * history has zero absolute momentum and stays unscored). */
  private[graft] def tsiOut(a: TsiAcc): Option[Double] =
    a.e25a.filter(_ > 0).map(x => 100.0 * a.e25.get / x)

  /** Supertrend accumulator: last bar + Wilder ATR warm-up + the
    * ratcheted bands and trend flag. O(1) per key. */
  private[graft] case class StAcc(lastH: Long, lastL: Long, lastC: Long,
                                  i: Long, trs: Long, atr: Option[Double],
                                  fub: Option[Double], flb: Option[Double],
                                  up: Option[Boolean])

  /** One keyed Supertrend step of the batch fold.
    * ATR is house-convention Wilder (simple-mean seed at bar StAtrN,
    * (prev·(n−1)+tr)/n after); bands seed at the first ATR bar with
    * trend = close > upper band; after that the classic ratchet: the
    * upper band only moves DOWN (resp. lower band up) unless the
    * previous close already broke it, and the trend flips when the
    * close crosses the OPPOSITE ratcheted band. */
  private[graft] def supertrendStep(st: Option[StAcc], h: Long, l: Long,
                                    c: Long): StAcc = {
    val n = StAtrN
    st match {
      case None =>
        StAcc(h, l, c, 1L, h - l, None, None, None, None)
      case Some(a) =>
        val tr = math.max(h - l, math.max(math.abs(h - a.lastC),
          math.abs(l - a.lastC)))
        val i = a.i + 1
        val trs = a.trs + tr
        val atr =
          if (i < n) None
          else if (i == n) Some(trs.toDouble / 3.0)
          else Some((a.atr.get * 2.0 + tr.toDouble) / 3.0)
        atr match {
          case None => StAcc(h, l, c, i, trs, None, None, None, None)
          case Some(v) =>
            val ub = (h + l).toDouble / 2.0 + StMult * v
            val lb = (h + l).toDouble / 2.0 - StMult * v
            a.fub match {
              case None =>
                StAcc(h, l, c, i, trs, atr, Some(ub), Some(lb),
                  Some(c.toDouble > ub))
              case Some(pfub) =>
                val pflb = a.flb.get
                val nfub = if (ub < pfub || a.lastC.toDouble > pfub) ub else pfub
                val nflb = if (lb > pflb || a.lastC.toDouble < pflb) lb else pflb
                val nup =
                  if (a.up.get) c.toDouble >= nflb else c.toDouble > nfub
                StAcc(h, l, c, i, trs, atr, Some(nfub), Some(nflb), Some(nup))
            }
        }
    }
  }

  private[graft] case class TsiRow(tsi: Option[Double])
  private[graft] case class StRow(atr: Option[Double],
                                  band_upper: Option[Double],
                                  band_lower: Option[Double],
                                  trend: Option[String],
                                  supertrend: Option[Double])

  /** TSI series per key over daily bars (one row per bar, null during
    * the first bar / flat histories). */
  private[graft] def tsiSeries(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[TsiAcc], b: graft.ops.Bar) =>
        val a = tsiStep(st, b.close)
        (a, TsiRow(tsiOut(a)))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("tsi").as("tsi"))
    }

  /** Supertrend series per key over daily bars — BANDED rows only (the
    * ATR warm-up is unscored and dropped, the oracle's row set). */
  private[graft] def supertrendSeries(df: DataFrame, keyCol: String,
                                      tsCol: String, valCol: String,
                                      tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[StAcc], b: graft.ops.Bar) =>
        val a = supertrendStep(st, b.high, b.low, b.close)
        (a, StRow(a.atr, a.fub, a.flb,
          a.up.map(u => if (u) "up" else "down"),
          a.up.map(u => if (u) a.flb.get else a.fub.get)))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("atr").as("atr"),
        s.getField("band_upper").as("band_upper"),
        s.getField("band_lower").as("band_lower"),
        s.getField("trend").as("trend"),
        s.getField("supertrend").as("supertrend"))
    }
      .filter(col("atr").isNotNull)

  val defs: Map[String, Q] = Map(
    // True strength index: double-EMA-smoothed momentum ratio.
    "q_tsi" -> ((s, dir) =>
      tsiSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Supertrend: ratcheted ATR bands + trend flips.
    "q_supertrend" -> ((s, dir) =>
      supertrendSeries(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** Close-only bars + per-key index (the Breadth19 prefix). */
  private val barsSql =
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

  /** The true-range step expression against the previous CTE row `k`
    * and the joined bar `b`. */
  private val trSql =
    "greatest(b.high - b.low, abs(b.high - k.close), abs(b.low - k.close))"

  val oracle: Map[String, String] = Map(
    "q_tsi" ->
      s"""WITH RECURSIVE $barsSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(NULL AS DOUBLE) AS e13, CAST(NULL AS DOUBLE) AS e25,
         |    CAST(NULL AS DOUBLE) AS e13a, CAST(NULL AS DOUBLE) AS e25a
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    CASE WHEN r.e13 IS NULL THEN CAST(b.close - r.close AS DOUBLE)
         |      ELSE (2.0/14.0) * CAST(b.close - r.close AS DOUBLE) + (1.0 - 2.0/14.0) * r.e13 END,
         |    CASE WHEN r.e25 IS NULL THEN CAST(b.close - r.close AS DOUBLE)
         |      ELSE (2.0/26.0) * (CASE WHEN r.e13 IS NULL THEN CAST(b.close - r.close AS DOUBLE)
         |        ELSE (2.0/14.0) * CAST(b.close - r.close AS DOUBLE) + (1.0 - 2.0/14.0) * r.e13 END)
         |        + (1.0 - 2.0/26.0) * r.e25 END,
         |    CASE WHEN r.e13a IS NULL THEN CAST(abs(b.close - r.close) AS DOUBLE)
         |      ELSE (2.0/14.0) * CAST(abs(b.close - r.close) AS DOUBLE) + (1.0 - 2.0/14.0) * r.e13a END,
         |    CASE WHEN r.e25a IS NULL THEN CAST(abs(b.close - r.close) AS DOUBLE)
         |      ELSE (2.0/26.0) * (CASE WHEN r.e13a IS NULL THEN CAST(abs(b.close - r.close) AS DOUBLE)
         |        ELSE (2.0/14.0) * CAST(abs(b.close - r.close) AS DOUBLE) + (1.0 - 2.0/14.0) * r.e13a END)
         |        + (1.0 - 2.0/26.0) * r.e25a END
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN e25a IS NOT NULL AND e25a > 0 THEN 100.0 * e25 / e25a END AS tsi
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_supertrend" ->
      s"""WITH RECURSIVE $barsSql,
         |k AS (
         |  SELECT user_id, day, close, high, low, i,
         |    high - low AS trs, CAST(NULL AS DOUBLE) AS atr
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.high, b.low, b.i,
         |    k.trs + $trSql,
         |    CASE WHEN b.i < $StAtrN THEN NULL
         |      WHEN b.i = $StAtrN THEN CAST(k.trs + $trSql AS DOUBLE) / 3.0
         |      ELSE (k.atr * 2.0 + CAST($trSql AS DOUBLE)) / 3.0 END
         |  FROM k JOIN nb b ON b.user_id = k.user_id AND b.i = k.i + 1),
         |banded AS (
         |  SELECT user_id, day, close,
         |    CAST(high + low AS DOUBLE) / 2.0 + 2.0 * atr AS ub,
         |    CAST(high + low AS DOUBLE) / 2.0 - 2.0 * atr AS lb,
         |    atr,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS j
         |  FROM k WHERE atr IS NOT NULL),
         |st AS (
         |  SELECT user_id, day, close, ub, lb, atr, j,
         |    ub AS fub, lb AS flb, CAST(close AS DOUBLE) > ub AS up
         |  FROM banded WHERE j = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.ub, b.lb, b.atr, b.j,
         |    CASE WHEN b.ub < a.fub OR CAST(a.close AS DOUBLE) > a.fub THEN b.ub ELSE a.fub END,
         |    CASE WHEN b.lb > a.flb OR CAST(a.close AS DOUBLE) < a.flb THEN b.lb ELSE a.flb END,
         |    CASE WHEN a.up THEN CAST(b.close AS DOUBLE) >=
         |        (CASE WHEN b.lb > a.flb OR CAST(a.close AS DOUBLE) < a.flb THEN b.lb ELSE a.flb END)
         |      ELSE CAST(b.close AS DOUBLE) >
         |        (CASE WHEN b.ub < a.fub OR CAST(a.close AS DOUBLE) > a.fub THEN b.ub ELSE a.fub END)
         |    END
         |  FROM st a JOIN banded b ON b.user_id = a.user_id AND b.j = a.j + 1)
         |SELECT user_id, day, close AS close_cents, atr,
         |  fub AS band_upper, flb AS band_lower,
         |  CASE WHEN up THEN 'up' ELSE 'down' END AS trend,
         |  CASE WHEN up THEN flb ELSE fub END AS supertrend
         |FROM st ORDER BY user_id, day""".stripMargin)
}
