package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nineteenth wave — the EMA-family indicators (EMA, MACD, Wilder RSI),
  * the per-row RECURRENCES deliberately deferred until now: unlike every
  * prior indicator, EMA_t depends on EMA_{t-1}, so no bounded window
  * frame expresses it and the closed-form prefix-sum rewrite
  * (EMA_t = r^t·Σ c_i·r^{-i}) overflows double past ~70 bars (r^{-i}
  * grows as e^{i·(1-r)}). What a crypto dashboard calls "MACD(12,26,9)"
  * (frontend chart conventions; reference shows raw history only,
  * `frontend/src/App.js:464-571`).
  *
  * Design: recurrences run over DAY BARS, not ticks — the per-key series
  * length is CALENDAR-BOUNDED (≤366·years elements regardless of data
  * volume), so collecting each key's bar array and folding it
  * executor-locally is one groupBy shuffle of |keys|·|days| bar rows.
  * The PRODUCTION fold is an O(L) Scala loop UDF over the collected
  * close array (one UDF call per KEY, so losing codegen costs nothing);
  * the `aggregate` higher-order Column fold is kept as the spec-pinned
  * REFERENCE form — its concat-append is O(L²) element copies per key,
  * harmless at calendar-bounded L but superlinear for multi-decade
  * histories (the round-7 ADVICE item this closes). The fold order is
  * the day order — identical to the DuckDB recursive-CTE oracle's join
  * order — and every step is the same IEEE double expression with the
  * same operand order, so batch (both forms) and oracle agree
  * bit-for-bit (Wave19Spec pins loop == HOF; the driver oracle re-proves
  * loop == DuckDB at three SFs).
  *
  * Seeding conventions (pinned in all three engines): EMA seeds at the
  * first close (EMA_1 = c_1), the MACD signal seeds at the first MACD
  * value (= 0), Wilder RSI seeds its averages with the simple mean of
  * the first 14 diffs and is null during warm-up.
  */
object Breadth19 {

  private[graft] val A20 = 2.0 / 21.0
  private[graft] val A12 = 2.0 / 13.0
  private[graft] val A26 = 2.0 / 27.0
  private[graft] val A9 = 2.0 / 10.0
  private[graft] val RsiN = 14

  /** Per-key day-sorted bar array (close in integer cents via the
    * tie-safe q_ohlc last-value discipline) — the shared, memoized
    * Recurrence grid; sort order (by unique day) is unchanged by the
    * extra high/low/vol fields. */
  private def barArrays(df: DataFrame, keyCol: String, tsCol: String,
                        valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.barArrays(df, keyCol, tsCol, valCol, tieBreak)

  /** Per-step results of the linear folds — same field names as the HOF
    * forms' structs so both paths share one emit expression. */
  private[graft] case class MacdStep(e12: Double, e26: Double, sig: Double)
  private[graft] case class WilderStep(c: Long, sg: Long, sl: Long,
                                       ag: Option[Double], al: Option[Double])
  private[graft] case class KeltnerStep(c: Long, ema: Double, trs: Long,
                                        atr: Option[Double])

  /** EMA(n) series per key over day-bar cent closes. Emitted `ema` is in
    * the PRICE domain (one terminal /100.0, mirrored by the oracle).
    * `linear = true` (production) folds with an O(L) Scala loop;
    * `false` uses the O(L²)-append `aggregate` reference form. */
  private[graft] def emaSeries(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String,
                               n: Int, linear: Boolean = true): DataFrame = {
    val a = 2.0 / (n + 1.0)
    val hof = aggregate(
      col("__bars"),
      expr("CAST(array() AS ARRAY<DOUBLE>)"),
      (acc, x) => {
        val c = x.getField("close").cast("double")
        concat(acc, array(
          when(size(acc) === 0, c)
            .otherwise(lit(a) * c + lit(1.0 - a) * element_at(acc, -1))))
      })
    val loop = graft.ops.Recurrence.foldUdf {
      (st: Option[Double], b: graft.ops.Bar) =>
        val c = b.close.toDouble
        val e = if (st.isEmpty) c else a * c + (1.0 - a) * st.get
        (e, e)
    }
    val emas =
      if (linear)
        loop.apply(graft.ops.Recurrence.foldInputs(col("__bars")): _*)
      else hof
    barArrays(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__e", emas)
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__e"),
        (b, e) => struct(b.getField("day").as("day"),
          b.getField("close").as("close_cents"),
          (e / lit(100.0)).as("ema")))).as("r"))
      .select(col(keyCol), col("r.day"), col("r.close_cents"), col("r.ema"))
  }

  /** MACD(12,26,9) per key: fast/slow EMAs and the signal EMA carried
    * through ONE fold (the signal recurrence reads the same step's new
    * fast/slow values — exactly the recursive CTE's shape). */
  private[graft] def macdSeries(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String,
                                linear: Boolean = true): DataFrame = {
    val hof = aggregate(
      col("__bars"),
      expr("CAST(array() AS ARRAY<STRUCT<e12: DOUBLE, e26: DOUBLE, sig: DOUBLE>>)"),
      (acc, x) => {
        val c = x.getField("close").cast("double")
        val prev = element_at(acc, -1)
        val e12 = when(size(acc) === 0, c)
          .otherwise(lit(A12) * c + lit(1.0 - A12) * prev.getField("e12"))
        val e26 = when(size(acc) === 0, c)
          .otherwise(lit(A26) * c + lit(1.0 - A26) * prev.getField("e26"))
        val sig = when(size(acc) === 0, lit(0.0))
          .otherwise(lit(A9) * (e12 - e26) + lit(1.0 - A9) * prev.getField("sig"))
        concat(acc, array(struct(e12.as("e12"), e26.as("e26"), sig.as("sig"))))
      })
    val loop = graft.ops.Recurrence.foldUdf {
      (st: Option[MacdStep], b: graft.ops.Bar) =>
        val c = b.close.toDouble
        val m = st match {
          case None => MacdStep(c, c, 0.0)
          case Some(p) =>
            val e12 = A12 * c + (1.0 - A12) * p.e12
            val e26 = A26 * c + (1.0 - A26) * p.e26
            MacdStep(e12, e26,
              A9 * (e12 - e26) + (1.0 - A9) * p.sig)
        }
        (m, m)
    }
    val macds =
      if (linear)
        loop.apply(graft.ops.Recurrence.foldInputs(col("__bars")): _*)
      else hof
    barArrays(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__m", macds)
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__m"),
        (b, s) => {
          val e12 = s.getField("e12"); val e26 = s.getField("e26")
          val sig = s.getField("sig")
          struct(b.getField("day").as("day"),
            b.getField("close").as("close_cents"),
            ((e12 - e26) / lit(100.0)).as("macd"),
            (sig / lit(100.0)).as("macd_signal"),
            ((e12 - e26 - sig) / lit(100.0)).as("hist"))
        })).as("r"))
      .select(col(keyCol), col("r.day"), col("r.close_cents"),
        col("r.macd"), col("r.macd_signal"), col("r.hist"))
  }

  /** Wilder-smoothed RSI(14) per key: integer gain/loss sums during the
    * warm-up (exact), the classic (prev·13 + x)/14 recurrence after.
    * Null until the 15th bar — the warm-up period is unscored. */
  private[graft] def wilderRsiSeries(df: DataFrame, keyCol: String, tsCol: String,
                                     valCol: String, tieBreak: String,
                                     linear: Boolean = true): DataFrame = {
    val n = RsiN
    val hof = aggregate(
      col("__bars"),
      expr("CAST(array() AS ARRAY<STRUCT<c: BIGINT, sg: BIGINT, sl: BIGINT, " +
        "ag: DOUBLE, al: DOUBLE>>)"),
      (acc, x) => {
        val c = x.getField("close")
        val prev = element_at(acc, -1)
        val d = c - prev.getField("c")
        val g = greatest(d, lit(0L))
        val l = greatest(-d, lit(0L))
        val j = size(acc).cast("long") // 1-based diff index of THIS step
        val sg = prev.getField("sg") + g
        val sl = prev.getField("sl") + l
        val ag = when(j < n, lit(null).cast("double"))
          .when(j === n, sg.cast("double") / lit(14.0))
          .otherwise((prev.getField("ag") * lit(13.0) + g.cast("double")) / lit(14.0))
        val al = when(j < n, lit(null).cast("double"))
          .when(j === n, sl.cast("double") / lit(14.0))
          .otherwise((prev.getField("al") * lit(13.0) + l.cast("double")) / lit(14.0))
        val first = struct(c.as("c"), lit(0L).as("sg"), lit(0L).as("sl"),
          lit(null).cast("double").as("ag"), lit(null).cast("double").as("al"))
        val step = struct(c.as("c"), sg.as("sg"), sl.as("sl"),
          ag.as("ag"), al.as("al"))
        concat(acc, array(when(size(acc) === 0, first).otherwise(step)))
      })
    val loop = graft.ops.Recurrence.foldUdfIndexed {
      (st: Option[WilderStep], b: graft.ops.Bar, i: Int) =>
        val c = b.close
        val w = st match {
          case None => WilderStep(c, 0L, 0L, None, None)
          case Some(p) =>
            val d = c - p.c
            val g = math.max(d, 0L)
            val l = math.max(-d, 0L)
            val j = i.toLong // 1-based diff index of this step
            val sg = p.sg + g
            val sl = p.sl + l
            val (ag, al) =
              if (j < n) (None, None)
              else if (j == n)
                (Some(sg.toDouble / 14.0), Some(sl.toDouble / 14.0))
              else
                (Some((p.ag.get * 13.0 + g.toDouble) / 14.0),
                  Some((p.al.get * 13.0 + l.toDouble) / 14.0))
            WilderStep(c, sg, sl, ag, al)
        }
        (w, w)
    }
    val accs =
      if (linear)
        loop.apply(graft.ops.Recurrence.foldInputs(col("__bars")): _*)
      else hof
    barArrays(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__w", accs)
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__w"),
        (b, s) => {
          val ag = s.getField("ag"); val al = s.getField("al")
          struct(b.getField("day").as("day"),
            b.getField("close").as("close_cents"),
            when(al.isNull, lit(null).cast("double"))
              .when(al === 0.0, lit(100.0))
              .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + ag / al))
              .as("rsi_wilder"))
        })).as("r"))
      .select(col(keyCol), col("r.day"), col("r.close_cents"), col("r.rsi_wilder"))
  }

  private[graft] val AtrN = 10

  /** Keltner channel per key: EMA-20 midline ± 2 × Wilder-smoothed
    * ATR-10, with breakout flags — the volatility-adaptive band the
    * Bollinger screen's σ-band is usually compared against. BOTH
    * recurrences (EMA and the Wilder ATR) ride in ONE fold; true
    * ranges are integer cents (intraday spread vs gap through prior
    * close, the q_atr discipline), the ATR seeds with the simple mean
    * of the first 10 TRs and is null during warm-up (flags unscored).
    * Breakout comparisons happen on the cents-domain doubles BEFORE the
    * terminal /100, with identical operand order in the oracle. */
  private[graft] def keltnerSeries(df: DataFrame, keyCol: String, tsCol: String,
                                   valCol: String, tieBreak: String,
                                   linear: Boolean = true): DataFrame = {
    val n = AtrN
    val byKey =
      graft.ops.Recurrence.barArrays(df, keyCol, tsCol, valCol, tieBreak)
    val hof = aggregate(
      col("__bars"),
      expr("CAST(array() AS ARRAY<STRUCT<c: BIGINT, ema: DOUBLE, " +
        "trs: BIGINT, atr: DOUBLE>>)"),
      (acc, x) => {
        val c = x.getField("close"); val h = x.getField("high")
        val l = x.getField("low")
        val prev = element_at(acc, -1)
        val j = size(acc).cast("long") // bars BEFORE this one
        val tr = when(j === 0, h - l)
          .otherwise(greatest(h - l, abs(h - prev.getField("c")),
            abs(l - prev.getField("c"))))
        val ema = when(j === 0, c.cast("double"))
          .otherwise(lit(A20) * c.cast("double") +
            lit(1.0 - A20) * prev.getField("ema"))
        val trs = when(j === 0, tr).otherwise(prev.getField("trs") + tr)
        val atr = when(j + 1 < n, lit(null).cast("double"))
          .when(j + 1 === n, trs.cast("double") / lit(10.0))
          .otherwise((prev.getField("atr") * lit(9.0) + tr.cast("double")) / lit(10.0))
        concat(acc, array(struct(c.as("c"), ema.as("ema"),
          trs.as("trs"), atr.as("atr"))))
      })
    val loop = graft.ops.Recurrence.foldUdfIndexed {
      (st: Option[KeltnerStep], b: graft.ops.Bar, i: Int) =>
        val c = b.close; val h = b.high; val l = b.low
        val tr =
          if (i == 0) h - l
          else math.max(h - l,
            math.max(math.abs(h - st.get.c), math.abs(l - st.get.c)))
        val ema =
          if (i == 0) c.toDouble
          else A20 * c.toDouble + (1.0 - A20) * st.get.ema
        val trs = if (i == 0) tr else st.get.trs + tr
        val atr =
          if (i + 1 < n) None
          else if (i + 1 == n) Some(trs.toDouble / 10.0)
          else Some((st.get.atr.get * 9.0 + tr.toDouble) / 10.0)
        val k = KeltnerStep(c, ema, trs, atr)
        (k, k)
    }
    val accs =
      if (linear)
        loop.apply(graft.ops.Recurrence.foldInputs(col("__bars")): _*)
      else hof
    byKey.withColumn("__k", accs)
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__k"),
        (b, s) => {
          val ema = s.getField("ema"); val atr = s.getField("atr")
          val cD = b.getField("close").cast("double")
          struct(b.getField("day").as("day"),
            b.getField("close").as("close_cents"),
            (ema / lit(100.0)).as("keltner_mid"),
            (atr / lit(100.0)).as("atr10"),
            when(atr.isNotNull, cD > ema + lit(2.0) * atr).as("break_up"),
            when(atr.isNotNull, cD < ema - lit(2.0) * atr).as("break_dn"))
        })).as("r"))
      .select(col(keyCol), col("r.day"), col("r.close_cents"),
        col("r.keltner_mid"), col("r.atr10"), col("r.break_up"), col("r.break_dn"))
  }

  val defs: Map[String, Q] = Map(
    // 20-day EMA over daily closes, seeded at the first bar.
    "q_ema" -> ((s, dir) =>
      emaSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id", 20)
        .orderBy(col("user_id").asc, col("day").asc)),

    // MACD(12,26,9): macd line, signal line, histogram.
    "q_macd" -> ((s, dir) =>
      macdSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Wilder-smoothed RSI(14) — the EMA-recurrence twin of the
    // SMA-based q_rsi.
    "q_rsi_wilder" -> ((s, dir) =>
      wilderRsiSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Keltner channel: EMA-20 mid, 2×ATR-10 band, breakout flags.
    "q_keltner" -> ((s, dir) =>
      keltnerSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** Shared oracle prefix: tie-safe daily cent closes (+ high/low for
    * the Keltner true ranges) + per-key bar index (mirrors
    * Breadth13.dayBarsCents + the fold's sort order). */
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

  val oracle: Map[String, String] = Map(
    "q_ema" ->
      s"""WITH RECURSIVE $barsSql,
         |ema AS (
         |  SELECT user_id, day, close, i, CAST(close AS DOUBLE) AS e
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/21.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/21.0) * ema.e
         |  FROM ema JOIN nb b ON b.user_id = ema.user_id AND b.i = ema.i + 1)
         |SELECT user_id, day, close AS close_cents, e / 100.0 AS ema
         |FROM ema ORDER BY user_id, day""".stripMargin,

    "q_macd" ->
      s"""WITH RECURSIVE $barsSql,
         |m AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS e12, CAST(close AS DOUBLE) AS e26,
         |    CAST(0.0 AS DOUBLE) AS sig
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/13.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/13.0) * m.e12,
         |    (2.0/27.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/27.0) * m.e26,
         |    (2.0/10.0) * (((2.0/13.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/13.0) * m.e12)
         |      - ((2.0/27.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/27.0) * m.e26))
         |      + (1.0 - 2.0/10.0) * m.sig
         |  FROM m JOIN nb b ON b.user_id = m.user_id AND b.i = m.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  (e12 - e26) / 100.0 AS macd, sig / 100.0 AS macd_signal,
         |  (e12 - e26 - sig) / 100.0 AS hist
         |FROM m ORDER BY user_id, day""".stripMargin,

    "q_keltner" ->
      s"""WITH RECURSIVE $barsSql,
         |k AS (
         |  SELECT user_id, day, close, high, low, i,
         |    CAST(close AS DOUBLE) AS ema,
         |    high - low AS trs,
         |    CAST(NULL AS DOUBLE) AS atr
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.high, b.low, b.i,
         |    (2.0/21.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/21.0) * k.ema,
         |    k.trs + greatest(b.high - b.low,
         |      abs(b.high - k.close), abs(b.low - k.close)),
         |    CASE WHEN b.i < 10 THEN NULL
         |      WHEN b.i = 10 THEN CAST(k.trs + greatest(b.high - b.low,
         |        abs(b.high - k.close), abs(b.low - k.close)) AS DOUBLE) / 10.0
         |      ELSE (k.atr * 9.0 + CAST(greatest(b.high - b.low,
         |        abs(b.high - k.close), abs(b.low - k.close)) AS DOUBLE)) / 10.0
         |    END
         |  FROM k JOIN nb b ON b.user_id = k.user_id AND b.i = k.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  ema / 100.0 AS keltner_mid, atr / 100.0 AS atr10,
         |  CASE WHEN atr IS NOT NULL
         |    THEN CAST(close AS DOUBLE) > ema + 2.0 * atr END AS break_up,
         |  CASE WHEN atr IS NOT NULL
         |    THEN CAST(close AS DOUBLE) < ema - 2.0 * atr END AS break_dn
         |FROM k ORDER BY user_id, day""".stripMargin,

    "q_rsi_wilder" ->
      s"""WITH RECURSIVE $barsSql,
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
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN al IS NULL THEN NULL WHEN al = 0.0 THEN 100.0
         |    ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi_wilder
         |FROM r ORDER BY user_id, day""".stripMargin)
}
