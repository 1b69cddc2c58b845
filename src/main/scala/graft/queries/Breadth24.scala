package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twenty-fourth wave — the chart-overlay completions: the four
  * remaining overlays a crypto dashboard's indicator menu carries that
  * the engine lacked (frontend chart conventions; the reference renders
  * raw history only, `frontend/src/App.js:464-571`):
  *
  *  - Ichimoku cloud (tenkan/kijun midlines, displaced senkou spans,
  *    chikou lagging close) — pure windows + lag/lead;
  *  - Aroon (bars since the window's most recent highest high / lowest
  *    low, scaled to 0..100) — a list-over-window position scan;
  *  - Heikin-Ashi bars (the smoothed-candle recurrence: each open is
  *    the midpoint of the previous HA bar) — a per-key O(L) fold;
  *  - Ulcer index (RMS percent drawdown from the window's running
  *    peak) — a list-over-window fold.
  *
  * Exact-parity discipline (house rules): all bars are integer cents
  * from the tie-safe q_ohlc formulation. Ichimoku midlines are integer
  * sums with DYADIC terminal divisions (/2, /4 — exact in IEEE754, so
  * the displaced spans carry no drift); Aroon is pure integers (20·k);
  * Heikin-Ashi values are dyadic rationals by induction (seeded on
  * integers, each step averages 2 or 4 dyadics), so the recurrence is
  * bit-exact in ANY engine with no operand-order caveats; the ulcer
  * squared-drawdown is quantized per bar to an integer in 1e-8 units
  * via one identical-operand float expression, then integer-summed
  * (order-free) with one terminal sqrt.
  *
  * Scale shape: one groupBy shuffle to the |keys|·|days| bar table
  * (calendar-bounded), then ONE window shuffle per key (ichimoku,
  * aroon, ulcer) or one O(L) executor-local fold per key (heikin-ashi,
  * the EMA-family shape). The aroon/ulcer windows materialize a
  * w-element list per bar row — linear with a constant-w factor,
  * spill-safe.
  */
object Breadth24 {

  /** Scaled-down periods for the 22–30-day test histories: tenkan 3,
    * kijun 5, senkou-B 10, displacement 3 (classic 9/26/52/26 — same
    * arithmetic, production swaps the constants). */
  private[graft] val TenkanW = 3
  private[graft] val KijunW = 5
  private[graft] val SenkouBW = 10
  private[graft] val Disp = 3

  private[graft] val AroonW = 6
  private[graft] val UlcerW = 5

  /** Ichimoku cloud over daily bars. Each midline is the integer
    * (HH + LL) of its trailing full window, halved at the edge; senkou
    * spans are the displaced midlines (span A the tenkan/kijun average
    * — a /4 dyadic); chikou is the close led `Disp` bars. Components on
    * short windows are null, the row set is the whole bar table. */
  private[graft] def ichimoku(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    def mid2(w: Int) = { // HH+LL over the trailing w bars, null if short
      val f = days.rowsBetween(-(w - 1), 0)
      when(count(lit(1)).over(f) === w,
        max(col("high")).over(f) + min(col("low")).over(f))
    }
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__t2", mid2(TenkanW))
      .withColumn("__k2", mid2(KijunW))
      .withColumn("__b2", mid2(SenkouBW))
      .withColumn("__a4", col("__t2") + col("__k2"))
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        (col("__t2").cast("double") / lit(200.0)).as("tenkan"),
        (col("__k2").cast("double") / lit(200.0)).as("kijun"),
        (lag(col("__a4"), Disp).over(days).cast("double") / lit(400.0))
          .as("senkou_a"),
        (lag(col("__b2"), Disp).over(days).cast("double") / lit(200.0))
          .as("senkou_b"),
        lead(col("close"), Disp).over(days).as("chikou_cents"))
  }

  /** Aroon up/down/oscillator over the trailing `AroonW` bars including
    * the current one: bars since the MOST RECENT highest high (resp.
    * lowest low) in the window, scaled as 20·(5 − bars_since) — pure
    * integers in {0, 20, …, 100}. The most-recent tie stance is the
    * classic one (a re-touched high is fresh information); short
    * windows are dropped. The per-row frame list is AroonW elements —
    * constant memory per bar row. */
  private[graft] def aroon(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val f = days.rowsBetween(-(AroonW - 1), 0)
    val span = lit(AroonW - 1)
    def since(c: String, agg: Column): Column =
      array_position(reverse(col(c)), agg) - 1
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__hs", collect_list(col("high")).over(f))
      .withColumn("__ls", collect_list(col("low")).over(f))
      .filter(size(col("__hs")) === AroonW)
      .withColumn("__dh", since("__hs", array_max(col("__hs"))))
      .withColumn("__dl", since("__ls", array_min(col("__ls"))))
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        (lit(20L) * (span - col("__dh"))).as("aroon_up"),
        (lit(20L) * (span - col("__dl"))).as("aroon_dn"),
        (lit(20L) * (col("__dl") - col("__dh"))).as("aroon_osc"))
  }

  /** Heikin-Ashi accumulator: the previous HA open/close — O(1) per
    * key. Dyadic by induction. */
  private[graft] case class HaAcc(haO: Double, haC: Double)

  /** One keyed Heikin-Ashi step of the batch fold.
    * Seed: haO₁ = (O+C)/2; step: haOᵢ = (haOᵢ₋₁ + haCᵢ₋₁)/2; always
    * haC = (O+H+L+C)/4. Every value is a dyadic rational (exact IEEE). */
  private[graft] def haStep(st: Option[HaAcc], o: Long, h: Long, l: Long,
                            c: Long): HaAcc = {
    val haC = (o + h + l + c).toDouble / 4.0
    st match {
      case None => HaAcc((o + c).toDouble / 2.0, haC)
      case Some(a) => HaAcc((a.haO + a.haC) / 2.0, haC)
    }
  }

  private[graft] case class HaRow(ha_open: Double, ha_high: Double,
                                  ha_low: Double, ha_close: Double)

  /** The emitted HA bar of a step: high/low wrap the real extremes
    * around the smoothed body. */
  private[graft] def haOut(a: HaAcc, h: Long, l: Long): HaRow =
    HaRow(a.haO, math.max(h.toDouble, math.max(a.haO, a.haC)),
      math.min(l.toDouble, math.min(a.haO, a.haC)), a.haC)

  /** Heikin-Ashi series per key over daily bars (one row per bar — the
    * recurrence scores from the first bar). */
  private[graft] def heikinAshi(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val byKey = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("open"),
        col("close"), col("high"), col("low")))).as("__bars"))
    val loop = udf { (os: Seq[Long], hs: Seq[Long], ls: Seq[Long],
                      cs: Seq[Long]) =>
      var st: Option[HaAcc] = None
      cs.indices.map { k =>
        val a = haStep(st, os(k), hs(k), ls(k), cs(k))
        st = Some(a)
        haOut(a, hs(k), ls(k))
      }
    }
    byKey.withColumn("__s", loop(
        transform(col("__bars"), _.getField("open")),
        transform(col("__bars"), _.getField("high")),
        transform(col("__bars"), _.getField("low")),
        transform(col("__bars"), _.getField("close"))))
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__s"),
        (b, s) => struct(b.getField("day").as("day"),
          s.getField("ha_open").as("ha_open"),
          s.getField("ha_high").as("ha_high"),
          s.getField("ha_low").as("ha_low"),
          s.getField("ha_close").as("ha_close")))).as("r"))
      .select(col(keyCol), col("r.day"), col("r.ha_open"), col("r.ha_high"),
        col("r.ha_low"), col("r.ha_close"))
  }

  /** Ulcer index over the trailing `UlcerW` closes including the
    * current one: each bar's percent drawdown from the window's RUNNING
    * peak (peak-so-far within the window, in bar order), squared and
    * quantized to integer 1e-8 units by ONE identical-operand float
    * expression — floor(1e8·dd²/m²) — then integer-summed (order-free)
    * with one terminal sqrt. Short windows are dropped; an all-rising
    * window has zero drawdown and scores 0. */
  private[graft] def ulcer(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val f = days.rowsBetween(-(UlcerW - 1), 0)
    // left fold over the frame list: (running peak m, Σ quantized dd²).
    // A zero peak (every close so far 0 cents — present in the
    // regenerated sf0.1 data) forces dd = 0 too; contribute 0 rather
    // than evaluate 0/0 (ANSI raises on double division by zero).
    val fold = aggregate(col("__cs"),
      struct(lit(0L).as("m"), lit(0L).as("s")),
      (acc, c) => {
        val m = greatest(acc.getField("m"), c)
        val dd = (m - c).cast("double")
        struct(m.as("m"),
          (acc.getField("s") + when(m > 0, floor(lit(1.0e8) * dd * dd /
            (m.cast("double") * m.cast("double"))).cast("long"))
            .otherwise(lit(0L))).as("s"))
      })
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__cs", collect_list(col("close")).over(f))
      .filter(size(col("__cs")) === UlcerW)
      .withColumn("__q", fold.getField("s"))
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        col("__q").as("sum_dd2_q"),
        sqrt(col("__q").cast("double") / lit(UlcerW * 1.0e8) * lit(1.0e4))
          .as("ulcer"))
  }

  val defs: Map[String, Q] = Map(
    // Ichimoku cloud: integer midlines, displaced spans, lagging close.
    "q_ichimoku" -> ((s, dir) =>
      ichimoku(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Aroon up/down/oscillator: bars-since-extreme as pure integers.
    "q_aroon" -> ((s, dir) =>
      aroon(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Heikin-Ashi smoothed candles: the dyadic midpoint recurrence.
    "q_heikin_ashi" -> ((s, dir) =>
      heikinAshi(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Ulcer index: RMS drawdown from the window's running peak.
    "q_ulcer" -> ((s, dir) =>
      ulcer(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** Tie-safe daily cent bars WITH open (first_value twin of the
    * Breadth23 prefix's last_value close). */
  private val barsSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(op) AS open, max(cl) AS close,
      |    max(c) AS high, min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c,
      |      first_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS op,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ichimoku" ->
      s"""WITH $barsSql,
         |mids AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN count(*) OVER ft = $TenkanW
         |      THEN max(high) OVER ft + min(low) OVER ft END AS t2,
         |    CASE WHEN count(*) OVER fk = $KijunW
         |      THEN max(high) OVER fk + min(low) OVER fk END AS k2,
         |    CASE WHEN count(*) OVER fb = $SenkouBW
         |      THEN max(high) OVER fb + min(low) OVER fb END AS b2
         |  FROM bars
         |  WINDOW
         |    ft AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${TenkanW - 1} PRECEDING AND CURRENT ROW),
         |    fk AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${KijunW - 1} PRECEDING AND CURRENT ROW),
         |    fb AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${SenkouBW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents,
         |  CAST(t2 AS DOUBLE) / 200.0 AS tenkan,
         |  CAST(k2 AS DOUBLE) / 200.0 AS kijun,
         |  CAST(lag(t2 + k2, $Disp) OVER wd AS DOUBLE) / 400.0 AS senkou_a,
         |  CAST(lag(b2, $Disp) OVER wd AS DOUBLE) / 200.0 AS senkou_b,
         |  lead(close, $Disp) OVER wd AS chikou_cents
         |FROM mids
         |WINDOW wd AS (PARTITION BY user_id ORDER BY day)
         |ORDER BY user_id, day""".stripMargin,

    "q_aroon" ->
      s"""WITH $barsSql,
         |lists AS (
         |  SELECT user_id, day, close,
         |    list(high) OVER f AS lh, list(low) OVER f AS ll
         |  FROM bars
         |  WINDOW f AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${AroonW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents,
         |  CAST(20 * (${AroonW - 1} - (list_position(list_reverse(lh), list_max(lh)) - 1)) AS BIGINT) AS aroon_up,
         |  CAST(20 * (${AroonW - 1} - (list_position(list_reverse(ll), list_min(ll)) - 1)) AS BIGINT) AS aroon_dn,
         |  CAST(20 * ((list_position(list_reverse(ll), list_min(ll)) - 1)
         |      - (list_position(list_reverse(lh), list_max(lh)) - 1)) AS BIGINT) AS aroon_osc
         |FROM lists WHERE len(lh) = $AroonW
         |ORDER BY user_id, day""".stripMargin,

    "q_heikin_ashi" ->
      s"""WITH RECURSIVE $barsSql,
         |nb AS (
         |  SELECT user_id, day, open, close, high, low,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
         |  FROM bars),
         |r AS (
         |  SELECT user_id, day, high, low, i,
         |    CAST(open + close AS DOUBLE) / 2.0 AS hao,
         |    CAST(open + high + low + close AS DOUBLE) / 4.0 AS hac
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.high, b.low, b.i,
         |    (r.hao + r.hac) / 2.0,
         |    CAST(b.open + b.high + b.low + b.close AS DOUBLE) / 4.0
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, hao AS ha_open,
         |  greatest(CAST(high AS DOUBLE), greatest(hao, hac)) AS ha_high,
         |  least(CAST(low AS DOUBLE), least(hao, hac)) AS ha_low,
         |  hac AS ha_close
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_ulcer" ->
      s"""WITH $barsSql,
         |nb AS (
         |  SELECT user_id, day, close,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i,
         |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${UlcerW - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS n
         |  FROM bars),
         |member AS (
         |  SELECT a.user_id, a.day AS anchor_day, a.close AS anchor_close,
         |    b.i AS j, b.close AS c,
         |    max(b.close) OVER (PARTITION BY a.user_id, a.day ORDER BY b.i) AS m
         |  FROM nb a JOIN nb b
         |    ON b.user_id = a.user_id AND b.i BETWEEN a.i - ${UlcerW - 1} AND a.i
         |  WHERE a.n = $UlcerW),
         |summed AS (
         |  SELECT user_id, anchor_day AS day, anchor_close AS close_cents,
         |    CAST(sum(CASE WHEN m > 0
         |      THEN CAST(floor(1.0e8 * CAST(m - c AS DOUBLE) * CAST(m - c AS DOUBLE)
         |        / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS sum_dd2_q
         |  FROM member GROUP BY user_id, anchor_day, anchor_close)
         |SELECT user_id, day, close_cents, sum_dd2_q,
         |  sqrt(CAST(sum_dd2_q AS DOUBLE) / ${UlcerW}.0e8 * 1.0e4) AS ulcer
         |FROM summed ORDER BY user_id, day""".stripMargin)
}
