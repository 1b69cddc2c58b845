package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thirty-third wave — the oscillator family's integer-ratio row:
  *
  *  - RVI (relative vigor index: Σ(C−O)/Σ(H−L) over a 10-bar window —
  *    the SMA ratio collapses to one integer-over-integer division —
  *    plus the standard 4-bar symmetric signal filter);
  *  - Ultimate Oscillator (Williams: buying pressure over true range
  *    at three nested horizons, 100·(4·a₄ + 2·a₈ + a₁₆)/7);
  *  - VHF (vertical horizontal filter: window close range over the
  *    window's Σ|ΔC| — trendiness as one integer ratio);
  *  - signed streak length (the Connors building block: consecutive
  *    up/down day runs as an integer recurrence).
  *
  * Exact-parity discipline: every window statistic here is an INTEGER
  * cent sum (order-free); each indicator ends in a fixed scalar float
  * chain with identical operand order in the oracle; the streak
  * recurrence is integer-only (no float anywhere). All ride the
  * memoized bar grid + one key window / one fold each.
  */
object Breadth33 {

  private[graft] val RviW = 10
  private[graft] val UoW1 = 4
  private[graft] val UoW2 = 8
  private[graft] val UoW3 = 16
  private[graft] val VhfW = 14

  /** RVI per key: Σ(close−open)/Σ(high−low) over the trailing 10 bars
    * (both integer sums; an all-doji window is unscored), plus the
    * 4-bar symmetric signal (rvi + 2·rvi₁ + 2·rvi₂ + rvi₃)/6 — full
    * signal windows only. */
  private[graft] def rvi(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val f = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(RviW - 1), 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__n", count(lit(1)).over(f))
      .withColumn("__sv", sum(col("close") - col("open")).over(f))
      .withColumn("__sr", sum(col("high") - col("low")).over(f))
      .filter(col("__n") === RviW)
      .withColumn("rvi",
        when(col("__sr") > 0,
          col("__sv").cast("double") / col("__sr").cast("double")))
      .withColumn("__r1", lag(col("rvi"), 1).over(w))
      .withColumn("__r2", lag(col("rvi"), 2).over(w))
      .withColumn("__r3", lag(col("rvi"), 3).over(w))
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        col("rvi"),
        ((col("rvi") + lit(2.0) * col("__r1") + lit(2.0) * col("__r2")
          + col("__r3")) / lit(6.0)).as("rvi_signal"))
  }

  /** Ultimate Oscillator per key: BP = C − min(L, prevC), TR =
    * max(H, prevC) − min(L, prevC) (integer cents), aᴺ = ΣBP/ΣTR over
    * 4/8/16 bars, UO = 100·(4·a₄ + 2·a₈ + a₁₆)/7. Bars without a
    * prior close drop; full 16-windows with positive TR sums only. */
  private[graft] def ultimateOsc(df: DataFrame, keyCol: String, tsCol: String,
                                 valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    def fr(n: Int) = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(n - 1), 0)
    val base = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__pc", lag(col("close"), 1).over(w))
      .filter(col("__pc").isNotNull)
      .withColumn("__bp", col("close") - least(col("low"), col("__pc")))
      .withColumn("__tr",
        greatest(col("high"), col("__pc")) - least(col("low"), col("__pc")))
    val scored = Seq(UoW1, UoW2, UoW3).foldLeft(base) { (d, n) =>
      d.withColumn(s"__sbp$n", sum(col("__bp")).over(fr(n)))
        .withColumn(s"__str$n", sum(col("__tr")).over(fr(n)))
    }.withColumn("__n", count(lit(1)).over(fr(UoW3)))
    def a(n: Int): Column =
      col(s"__sbp$n").cast("double") / col(s"__str$n").cast("double")
    scored.filter(col("__n") === UoW3)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        when(col(s"__str$UoW1") > 0 && col(s"__str$UoW2") > 0 &&
          col(s"__str$UoW3") > 0,
          lit(100.0) * (lit(4.0) * a(UoW1) + lit(2.0) * a(UoW2) + a(UoW3))
            / lit(7.0)).as("uo"))
  }

  /** VHF per key: (max₁₄C − min₁₄C) / Σ₁₄|ΔC| — trend strength as one
    * integer ratio; full windows with movement only. The |ΔC| window
    * counts the 14 diffs ENDING at each bar (diff rows, so the range
    * window reads the same 14 bars). */
  private[graft] def vhf(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val f = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(VhfW - 1), 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__d", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__d").isNotNull)
      .withColumn("__n", count(lit(1)).over(f))
      .withColumn("__sad", sum(abs(col("__d"))).over(f))
      .withColumn("__rng",
        max(col("close")).over(f) - min(col("close")).over(f))
      .filter(col("__n") === VhfW)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        when(col("__sad") > 0,
          col("__rng").cast("double") / col("__sad").cast("double"))
          .as("vhf"))
  }

  /** One signed-streak step (integer-only): up day extends a positive
    * run (or starts one), down day extends a negative run, unchanged
    * close resets to 0. */
  private[graft] def streakStep(prev: Long, c: Long, pc: Long): Long =
    if (c > pc) (if (prev > 0) prev + 1 else 1L)
    else if (c < pc) (if (prev < 0) prev - 1 else -1L)
    else 0L

  /** Signed streak length per key over daily closes — the integer
    * recurrence Connors RSI scores; the seed bar (no prior close)
    * emits streak 0. */
  private[graft] def streak(df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[(Long, Long)], b: graft.ops.Bar) =>
        // state: (prev close, streak)
        val s = st match {
          case None => 0L
          case Some((pc, prev)) => streakStep(prev, b.close, pc)
        }
        ((b.close, s), s)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("streak"))
    }

  val defs: Map[String, Q] = Map(
    // Relative vigor index: integer SMA ratio + symmetric signal.
    "q_rvi" -> ((s, dir) =>
      rvi(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Ultimate oscillator: three-horizon buying-pressure ratio.
    "q_ultimate_osc" -> ((s, dir) =>
      ultimateOsc(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Vertical horizontal filter: range over path length.
    "q_vhf" -> ((s, dir) =>
      vhf(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Signed up/down streak length (integer recurrence).
    "q_streak" -> ((s, dir) =>
      streak(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** OHLC day bars with open (the dayBarsCents schema). */
  private val openBarsSql =
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

  /** Close-only bars + per-key bar index. */
  private val closeBarsIdxSql =
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
    "q_rvi" ->
      s"""WITH $openBarsSql,
         |f AS (
         |  SELECT user_id, day, close,
         |    count(*) OVER w AS n,
         |    CAST(sum(close - open) OVER w AS BIGINT) AS sv,
         |    CAST(sum(high - low) OVER w AS BIGINT) AS sr
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${RviW - 1} PRECEDING AND CURRENT ROW)),
         |r AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN sr > 0 THEN CAST(sv AS DOUBLE) / CAST(sr AS DOUBLE) END
         |      AS rvi
         |  FROM f WHERE n = $RviW)
         |SELECT user_id, day, close AS close_cents, rvi,
         |  (rvi + 2.0 * lag(rvi, 1) OVER w + 2.0 * lag(rvi, 2) OVER w
         |    + lag(rvi, 3) OVER w) / 6.0 AS rvi_signal
         |FROM r
         |WINDOW w AS (PARTITION BY user_id ORDER BY day)
         |ORDER BY user_id, day""".stripMargin,

    "q_ultimate_osc" ->
      s"""WITH $openBarsSql,
         |d AS (
         |  SELECT user_id, day, close, high, low,
         |    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
         |  FROM bars),
         |bt AS (
         |  SELECT user_id, day, close,
         |    close - least(low, pc) AS bp,
         |    greatest(high, pc) - least(low, pc) AS tr
         |  FROM d WHERE pc IS NOT NULL),
         |f AS (
         |  SELECT user_id, day, close,
         |    count(*) OVER w3 AS n,
         |    CAST(sum(bp) OVER w1 AS BIGINT) AS sbp1,
         |    CAST(sum(tr) OVER w1 AS BIGINT) AS str1,
         |    CAST(sum(bp) OVER w2 AS BIGINT) AS sbp2,
         |    CAST(sum(tr) OVER w2 AS BIGINT) AS str2,
         |    CAST(sum(bp) OVER w3 AS BIGINT) AS sbp3,
         |    CAST(sum(tr) OVER w3 AS BIGINT) AS str3
         |  FROM bt
         |  WINDOW w1 AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${UoW1 - 1} PRECEDING AND CURRENT ROW),
         |    w2 AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${UoW2 - 1} PRECEDING AND CURRENT ROW),
         |    w3 AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${UoW3 - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN str1 > 0 AND str2 > 0 AND str3 > 0
         |    THEN 100.0 * (4.0 * (CAST(sbp1 AS DOUBLE) / CAST(str1 AS DOUBLE))
         |      + 2.0 * (CAST(sbp2 AS DOUBLE) / CAST(str2 AS DOUBLE))
         |      + (CAST(sbp3 AS DOUBLE) / CAST(str3 AS DOUBLE))) / 7.0
         |  END AS uo
         |FROM f WHERE n = $UoW3 ORDER BY user_id, day""".stripMargin,

    "q_vhf" ->
      s"""WITH $closeBarsIdxSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
         |  FROM nb),
         |f AS (
         |  SELECT user_id, day, close,
         |    count(*) OVER w AS n,
         |    CAST(sum(abs(x)) OVER w AS BIGINT) AS sad,
         |    max(close) OVER w - min(close) OVER w AS rng
         |  FROM d WHERE x IS NOT NULL
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${VhfW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN sad > 0
         |    THEN CAST(rng AS DOUBLE) / CAST(sad AS DOUBLE) END AS vhf
         |FROM f WHERE n = $VhfW ORDER BY user_id, day""".stripMargin,

    "q_streak" ->
      s"""WITH RECURSIVE $closeBarsIdxSql,
         |r AS (
         |  SELECT user_id, day, close, i, CAST(0 AS BIGINT) AS streak
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    CASE WHEN b.close > r.close
         |        THEN CASE WHEN r.streak > 0 THEN r.streak + 1 ELSE 1 END
         |      WHEN b.close < r.close
         |        THEN CASE WHEN r.streak < 0 THEN r.streak - 1 ELSE -1 END
         |      ELSE 0 END
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents, streak
         |FROM r ORDER BY user_id, day""".stripMargin)
}
