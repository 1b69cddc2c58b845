package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-thirteenth wave — composite band/relative-strength/flow
  * indicators over the bar grid.
  *
  *  - **q_ttm_squeeze**: the Bollinger-inside-Keltner squeeze — both
  *    bands in their SMA forms so the verdict is ONE integer
  *    cross-multiplication (16·varNum·n < 9·(ΣTR)²·(n−1)); band widths
  *    emitted as the usual single-division doubles. True range reads
  *    the previous close through one lag.
  *  - **q_rs_ratio**: JdK-style relative strength vs the equal-weight
  *    market — RS = close/Σclose per day (one division), then
  *    RS-ratio = 100·RS/SMA10(RS) with RS 1e-6-QUANTIZED before the
  *    trailing sum so the SMA is order-free.
  *  - **q_vpt**: volume-price trend — the running Σ vol·(Δc/c_prev)
  *    with each term 1e-6-quantized before the cumulative int64 sum
  *    (the OBV sibling with proportional flows).
  *
  * Scale shape: all per-key ROWS/cumulative windows over the memoized
  * bar and day-volume grids; the market series is a |days| aggregate
  * joined back. */
object Breadth112 {

  private val BbN = 20
  private val RsN = 10

  /** Bollinger(20, 2σ) vs SMA-Keltner(20, 1.5·ATR) squeeze flags. */
  private[graft] def ttmSqueeze(df: DataFrame, keyCol: String,
                                tsCol: String, valCol: String,
                                tieBreak: String,
                                n: Int = BbN): DataFrame = {
    val seq = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val frame = seq.rowsBetween(-(n - 1), Window.currentRow)
    val b = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__pc", lag(col("close"), 1).over(seq))
      .withColumn("__tr", when(col("__pc").isNull,
        col("high") - col("low")).otherwise(
        greatest(col("high") - col("low"),
          abs(col("high") - col("__pc")), abs(col("low") - col("__pc")))))
      .withColumn("__s", sum(col("close")).over(frame))
      .withColumn("__q", sum(col("close") * col("close")).over(frame))
      .withColumn("__st", sum(col("__tr")).over(frame))
      .withColumn("__m", count(lit(1)).over(frame))
    val varNum = col("__m") * col("__q") - col("__s") * col("__s")
    b.select(col(keyCol), col("day"),
        (d(col("close")) / lit(100.0)).as("close"),
        // 2σ BB half-width and 1.5·SMA(TR) KC half-width, in dollars;
        // a 1-bar window has no σ (ANSI divide-by-zero otherwise)
        when(col("__m") > 1,
          lit(2.0) * sqrt(d(varNum) /
            (d(col("__m")) * d(col("__m") - 1L))) / lit(100.0))
          .as("bb_halfwidth"),
        (lit(1.5) * d(col("__st")) / d(col("__m")) / lit(100.0))
          .as("kc_halfwidth"),
        (col("__m") > 1 && varNum * lit(16L) * col("__m") <
          col("__st") * col("__st") * lit(9L) * (col("__m") - 1L))
          .as("squeeze_on"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** RS-ratio vs the equal-weight market close. */
  private[graft] def rsRatio(df: DataFrame, keyCol: String, tsCol: String,
                             valCol: String, tieBreak: String,
                             n: Int = RsN): DataFrame = {
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
    val mkt = bars.groupBy(col("day")).agg(sum(col("close")).as("__mc"))
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(n - 1), Window.currentRow)
    bars.join(mkt, Seq("day"))
      .withColumn("__rsq",
        q6(d(col("close")) / d(col("__mc"))))
      .withColumn("__sr", sum(col("__rsq")).over(frame))
      .withColumn("__m", count(lit(1)).over(frame))
      .select(col(keyCol), col("day"),
        (d(col("__rsq")) / lit(1.0e6)).as("rs"),
        (lit(100.0) * d(col("__rsq")) * d(col("__m")) / d(col("__sr")))
          .as("rs_ratio"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** Volume-price trend: cumulative quantized vol·(Δc/c_prev). */
  private[graft] def vpt(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String,
                         qtyJsonField: String): DataFrame = {
    val seq = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .join(Breadth27.dayVols(df, keyCol, tsCol, qtyJsonField),
        Seq(keyCol, "day"))
      .withColumn("__pc", lag(col("close"), 1).over(seq))
      .withColumn("__term", when(col("__pc").isNotNull && col("__pc") > 0,
        q6(d(col("__v")) * d(col("close") - col("__pc")) / d(col("__pc"))))
        .otherwise(0L))
      .withColumn("__vpt", sum(col("__term")).over(run))
      .select(col(keyCol), col("day"),
        (d(col("close")) / lit(100.0)).as("close"),
        (d(col("__vpt")) / lit(1.0e6)).as("vpt"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_ttm_squeeze" -> ((s, dir) =>
      ttmSqueeze(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_rs_ratio" -> ((s, dir) =>
      rsRatio(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_vpt" -> ((s, dir) =>
      vpt(Tables.events(s, dir), "user_id", "ts", "value", "event_id",
        "k")))

  private val OhlcSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id,
      |    props
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close, max(c) AS high,
      |    min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c, props,
      |      last_value(c) OVER (PARTITION BY user_id, day
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |        AS cl
      |    FROM t)
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ttm_squeeze" ->
      s"""WITH $OhlcSql,
         |tr AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN lag(close) OVER wk IS NULL THEN high - low
         |    ELSE greatest(high - low, abs(high - lag(close) OVER wk),
         |      abs(low - lag(close) OVER wk)) END AS trng
         |  FROM bars WINDOW wk AS (PARTITION BY user_id ORDER BY day)),
         |w AS (
         |  SELECT user_id, day, close,
         |    CAST(sum(close) OVER wf AS BIGINT) AS s,
         |    CAST(sum(close * close) OVER wf AS BIGINT) AS q,
         |    CAST(sum(trng) OVER wf AS BIGINT) AS st,
         |    CAST(count(*) OVER wf AS BIGINT) AS m
         |  FROM tr
         |  WINDOW wf AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${BbN - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, CAST(close AS DOUBLE) / 100.0 AS close,
         |  CASE WHEN m > 1 THEN
         |    2.0 * sqrt(CAST(m * q - s * s AS DOUBLE)
         |      / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))) / 100.0
         |  END AS bb_halfwidth,
         |  1.5 * CAST(st AS DOUBLE) / CAST(m AS DOUBLE) / 100.0
         |    AS kc_halfwidth,
         |  m > 1 AND (m * q - s * s) * 16 * m < st * st * 9 * (m - 1)
         |    AS squeeze_on
         |FROM w ORDER BY user_id, day""".stripMargin,

    "q_rs_ratio" ->
      s"""WITH $OhlcSql,
         |mk AS (SELECT day, CAST(sum(close) AS BIGINT) AS mc FROM bars
         |  GROUP BY 1),
         |r AS (
         |  SELECT user_id, day,
         |    CAST(floor(CAST(close AS DOUBLE) / CAST(mc AS DOUBLE)
         |      * 1000000.0 + 0.5) AS BIGINT) AS rsq
         |  FROM bars JOIN mk USING (day)),
         |w AS (
         |  SELECT user_id, day, rsq,
         |    CAST(sum(rsq) OVER wf AS BIGINT) AS sr,
         |    CAST(count(*) OVER wf AS BIGINT) AS m
         |  FROM r
         |  WINDOW wf AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${RsN - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, CAST(rsq AS DOUBLE) / 1000000.0 AS rs,
         |  100.0 * CAST(rsq AS DOUBLE) * CAST(m AS DOUBLE)
         |    / CAST(sr AS DOUBLE) AS rs_ratio
         |FROM w ORDER BY user_id, day""".stripMargin,

    "q_vpt" ->
      s"""WITH $OhlcSql,
         |vols AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |    CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM events GROUP BY 1, 2
         |  HAVING sum(CAST(json_extract_string(props, '$$.k') AS BIGINT))
         |    IS NOT NULL),
         |j AS (
         |  SELECT bars.user_id, bars.day, bars.close, vols.v,
         |    lag(bars.close) OVER (PARTITION BY bars.user_id
         |      ORDER BY bars.day) AS pc
         |  FROM bars JOIN vols ON bars.user_id = vols.user_id
         |    AND bars.day = vols.day),
         |tm AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN pc IS NOT NULL AND pc > 0 THEN
         |      CAST(floor(CAST(v AS DOUBLE)
         |        * CAST(close - pc AS DOUBLE) / CAST(pc AS DOUBLE)
         |        * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS term
         |  FROM j)
         |SELECT user_id, day, CAST(close AS DOUBLE) / 100.0 AS close,
         |  CAST(CAST(sum(term) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS DOUBLE) / 1000000.0 AS vpt
         |FROM tm ORDER BY user_id, day""".stripMargin)
}
