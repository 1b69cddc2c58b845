package graft.queries

import graft.Tables
import graft.store.Memo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Thirteenth relational wave — pattern detection and dispersion
  * diagnostics:
  *
  *  - candlestick pattern flags over daily bars (the chart annotations a
  *    price dashboard grows: doji, bullish engulfing, hammer);
  *  - source-skewed vocabulary (which tokens over-index in one source —
  *    the corpus-mix diagnostic before reweighting);
  *  - inter-arrival burstiness (index of dispersion of tick gaps — a
  *    scheduler-vs-organic-traffic tripwire).
  *
  * Exact-parity discipline: bars and bodies are integer CENTS, gaps are
  * integer SECONDS, skew is cross-multiplied integer counts — pattern
  * booleans are integer comparisons (never float), and each dispersion
  * score is one terminal division of integer operands.
  */
object Breadth13 {

  /** Daily integer-cent OHLC bars per key: open/close via the tie-safe
    * explicit-full-frame window (q_ohlc formulation), high/low as plain
    * min/max. One (key, day) window + one aggregate — a single shuffle,
    * paid ONCE per (session, input plan) via graft.store.Memo: ~36
    * indicator queries across 14 files derive day bars from the SAME
    * events scan and share ONE |keys·days|-sized frame (round-8 verdict:
    * the single biggest recoverable chunk of the bench total). */
  private[graft] def dayBarsCents(df: DataFrame, keyCol: String, tsCol: String,
                                  valCol: String, tieBreak: String): DataFrame =
    Memo(df, s"bars|$keyCol|$tsCol|$valCol|$tieBreak") {
      dayBarsCentsPlan(df, keyCol, tsCol, valCol, tieBreak)
    }

  /** The raw (un-memoized) bar-grid plan — plan pins read its real
    * lineage here (the memoized grid plans as a bare parquet scan). */
  private[graft] def dayBarsCentsPlan(df: DataFrame, keyCol: String, tsCol: String,
                                      valCol: String, tieBreak: String): DataFrame = {
      val bar = Window.partitionBy(col(keyCol), col("__day"))
        .orderBy(col(tsCol).asc, col(tieBreak).asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.withColumn("__day", col(tsCol).cast("date"))
        .withColumn("__c", cents(col(valCol)))
        .withColumn("__open", first(col("__c")).over(bar))
        .withColumn("__close", last(col("__c")).over(bar))
        .groupBy(col(keyCol), col("__day").as("day"))
        .agg(max(col("__open")).as("open"), max(col("__close")).as("close"),
          max(col("__c")).as("high"), min(col("__c")).as("low"))
  }

  /** Candlestick pattern flags over the daily bars — all comparisons in
    * integer cents (body·20 vs range, shadows vs body), engulfing reads
    * the PRIOR bar through one lag on the |key·days|-sized bar table. */
  private[graft] def candlePatterns(df: DataFrame, keyCol: String, tsCol: String,
                                    valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val body = abs(col("close") - col("open"))
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__po", lag(col("open"), 1).over(days))
      .withColumn("__pc", lag(col("close"), 1).over(days))
      .withColumn("doji", body * lit(20L) <= col("high") - col("low"))
      .withColumn("bullish_engulf",
        col("__pc").isNotNull && col("__pc") < col("__po") &&
          col("close") > col("open") &&
          col("open") <= col("__pc") && col("close") >= col("__po"))
      .withColumn("hammer",
        lower >= body * lit(2L) && upper <= body)
      .drop("__po", "__pc")
  }

  /** Tokens over-indexing in `target` vs the rest of the corpus, scored
    * by the cross-multiplied count skew |n_t·N_r − n_r·N_t| (integer —
    * the unnormalized two-proportion deviation; the division-free twin
    * of the KS trick). Top-k by (skew desc, token asc) is a TakeOrdered,
    * never a global sort; the aggregate is |vocab|-sized. */
  private[graft] def tokenSkew(df: DataFrame, textCol: String,
                               isTarget: Column, k: Int): DataFrame = {
    val toks = df.select(isTarget.as("__t"),
      explode(graft.text.Text.tokens(col(textCol))).as("tok"))
    val perTok = toks.groupBy(col("tok"))
      .agg(count(when(col("__t"), 1)).as("n_target"),
        count(when(!col("__t"), 1)).as("n_rest"))
    val totals = perTok.agg(sum(col("n_target")).as("__nt"),
      sum(col("n_rest")).as("__nr"))
    perTok.crossJoin(broadcast(totals))
      .withColumn("skew",
        abs(col("n_target") * col("__nr") - col("n_rest") * col("__nt")))
      .select(col("tok"), col("n_target"), col("n_rest"), col("skew"))
      .orderBy(col("skew").desc, col("tok").asc)
      .limit(k)
  }

  /** Inter-arrival burstiness per key: the index of dispersion of whole-
    * second tick gaps, kept integer via (n·Σg² − (Σg)²) / (n·Σg) — one
    * terminal division. ≈1 for Poisson arrivals, ≫1 bursty, ≈0 for a
    * metronome scheduler (the "is this feed organic" tripwire). Keys
    * with <2 gaps are unscored. Int64 headroom: n·Σg² with day-scale
    * gaps holds to ~10⁶ ticks/key; re-base to coarser units beyond. */
  private[graft] def burstiness(df: DataFrame, keyCol: String, tsCol: String,
                                tieBreak: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    // integer `div`, mirrored by DuckDB's `//` — never a double quotient
    df.withColumn("__us", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("__s", expr("__us div 1000000"))
      .withColumn("__g", col("__s") - lag(col("__s"), 1).over(ord))
      .filter(col("__g").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__g")).as("sum_gap_s"),
        when(count(lit(1)) >= 2 && sum(col("__g")) > 0,
          (count(lit(1)) * sum(col("__g") * col("__g")) -
            sum(col("__g")) * sum(col("__g"))).cast("double") /
            (count(lit(1)) * sum(col("__g"))).cast("double"))
          .as("burstiness"))
  }

  val defs: Map[String, Q] = Map(
    // Candlestick pattern annotations over daily bars, integer cents.
    "q_candle_patterns" -> ((s, dir) =>
      candlePatterns(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Vocabulary over-indexing in source src0 vs the rest — top-20.
    "q_token_skew" -> ((s, dir) =>
      tokenSkew(Tables.documents(s, dir), "text", col("source") === "src0", 20)),

    // Tick-gap dispersion per series key.
    "q_burstiness" -> ((s, dir) =>
      burstiness(Tables.events(s, dir), "user_id", "ts", "event_id")
        .orderBy(col("user_id").asc)))

  val oracle: Map[String, String] = Map(
    "q_candle_patterns" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day,
        |    max(o) AS open, max(cl) AS close, max(c) AS high, min(c) AS low
        |  FROM (
        |    SELECT user_id, day, c,
        |      first_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |lagged AS (
        |  SELECT user_id, day, open, close, high, low,
        |    lag(open) OVER (PARTITION BY user_id ORDER BY day) AS po,
        |    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
        |  FROM bars)
        |SELECT user_id, day, open, close, high, low,
        |  abs(close - open) * 20 <= high - low AS doji,
        |  pc IS NOT NULL AND pc < po AND close > open
        |    AND open <= pc AND close >= po AS bullish_engulf,
        |  least(open, close) - low >= abs(close - open) * 2
        |    AND high - greatest(open, close) <= abs(close - open) AS hammer
        |FROM lagged ORDER BY user_id, day""".stripMargin,

    "q_token_skew" -> {
      val toks = Extensions.sqlTokens("text")
      s"""WITH toks AS (
         |  SELECT source = 'src0' AS t, unnest($toks) AS tok FROM documents),
         |per AS (
         |  SELECT tok,
         |    count(CASE WHEN t THEN 1 END) AS n_target,
         |    count(CASE WHEN NOT t THEN 1 END) AS n_rest
         |  FROM toks GROUP BY tok),
         |tot AS (
         |  SELECT CAST(sum(n_target) AS BIGINT) AS nt,
         |    CAST(sum(n_rest) AS BIGINT) AS nr FROM per)
         |SELECT tok, n_target, n_rest,
         |  CAST(abs(n_target * nr - n_rest * nt) AS BIGINT) AS skew
         |FROM per CROSS JOIN tot
         |ORDER BY skew DESC, tok LIMIT 20""".stripMargin
    },

    "q_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 1000000
        |      - lag(epoch_us(ts) // 1000000)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS sum_gap_s,
        |  CASE WHEN count(*) >= 2 AND sum(gap) > 0
        |    THEN CAST(count(*) * sum(gap * gap) - sum(gap) * sum(gap) AS DOUBLE)
        |      / CAST(count(*) * sum(gap) AS DOUBLE)
        |  END AS burstiness
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)
}
