package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thirty-first wave — weighted moving averages, gain/loss ratios,
  * drawdown anatomy, and a bigram language model:
  *
  *  - WMA(10) (linearly-weighted MA — the integer-numerator form);
  *  - HMA(8) (Hull's lag-reduced MA: WMA(3) over 2·WMA(4) − WMA(8));
  *  - Omega ratio (Σgains/Σlosses at threshold 0 — the whole-
  *    distribution sibling of Sharpe/Sortino);
  *  - Calmar-style recovery ratio (net move over max peak-to-trough
  *    drop, both integer cents);
  *  - drawdown duration (gaps-and-islands over the underwater flag on
  *    the bar grid: longest spell below the running peak);
  *  - interpolated bigram LM scoring over the documents corpus (the
  *    q_unigram_lm ladder's next rung).
  *
  * Exact-parity discipline: WMA numerators are INTEGER lag sums (the
  * weights are small integers, the division is one terminal float
  * step); HMA's inner raw series is a fixed scalar float chain with
  * identical association order in the oracle; omega/calmar/duration
  * are all-integer until one terminal division; the bigram LM
  * quantizes each bigram's log-prob to integer 1e-6 units (floor)
  * before the per-doc sum, so the only float accumulation is an
  * order-free integer sum (the float-mean parity rule).
  *
  * Scale shape: the indicator queries ride the memoized bar grid
  * (one shared shuffle) + one key window each; omega/calmar/duration
  * are hash aggregates over the bar table; the bigram LM joins doc
  * bigrams against the |distinct-bigrams|-bounded corpus count table
  * (AQE broadcasts the unigram side) — never doc × vocab.
  */
object Breadth31 {

  private[graft] val WmaN = 10
  private[graft] val WmaDen = WmaN * (WmaN + 1) / 2 // 55
  private[graft] val BigramLambda = 4.0 / 5.0

  /** Integer lag-weighted numerator Σ_{j=0..n−1} (n−j)·close_{t−j} —
    * null until the window is full (any null lag nulls the sum in
    * both engines). */
  private def wmaNum(n: Int, w: org.apache.spark.sql.expressions.WindowSpec)
      : Column =
    (0 until n).map { j =>
      val c = if (j == 0) col("close") else lag(col("close"), j).over(w)
      lit(n - j) * c
    }.reduce(_ + _)

  /** WMA(10) per key over the daily close bars: the linearly-weighted
    * mean as one integer numerator over the constant 55, one terminal
    * division into the price domain; full windows only. */
  private[graft] def wma(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__num", wmaNum(WmaN, w))
      .filter(col("__num").isNotNull)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        (col("__num").cast("double") / lit(WmaDen.toDouble) / lit(100.0))
          .as("wma"))
  }

  /** HMA(8) per key: raw_t = 2·WMA(4) − WMA(8) (cents-domain double,
    * fixed operand order), then a 3-bar WMA over raw —
    * (3·raw_t + 2·raw_{t−1} + raw_{t−2})/6, left-associated exactly as
    * the oracle writes it; one terminal /100. Full windows only
    * (8 bars for the inner pair, 2 more for the outer). */
  private[graft] def hma(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val raw = lit(2.0) * (wmaNum(4, w).cast("double") / lit(10.0)) -
      wmaNum(8, w).cast("double") / lit(36.0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__raw", raw)
      .withColumn("__hma",
        (lit(3.0) * col("__raw") + lit(2.0) * lag(col("__raw"), 1).over(w)
          + lit(1.0) * lag(col("__raw"), 2).over(w)) / lit(6.0))
      .filter(col("__hma").isNotNull)
      .select(col(keyCol), col("day"), col("close").as("close_cents"),
        (col("__hma") / lit(100.0)).as("hma"))
  }

  /** Omega ratio per key at threshold 0 over day-over-day cent moves:
    * Σgains / Σlosses — both INTEGER sums (order-free), one terminal
    * division; all-gain keys are unscored. Also emits the win rate
    * (up-days over scored days, one division). */
  private[graft] def omega(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("__x") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(greatest(col("__x"), lit(0L))).as("sum_gain_cents"),
        sum(greatest(-col("__x"), lit(0L))).as("sum_loss_cents"))
      .select(col(keyCol), col("n_days"), col("n_up"),
        col("sum_gain_cents"), col("sum_loss_cents"),
        when(col("sum_loss_cents") > 0,
          col("sum_gain_cents").cast("double")
            / col("sum_loss_cents").cast("double")).as("omega"),
        (col("n_up").cast("double") / col("n_days").cast("double"))
          .as("win_rate"))
  }

  /** Calmar-style recovery ratio per key: net close move (last − first
    * by day order — both picked by min_by/max_by on the unique day)
    * over the max peak-to-trough drop (running-max minus close,
    * integer cents, max-of order-free); flat-peak keys (never under
    * water) are unscored. */
  private[graft] def calmar(df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String): DataFrame = {
    val run = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__dd", max(col("close")).over(run) - col("close"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        (max_by(col("close"), col("day")) - min_by(col("close"), col("day")))
          .as("net_cents"),
        max(col("__dd")).as("max_dd_cents"))
      .select(col(keyCol), col("n_days"), col("net_cents"),
        col("max_dd_cents"),
        when(col("max_dd_cents") > 0,
          col("net_cents").cast("double") / col("max_dd_cents").cast("double"))
          .as("calmar"))
  }

  /** Drawdown duration per key: gaps-and-islands over the underwater
    * flag (close strictly below the running peak) on the day-bar grid
    * — longest spell in BARS, spell count, and total underwater bars.
    * Never-underwater keys report zeros. All-integer logic. */
  private[graft] def ddDuration(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val days = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val run = days.rowsBetween(Window.unboundedPreceding, 0)
    val flagged = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__below", col("close") < max(col("close")).over(run))
      .withColumn("__rn", row_number().over(days))
      .withColumn("__rnb", row_number().over(
        Window.partitionBy(col(keyCol), col("__below")).orderBy(col("day").asc)))
    val totals = flagged.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("__below"), 1L).otherwise(0L)).as("n_underwater"))
    val spells = flagged.filter(col("__below"))
      .groupBy(col(keyCol), (col("__rn") - col("__rnb")).as("__grp"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col(keyCol))
      .agg(max(col("__len")).as("max_spell_bars"),
        count(lit(1)).as("n_spells"))
    totals.join(spells, Seq(keyCol), "left")
      .select(col(keyCol), col("n_days"), col("n_underwater"),
        coalesce(col("max_spell_bars"), lit(0L)).as("max_spell_bars"),
        coalesce(col("n_spells"), lit(0L)).as("n_spells"))
  }

  /** Interpolated bigram LM scoring per document: corpus bigram counts
    * c₁₂ over the token stream, P(w₂|w₁) = λ·c₁₂/c₁ + (1−λ)·(c₂+1)/
    * (N+V) (λ = 0.8; the backoff term is the q_unigram_lm add-1
    * unigram), each bigram's log₂ P quantized to integer 1e-6 units
    * (floor) BEFORE the per-doc sum — the only accumulation is an
    * exact integer sum, one terminal division for the mean. Every
    * scored bigram exists in the corpus (self-scoring), so P > 0
    * always. Docs with <2 tokens have no bigrams and drop. */
  private[graft] def bigramLm(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    bigramLmDocs(Tables.documents(s, dir), Extensions4.tokenCounts(s, dir))

  /** The corpus-parameterized core of [[bigramLm]] — `uc` must be the
    * (tok, true_n) unigram count table of the SAME corpus (the query
    * path passes the memoized session frame). */
  private[graft] def bigramLmDocs(docs: DataFrame, uc: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(graft.text.Text.tokens(col("text"))).as(Seq("pos", "tok")))
    val seq = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val bigrams = toks
      .withColumn("__w2", lead(col("tok"), 1).over(seq))
      .filter(col("__w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("__w2").as("w2"))
    val bc = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val scal = uc.agg(sum(col("true_n")).as("n_total"),
      count(lit(1)).as("v_size"))
    val p = lit(BigramLambda) *
      (col("c12").cast("double") / col("__c1").cast("double")) +
      lit(1.0 - BigramLambda) *
        ((col("__c2") + 1).cast("double")
          / (col("n_total") + col("v_size")).cast("double"))
    bigrams
      .join(bc, Seq("w1", "w2"))
      .join(uc.select(col("tok").as("w1"), col("true_n").as("__c1")), Seq("w1"))
      .join(uc.select(col("tok").as("w2"), col("true_n").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        floor(lit(1.0e6) * log2(p)).cast("long").as("__lpq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lpq")).as("sum_lp_q"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lp_q"),
        (col("sum_lp_q").cast("double") / col("n_bigrams").cast("double")
          / lit(1.0e6)).as("avg_log2p"))
  }

  val defs: Map[String, Q] = Map(
    // Linearly-weighted MA(10): integer lag-sum numerator over 55.
    "q_wma" -> ((s, dir) =>
      wma(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Hull MA(8): WMA(3) of 2·WMA(4) − WMA(8).
    "q_hma" -> ((s, dir) =>
      hma(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Omega ratio at threshold 0 + win rate.
    "q_omega" -> ((s, dir) =>
      omega(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Calmar-style net-move-over-max-drawdown recovery ratio.
    "q_calmar" -> ((s, dir) =>
      calmar(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Longest underwater spell (gaps-and-islands on the bar grid).
    "q_dd_duration" -> ((s, dir) =>
      ddDuration(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Interpolated bigram LM corpus-likelihood scoring.
    "q_bigram_lm" -> ((s, dir) =>
      bigramLm(s, dir).orderBy(col("doc_id").asc)))

  /** Close-only bars (the Breadth19 oracle shape, no index). */
  private val barsSql =
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
      |  GROUP BY user_id, day)""".stripMargin

  /** The SQL twin of [[wmaNum]] — the same integer lag sum. */
  private def sqlWmaNum(n: Int): String =
    (0 until n).map { j =>
      val c = if (j == 0) "close" else s"lag(close, $j) OVER w"
      s"(${n - j}) * $c"
    }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    "q_wma" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT user_id, day, close, ${sqlWmaNum(WmaN)} AS num
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, close AS close_cents,
         |  CAST(num AS DOUBLE) / ${WmaDen.toDouble} / 100.0 AS wma
         |FROM d WHERE num IS NOT NULL ORDER BY user_id, day""".stripMargin,

    "q_hma" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    2.0 * (CAST(${sqlWmaNum(4)} AS DOUBLE) / 10.0)
         |      - CAST(${sqlWmaNum(8)} AS DOUBLE) / 36.0 AS raw
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         |h AS (
         |  SELECT user_id, day, close,
         |    (3.0 * raw + 2.0 * lag(raw, 1) OVER w
         |      + 1.0 * lag(raw, 2) OVER w) / 6.0 AS hma
         |  FROM d
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, close AS close_cents, hma / 100.0 AS hma
         |FROM h WHERE hma IS NOT NULL ORDER BY user_id, day""".stripMargin,

    "q_omega" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
         |  FROM bars)
         |SELECT user_id, count(*) AS n_days,
         |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         |  CAST(sum(greatest(x, 0)) AS BIGINT) AS sum_gain_cents,
         |  CAST(sum(greatest(-x, 0)) AS BIGINT) AS sum_loss_cents,
         |  CASE WHEN sum(greatest(-x, 0)) > 0
         |    THEN CAST(sum(greatest(x, 0)) AS DOUBLE)
         |      / CAST(sum(greatest(-x, 0)) AS DOUBLE) END AS omega,
         |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS win_rate
         |FROM d WHERE x IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_calmar" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT user_id, day, close,
         |    max(close) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - close AS dd
         |  FROM bars)
         |SELECT user_id, count(*) AS n_days,
         |  arg_max(close, day) - arg_min(close, day) AS net_cents,
         |  max(dd) AS max_dd_cents,
         |  CASE WHEN max(dd) > 0
         |    THEN CAST(arg_max(close, day) - arg_min(close, day) AS DOUBLE)
         |      / CAST(max(dd) AS DOUBLE) END AS calmar
         |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_dd_duration" ->
      s"""WITH $barsSql,
         |b AS (
         |  SELECT user_id, day, close,
         |    close < max(close) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS below
         |  FROM bars),
         |f AS (
         |  SELECT user_id, day, close, below,
         |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
         |    row_number() OVER (PARTITION BY user_id, below ORDER BY day)
         |      AS rnb
         |  FROM b),
         |tot AS (
         |  SELECT user_id, count(*) AS n_days,
         |    CAST(sum(CASE WHEN below THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_underwater
         |  FROM f GROUP BY user_id),
         |sp AS (
         |  SELECT user_id, max(len) AS max_spell_bars,
         |    count(*) AS n_spells
         |  FROM (
         |    SELECT user_id, rn - rnb AS grp, count(*) AS len
         |    FROM f WHERE below GROUP BY user_id, rn - rnb)
         |  GROUP BY user_id)
         |SELECT t.user_id, t.n_days, t.n_underwater,
         |  coalesce(s.max_spell_bars, 0) AS max_spell_bars,
         |  coalesce(s.n_spells, 0) AS n_spells
         |FROM tot t LEFT JOIN sp s ON t.user_id = s.user_id
         |ORDER BY t.user_id""".stripMargin,

    "q_bigram_lm" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Extensions.sqlTokens("text")}) AS tok,
         |    unnest(range(1, len(${Extensions.sqlTokens("text")}) + 1)) AS pos
         |  FROM documents),
         |big AS (
         |  SELECT doc_id, tok AS w1,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM toks),
         |b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
         |bc AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM b2 GROUP BY w1, w2),
         |uc AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n
         |  FROM toks GROUP BY tok),
         |scal AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         |    CAST(count(*) AS BIGINT) AS v_size
         |  FROM uc),
         |lp AS (
         |  SELECT b.doc_id,
         |    CAST(floor(1.0e6 * log2(
         |      (4.0/5.0) * (CAST(bc.c12 AS DOUBLE) / CAST(u1.n AS DOUBLE))
         |      + (1.0 - 4.0/5.0) * (CAST(u2.n + 1 AS DOUBLE)
         |          / CAST(s.n_total + s.v_size AS DOUBLE)))) AS BIGINT) AS lpq
         |  FROM b2 b
         |  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
         |  JOIN uc u1 ON b.w1 = u1.tok
         |  JOIN uc u2 ON b.w2 = u2.tok
         |  CROSS JOIN scal s)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(lpq) AS BIGINT) AS sum_lp_q,
         |  CAST(sum(lpq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1.0e6
         |    AS avg_log2p
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
