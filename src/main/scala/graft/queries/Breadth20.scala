package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Twentieth wave — market-microstructure measures, the risk/liquidity
  * row a portfolio dashboard adds next to price history:
  *
  *  - market beta per key (sensitivity to the aggregate market move —
  *    the one-factor model's slope);
  *  - Amihud-style illiquidity (price impact per unit of traded
  *    quantity);
  *  - Roll's implied spread (the classic 1984 estimator: bid-ask
  *    bounce shows up as NEGATIVE serial covariance of consecutive
  *    price changes).
  *
  * Exact-parity discipline (the house rules): price moves are integer
  * CENT diffs, quantities integer JSON props, every co-moment is an
  * integer cross-multiplied sum, and each measure ends in ONE terminal
  * float step (a division, or division→sqrt) with identical operand
  * order in the DuckDB oracle — bit-exact, no rounding anywhere.
  */
object Breadth20 {

  /** Market beta per key over calendar-consecutive day-bar close diffs:
    * beta_k = cov(x_k, M) / var(M) with x the key's day-over-day cent
    * diff and M the SAME-day sum of diffs across all keys (the
    * equal-cent-weight market move, the key's own diff included, as in
    * an index). Diffs pair days d and d−1 via an equi-join on the bar
    * table (day = day+1) — only calendar-consecutive closes count, so
    * a gap never fabricates a multi-day "move". Both moments are
    * integer cross-multiplied sums; one terminal division. Keys whose
    * market-move variance is 0 are unscored. Int64 headroom: with
    * |keys| ~ 10⁶ the market diff M ~ 10¹⁰ makes M², ΣM² and n·ΣM²
    * overflow — re-base M to thousandths of the cent sum (or widen to
    * double) at that breadth; at dashboard scale (10²–10⁴ keys) the
    * integer path holds with room. The headroom is GUARDED, not just
    * documented: the quadratic moments are recomputed in
    * DecimalType(38,0) alongside the int64 path and any divergence
    * (per-row product wrap, sum wrap, or final cross-product wrap)
    * raises — non-ANSI Spark would otherwise wrap silently where the
    * DuckDB oracle errors, breaking batch/oracle parity without a
    * signal. Cost: one extra decimal aggregate over the bar-sized
    * (|keys|·|days|) diff frame, nothing on the tick path. */
  private[graft] def marketBeta(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
    val cur = bars.select(col(keyCol), col("day"), col("close").as("__c1"))
    val prev = bars.select(col(keyCol), date_add(col("day"), 1).as("day"),
      col("close").as("__c0"))
    val diffs = cur.join(prev, Seq(keyCol, "day"))
      .select(col(keyCol), col("day"), (col("__c1") - col("__c0")).as("__x"))
    val mkt = diffs.groupBy(col("day")).agg(sum(col("__x")).as("__m"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def wide(c: Column): Column = c.cast(dec)
    val g = diffs.join(mkt, Seq("day"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"), sum(col("__m")).as("__sm"),
        sum(col("__x") * col("__m")).as("__sxm"),
        sum(col("__m") * col("__m")).as("__smm"),
        // decimal twins of the quadratic moments: catch per-row product
        // and sum wrap (x, m are day-scale so Σx/Σm are linear-safe)
        sum(wide(col("__x")) * wide(col("__m"))).as("__sxmW"),
        sum(wide(col("__m")) * wide(col("__m"))).as("__smmW"))
    val num = col("n_days") * col("__sxm") - col("__sx") * col("__sm")
    val den = col("n_days") * col("__smm") - col("__sm") * col("__sm")
    val numW = wide(col("n_days")) * col("__sxmW") - wide(col("__sx")) * wide(col("__sm"))
    val denW = wide(col("n_days")) * col("__smmW") - wide(col("__sm")) * wide(col("__sm"))
    // null-safe: a decimal-side overflow past precision 38 nulls the
    // wide value — treat that as divergence too, never as agreement
    val ok = coalesce(num.cast(dec) === numW && den.cast(dec) === denW, lit(false))
    g.select(col(keyCol), col("n_days"),
      when(!ok, raise_error(concat(
        lit("marketBeta: int64 overflow in moment arithmetic for key "),
        col(keyCol).cast("string"),
        lit(" — re-base the market move to coarser units"))).cast("double"))
        .when(den > 0, num.cast("double") / den.cast("double")).as("beta"))
  }

  /** Amihud-style illiquidity per key: aggregate price impact
    * Σ|Δclose_cents| / Σ quantity over days with a prior close and
    * positive traded quantity (the JSON `k` prop summed per day). The
    * aggregate-ratio form — NOT the mean of per-day ratios — keeps both
    * sums integer and the measure one terminal division (a mean of
    * per-day quotients would be an accumulation-order-dependent float
    * sum, the exact parity trap the house rules ban). */
  private[graft] def amihudIlliquidity(df: DataFrame, keyCol: String,
                                       tsCol: String, valCol: String,
                                       tieBreak: String,
                                       qtyJsonField: String): DataFrame = {
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
    val vols = df.withColumn("__day", col(tsCol).cast("date"))
      .withColumn("__q",
        get_json_object(col("props"), s"$$.$qtyJsonField").cast("long"))
      .groupBy(col(keyCol), col("__day").as("day"))
      .agg(sum(col("__q")).as("__v"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val scored = bars.join(vols, Seq(keyCol, "day"))
      .withColumn("__pc", lag(col("close"), 1).over(w))
      .filter(col("__pc").isNotNull && col("__v") > 0)
    scored.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("close") - col("__pc"))).as("sum_abs_move_cents"),
        sum(col("__v")).as("sum_qty"))
      .withColumn("illiq",
        col("sum_abs_move_cents").cast("double") / col("sum_qty").cast("double"))
  }

  /** Roll (1984) implied spread per key: consecutive tick diffs d_t
    * (integer cents, total (ts, tieBreak) order) have serial covariance
    * cov(d_t, d_{t−1}) < 0 under bid-ask bounce, and the implied spread
    * is 2·√(−cov). The covariance numerator n·Σxy − Σx·Σy stays
    * integer; the emitted spread is one division → one IEEE sqrt →
    * constant scaling, identical operand order in the oracle. Positive
    * serial covariance (trending microstructure) leaves the key
    * unscored, the standard treatment. Keys need ≥3 ticks (two diffs)
    * to form a pair. */
  private[graft] def rollSpread(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    val g = df.withColumn("__c", cents(col(valCol)))
      .withColumn("__d", col("__c") - lag(col("__c"), 1).over(ord))
      .withColumn("__y", lag(col("__d"), 1).over(ord))
      .filter(col("__y").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__d")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__d") * col("__y")).as("__sxy"))
    val covNum = col("n_pairs") * col("__sxy") - col("__sx") * col("__sy")
    g.select(col(keyCol), col("n_pairs"), covNum.as("serial_cov_num"),
      when(covNum < 0,
        lit(2.0) * sqrt((-covNum).cast("double") /
          (col("n_pairs") * col("n_pairs")).cast("double")) / lit(100.0))
        .as("roll_spread"))
  }

  /** Unannualized daily Sharpe per key: mean over std of day-over-day
    * cent moves, which algebraically collapses to Σx / √(n·Σx² − (Σx)²)
    * — ONE integer numerator, one integer radicand, one division (the
    * n's cancel, and so do the cents: the measure is scale-free;
    * annualization is a client-side ×√365). Diffs lag over PRESENT
    * days (the q_top_movers convention). Zero-variance series are
    * unscored. Int64 headroom: n·Σx² with day-scale cent moves ~10⁴
    * holds to ~10⁷ days·keys² — re-base to coarser units past that. */
  private[graft] def dailySharpe(df: DataFrame, keyCol: String, tsCol: String,
                                 valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val g = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"), sum(col("__x") * col("__x")).as("__sxx"))
    val varNum = col("n_days") * col("__sxx") - col("__sx") * col("__sx")
    g.select(col(keyCol), col("n_days"),
      when(varNum > 0,
        col("__sx").cast("double") / sqrt(varNum.cast("double")))
        .as("sharpe_daily"))
  }

  val defs: Map[String, Q] = Map(
    // One-factor market beta per key over day-bar diffs.
    "q_beta" -> ((s, dir) =>
      marketBeta(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Aggregate Amihud illiquidity (cents moved per unit quantity).
    "q_amihud" -> ((s, dir) =>
      amihudIlliquidity(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", "k")
        .orderBy(col("user_id").asc)),

    // Roll implied spread from negative serial covariance of tick diffs.
    "q_roll_spread" -> ((s, dir) =>
      rollSpread(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)),

    // Unannualized daily Sharpe (mean/std of day moves, one division).
    "q_sharpe" -> ((s, dir) =>
      dailySharpe(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)))

  /** Shared bar CTE (the q_ema/q_candle_patterns day-close discipline). */
  private val barsSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id, props
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close
      |  FROM (
      |    SELECT user_id, day,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_beta" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT a.user_id, a.day, a.close - b.close AS x
         |  FROM bars a JOIN bars b
         |    ON a.user_id = b.user_id AND a.day = b.day + 1),
         |m AS (SELECT day, CAST(sum(x) AS BIGINT) AS mv FROM d GROUP BY day),
         |g AS (
         |  SELECT d.user_id, count(*) AS n,
         |    CAST(sum(d.x) AS BIGINT) AS sx, CAST(sum(m.mv) AS BIGINT) AS sm,
         |    CAST(sum(d.x * m.mv) AS BIGINT) AS sxm,
         |    CAST(sum(m.mv * m.mv) AS BIGINT) AS smm
         |  FROM d JOIN m USING (day) GROUP BY d.user_id)
         |SELECT user_id, n AS n_days,
         |  CASE WHEN n * smm - sm * sm > 0
         |    THEN CAST(n * sxm - sx * sm AS DOUBLE)
         |      / CAST(n * smm - sm * sm AS DOUBLE) END AS beta
         |FROM g ORDER BY user_id""".stripMargin,

    "q_amihud" ->
      s"""WITH $barsSql,
         |vols AS (
         |  SELECT user_id, day,
         |    CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS v
         |  FROM t GROUP BY user_id, day),
         |lagged AS (
         |  SELECT b.user_id, b.day, b.close, v.v,
         |    lag(b.close) OVER (PARTITION BY b.user_id ORDER BY b.day) AS pc
         |  FROM bars b JOIN vols v ON b.user_id = v.user_id AND b.day = v.day),
         |scored AS (SELECT * FROM lagged WHERE pc IS NOT NULL AND v > 0)
         |SELECT user_id, count(*) AS n_days,
         |  CAST(sum(abs(close - pc)) AS BIGINT) AS sum_abs_move_cents,
         |  CAST(sum(v) AS BIGINT) AS sum_qty,
         |  CAST(CAST(sum(abs(close - pc)) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS illiq
         |FROM scored GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_sharpe" ->
      s"""WITH $barsSql,
         |d AS (
         |  SELECT user_id,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
         |  FROM bars),
         |f AS (SELECT user_id, x FROM d WHERE x IS NOT NULL),
         |g AS (
         |  SELECT user_id, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM f GROUP BY user_id)
         |SELECT user_id, n AS n_days,
         |  CASE WHEN n * sxx - sx * sx > 0
         |    THEN CAST(sx AS DOUBLE) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |  END AS sharpe_daily
         |FROM g ORDER BY user_id""".stripMargin,

    "q_roll_spread" ->
      """WITH t AS (
        |  SELECT user_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    ts, event_id
        |  FROM events),
        |d AS (
        |  SELECT user_id, ts, event_id,
        |    c - lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
        |  FROM t),
        |p AS (
        |  SELECT user_id, x,
        |    lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
        |  FROM d),
        |f AS (SELECT user_id, x, y FROM p WHERE y IS NOT NULL),
        |g AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM f GROUP BY user_id)
        |SELECT user_id, n AS n_pairs,
        |  n * sxy - sx * sy AS serial_cov_num,
        |  CASE WHEN n * sxy - sx * sy < 0
        |    THEN 2.0 * sqrt(CAST(-(n * sxy - sx * sy) AS DOUBLE)
        |      / CAST(n * n AS DOUBLE)) / 100.0 END AS roll_spread
        |FROM g ORDER BY user_id""".stripMargin)
}
