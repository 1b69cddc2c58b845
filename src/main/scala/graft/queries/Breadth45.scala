package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forty-sixth wave — trend estimation: Holt's linear smoothing and the
  * Theil–Sen robust slope.
  *
  *  - **q_holt**: Holt double exponential smoothing per key over daily
  *    cent bars — level ℓᵢ = α·cᵢ + (1−α)(ℓᵢ₋₁+tᵢ₋₁), trend
  *    tᵢ = β(ℓᵢ−ℓᵢ₋₁) + (1−β)tᵢ₋₁ — emitting level, trend, the
  *    one-step-ahead forecast ℓ+t and the realized forecast error.
  *    A two-state Recurrence fold (the EMA-family scaffold): one
  *    |keys|·|days| shuffle over the memoized bar grid, O(1) state,
  *    O(L) executor-local loop per key.
  *  - **q_theil_sen**: the Theil–Sen slope per key — the median of all
  *    pairwise slopes (cⱼ−cᵢ)/(j−i) over the bar index. Robust to
  *    outliers where OLS (q_regr) is not; the estimator behind
  *    drift-detection screens. Pairs are per-key and CALENDAR-BOUNDED
  *    (≤(366·years)²/2 regardless of row count — the same bound that
  *    makes the bar folds scale), so the block-quadratic self-join is
  *    a constant factor, not a data-squared one. The median is the
  *    LOW median — the rank-⌈n/2⌉ element by (slope, i, j) — picked by
  *    row_number, NO float interpolation: Spark's percentile and
  *    DuckDB's median interpolate even-count middles with different
  *    operand orders (lo+(hi−lo)·f vs (lo+hi)/2), a cross-engine ulp
  *    trap this sidesteps entirely.
  *
  * Determinism: the Holt fold order is the day order, identical to the
  * oracle's recursive-CTE join order, with α/β written as division
  * expressions on both sides (the DECIMAL-literal trap); slopes are
  * one BIGINT/BIGINT division each, bit-equal cross-engine, and the
  * median rank's tie-break (slope, i, j) is a total order. */
object Breadth45 {

  private val HoltAlpha = 2.0 / 10.0
  private val HoltBeta = 2.0 / 20.0

  private[graft] case class HoltAcc(l: Double, t: Double)
  private[graft] case class HoltRow(level: Double, trend: Double,
                                    fcErr: Option[Double])

  /** One Holt step: seed (ℓ=c, t=0) on the first bar; the forecast
    * error compares this close to the PREVIOUS state's ℓ+t. */
  private[graft] def holtStep(st: Option[HoltAcc], c: Double)
      : (HoltAcc, HoltRow) = st match {
    case None =>
      (HoltAcc(c, 0.0), HoltRow(c, 0.0, None))
    case Some(a) =>
      val lNew = HoltAlpha * c + (1.0 - HoltAlpha) * (a.l + a.t)
      val tNew = HoltBeta * (lNew - a.l) + (1.0 - HoltBeta) * a.t
      val err = c - (a.l + a.t)
      (HoltAcc(lNew, tNew), HoltRow(lNew, tNew, Some(err)))
  }

  private[graft] def holtSeries(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[HoltAcc], b: graft.ops.Bar) =>
        holtStep(st, b.close.toDouble)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        (s.getField("level") / lit(100.0)).as("level"),
        (s.getField("trend") / lit(100.0)).as("trend"),
        ((s.getField("level") + s.getField("trend")) / lit(100.0))
          .as("forecast"),
        (s.getField("fcErr") / lit(100.0)).as("fc_err"))
    }

  /** Theil–Sen per key: low-median pairwise slope over bar indices. */
  private[graft] def theilSen(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val idx = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val nb = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("i", row_number().over(idx).cast("long"))
    val a = nb.select(col(keyCol), col("i"), col("close").as("__ca"))
    val b = nb.select(col(keyCol), col("i").as("j"), col("close").as("__cb"))
    val pairs = a.join(b, Seq(keyCol)).filter(col("i") < col("j"))
      .withColumn("slope",
        (col("__cb") - col("__ca")).cast("double") /
          (col("j") - col("i")).cast("double"))
    val rk = Window.partitionBy(col(keyCol))
      .orderBy(col("slope").asc, col("i").asc, col("j").asc)
    val n = Window.partitionBy(col(keyCol))
    val med = pairs
      .withColumn("__rn", row_number().over(rk).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(n))
      .filter(col("__rn") === expr("(n_pairs + 1) div 2")) // low median
    med.select(col(keyCol), col("n_pairs"),
      (col("slope") / lit(100.0)).as("ts_slope"),
      when(col("slope") > 0, lit("up"))
        .when(col("slope") < 0, lit("down"))
        .otherwise(lit("flat")).as("direction"))
  }

  val defs: Map[String, Q] = Map(
    "q_holt" -> ((s, dir) =>
      holtSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),
    "q_theil_sen" -> ((s, dir) =>
      theilSen(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)))

  /** Tie-safe daily cent bars + per-key bar index (the Breadth19
    * prefix). */
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
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_holt" ->
      s"""WITH RECURSIVE $barsSql,
         |h AS (
         |  SELECT user_id, day, i, CAST(close AS DOUBLE) AS l,
         |    CAST(0.0 AS DOUBLE) AS tr, CAST(NULL AS DOUBLE) AS err
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.i,
         |    (2.0/10.0) * CAST(b.close AS DOUBLE)
         |      + (1.0 - 2.0/10.0) * (h.l + h.tr),
         |    (2.0/20.0) * (((2.0/10.0) * CAST(b.close AS DOUBLE)
         |        + (1.0 - 2.0/10.0) * (h.l + h.tr)) - h.l)
         |      + (1.0 - 2.0/20.0) * h.tr,
         |    CAST(b.close AS DOUBLE) - (h.l + h.tr)
         |  FROM h JOIN nb b ON b.user_id = h.user_id AND b.i = h.i + 1)
         |SELECT user_id, day, l / 100.0 AS level, tr / 100.0 AS trend,
         |  (l + tr) / 100.0 AS forecast, err / 100.0 AS fc_err
         |FROM h ORDER BY user_id, day""".stripMargin,

    "q_theil_sen" ->
      s"""WITH $barsSql,
         |p AS (
         |  SELECT a.user_id,
         |    CAST(b.close - a.close AS DOUBLE)
         |      / CAST(b.i - a.i AS DOUBLE) AS slope,
         |    a.i AS i, b.i AS j
         |  FROM nb a JOIN nb b
         |    ON b.user_id = a.user_id AND a.i < b.i),
         |r AS (
         |  SELECT user_id, slope,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY slope, i, j) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_pairs
         |  FROM p)
         |SELECT user_id, n_pairs, slope / 100.0 AS ts_slope,
         |  CASE WHEN slope > 0 THEN 'up' WHEN slope < 0 THEN 'down'
         |    ELSE 'flat' END AS direction
         |FROM r WHERE rn = (n_pairs + 1) // 2
         |ORDER BY user_id""".stripMargin)
}
