package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eighty-sixth wave — return-distribution risk diagnostics.
  *
  *  - **q_variance_ratio**: the Lo–MacKinlay VR(5) per key — the
  *    variance of overlapping 5-day move sums over 5× the 1-day move
  *    variance. Random-walk series score ≈1, mean-reverting <1,
  *    trending >1. Both variances come from exact int64 sums (the
  *    window 5-sum of cent moves is itself an integer), so VR is two
  *    divisions at emit.
  *  - **q_cf_var**: Cornish–Fisher modified 95% VaR per key — the
  *    skew/kurtosis-adjusted z expanded from exact decimal power sums
  *    of cent moves (the q_moments discipline: decimal(38,0) ↔
  *    HUGEINT), emitted 6-dp alongside the population skew and excess
  *    kurtosis it derives from.
  *  - **q_dar**: drawdown-at-risk — the rank-exact 95th-percentile
  *    daily drawdown depth (cents below the running close peak) per
  *    key, with the max for scale. Rank selection, never a float
  *    quantile: the p95 row is ceil(19n/20) by integer arithmetic.
  *
  * Scale shape: all three ride the memoized per-key day grids — one
  * bar shuffle, per-key ordered windows, |keys|-row aggregates. No
  * float ever enters an unordered distributed sum. */
object Breadth85 {

  private[graft] val VrQ = 5

  /** Lo–MacKinlay variance ratio of overlapping q-sums per key. */
  private[graft] def varianceRatio(df: DataFrame, keyCol: String,
                                   tsCol: String, valCol: String,
                                   tieBreak: String, q: Int = VrQ): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val ws = w.rowsBetween(-(q - 1), 0)
    val m = Breadth67.dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__qs", sum(col("__x")).over(ws))
    val g = m.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(when(col("__rn") >= q, 1L).otherwise(0L)).as("n_windows"),
        sum(when(col("__rn") >= q, col("__qs"))).as("__ss"),
        sum(when(col("__rn") >= q, col("__qs") * col("__qs"))).as("__sss"))
    val v1num = g("n_days") * col("__sxx") - col("__sx") * col("__sx")
    val vqnum = col("n_windows") * col("__sss") - col("__ss") * col("__ss")
    val v1 = v1num.cast("double") /
      (g("n_days") * g("n_days")).cast("double")
    val vq = vqnum.cast("double") /
      (col("n_windows") * col("n_windows")).cast("double")
    g.select(col(keyCol), col("n_days"), col("n_windows"),
      when(col("n_windows") > 1 && v1num > 0,
        round(vq / (lit(q.toDouble) * v1), 6)).as("vr"))
      .orderBy(col(keyCol).asc)
  }

  /** Cornish–Fisher modified 95% VaR per key from decimal power sums. */
  private[graft] def cfVar(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val d = col("__x").cast("decimal(38,0)")
    val g = Breadth67.dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(d).as("__s1"),
        sum(d * d).as("__s2"),
        sum(d * d * d).as("__s3"),
        sum(d * d * d * d).as("__s4"))
    val nD = col("n_days").cast("double")
    val m1 = col("__s1").cast("double") / nD
    val m2 = col("__s2").cast("double") / nD
    val m3 = col("__s3").cast("double") / nD
    val m4 = col("__s4").cast("double") / nD
    val vr = m2 - m1 * m1
    val sd = sqrt(vr)
    val g1 = (m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1) /
      (vr * sd)
    val g2 = (m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2 -
      lit(3.0) * m1 * m1 * m1 * m1) / (vr * vr) - lit(3.0)
    val z = lit(-1645.0) / lit(1000.0)
    val zcf = z + (z * z - lit(1.0)) * g1 / lit(6.0) +
      (z * z * z - lit(3.0) * z) * g2 / lit(24.0) -
      (lit(2.0) * z * z * z - lit(5.0) * z) * g1 * g1 / lit(36.0)
    g.select(col(keyCol), col("n_days"),
      when(vr > 0, round(g1, 6)).as("skew"),
      when(vr > 0, round(g2, 6)).as("exkurt"),
      when(vr > 0, round(-(m1 + zcf * sd) / lit(100.0), 6)).as("cf_var95"))
      .orderBy(col(keyCol).asc)
  }

  /** Rank-exact p95 + max daily drawdown depth (cents) per key. */
  private[graft] def drawdownAtRisk(df: DataFrame, keyCol: String,
                                    tsCol: String, valCol: String,
                                    tieBreak: String): DataFrame = {
    val upTo = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__dd", max(col("close")).over(upTo) - col("close"))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col("__dd").asc, col("day").asc)
    dd.withColumn("__rn", row_number().over(ord))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        max(when(col("__rn") === expr("(19 * __n + 19) div 20"),
          col("__dd"))).as("dar95_cents"),
        max(col("__dd")).as("max_dd_cents"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_variance_ratio" -> ((s, dir) =>
      varianceRatio(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_cf_var" -> ((s, dir) =>
      cfVar(Tables.events(s, dir), "user_id", "ts", "value", "event_id")),
    "q_dar" -> ((s, dir) =>
      drawdownAtRisk(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  val oracle: Map[String, String] = Map(
    "q_variance_ratio" ->
      s"""WITH ${Breadth67.movesSql},
         |qs AS (
         |  SELECT user_id, x,
         |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
         |    CAST(sum(x) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN ${VrQ - 1} PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS s
         |  FROM mv),
         |g AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(CASE WHEN rn >= $VrQ THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n2,
         |    CAST(sum(CASE WHEN rn >= $VrQ THEN s END) AS BIGINT) AS ss,
         |    CAST(sum(CASE WHEN rn >= $VrQ THEN s * s END) AS BIGINT)
         |      AS sss
         |  FROM qs GROUP BY 1)
         |SELECT user_id, n1 AS n_days, n2 AS n_windows,
         |  CASE WHEN n2 > 1 AND n1 * sxx - sx * sx > 0 THEN
         |    round((CAST(n2 * sss - ss * ss AS DOUBLE)
         |        / CAST(n2 * n2 AS DOUBLE))
         |      / ($VrQ.0 * (CAST(n1 * sxx - sx * sx AS DOUBLE)
         |        / CAST(n1 * n1 AS DOUBLE))), 6)
         |  END AS vr
         |FROM g ORDER BY user_id""".stripMargin,

    "q_cf_var" ->
      s"""WITH ${Breadth67.movesSql},
         |s AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS s1,
         |    sum(CAST(x AS HUGEINT) * x) AS s2,
         |    sum(CAST(x AS HUGEINT) * x * x) AS s3,
         |    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
         |  FROM mv GROUP BY 1),
         |m AS (
         |  SELECT user_id, n,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
         |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
         |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
         |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4
         |  FROM s),
         |v AS (SELECT *, m2 - m1 * m1 AS vr, sqrt(m2 - m1 * m1) AS sd
         |  FROM m),
         |k AS (
         |  SELECT user_id, n, vr, sd,
         |    (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) / (vr * sd) AS g1,
         |    (m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
         |      - 3.0 * m1 * m1 * m1 * m1) / (vr * vr) - 3.0 AS g2,
         |    m1
         |  FROM v),
         |z AS (
         |  SELECT user_id, n, vr, sd, g1, g2, m1,
         |    (-1645.0) / 1000.0
         |      + (((-1645.0) / 1000.0) * ((-1645.0) / 1000.0) - 1.0)
         |        * g1 / 6.0
         |      + (((-1645.0) / 1000.0) * ((-1645.0) / 1000.0)
         |          * ((-1645.0) / 1000.0) - 3.0 * ((-1645.0) / 1000.0))
         |        * g2 / 24.0
         |      - (2.0 * ((-1645.0) / 1000.0) * ((-1645.0) / 1000.0)
         |          * ((-1645.0) / 1000.0) - 5.0 * ((-1645.0) / 1000.0))
         |        * g1 * g1 / 36.0 AS zcf
         |  FROM k)
         |SELECT user_id, n AS n_days,
         |  CASE WHEN vr > 0 THEN round(g1, 6) END AS skew,
         |  CASE WHEN vr > 0 THEN round(g2, 6) END AS exkurt,
         |  CASE WHEN vr > 0 THEN round(-(m1 + zcf * sd) / 100.0, 6) END
         |    AS cf_var95
         |FROM z ORDER BY user_id""".stripMargin,

    "q_dar" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day, max(cl) AS close
        |  FROM (
        |    SELECT user_id, day,
        |      last_value(c) OVER (PARTITION BY user_id, day
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |        AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |dd AS (
        |  SELECT user_id, day,
        |    max(close) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - close
        |      AS d
        |  FROM bars),
        |r AS (
        |  SELECT user_id, d,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY d, day)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM dd)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
        |  CAST(max(CASE WHEN rn = (19 * n + 19) // 20 THEN d END)
        |    AS BIGINT) AS dar95_cents,
        |  CAST(max(d) AS BIGINT) AS max_dd_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
}
