package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, cents}

/** Hundred-fourth wave — robust outlier fences, process capability, and
  * the Corwin–Schultz high-low spread estimator.
  *
  *  - **q_iqr_outliers**: Tukey fences per group — rank-exact Q1/Q3
  *    from the value-domain count table (rank ceil(n/4) / ceil(3n/4)),
  *    and the 1.5·IQR fences compared CROSS-MULTIPLIED in int64
  *    (2x < 5·Q1 − 3·Q3 / 2x > 5·Q3 − 3·Q1), so no float touches the
  *    verdict. Complements q_mad_outliers' median-based screen.
  *  - **q_cpk**: the process-capability index per group against fixed
  *    spec limits — min(USL−μ, μ−LSL)/3σ from exact cent moments, one
  *    IEEE op chain at emit.
  *  - **q_cs_spread**: Corwin–Schultz bid-ask spread proxy per key-day
  *    — the 2-day high/low log ranges 1e-6-QUANTIZED before squaring
  *    (the corpus log-quantization discipline), α assembled in an
  *    identical IEEE chain, final spread exp-built and 6-dp-rounded on
  *    both engines (the q_parkinson transcendental stance).
  *
  * Scale shape: the fences rank |distinct values| count tables; Cpk is
  * a per-group moment aggregate; CS rides the memoized day-bar grid
  * with one lag window. */
object Breadth103 {

  private val CpkUsl = 300.0  // price spec limits (USL/LSL, dollars)
  private val CpkLsl = 0.0

  /** Tukey 1.5·IQR outlier fences per group, rank- and int64-exact. */
  private[graft] def iqrOutliers(df: DataFrame, grpCol: String,
                                 valCol: String): DataFrame = {
    val vc = df.select(col(grpCol).as("__g"), cents(col(valCol)).as("__v"))
      .groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col("__g")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col("__g"))
    val t = vc
      .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(all))
      // ceil(n/4) and ceil(3n/4) via integer shifts (Column./ is double)
      .withColumn("__k1", shiftright(col("__n") + 3L, 2))
      .withColumn("__k3", shiftright(col("__n") * 3L + 3L, 2))
    val q = t.groupBy(col("__g"), col("__n"))
      .agg(
        max(when(col("__k1") > col("__pre") &&
          col("__k1") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__q1"),
        max(when(col("__k3") > col("__pre") &&
          col("__k3") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__q3"))
    df.select(col(grpCol).as("__gg"), cents(col(valCol)).as("__c"))
      .join(broadcast(q), col("__gg") === col("__g"))
      .groupBy(col("__g"), col("__n"), col("__q1"), col("__q3"))
      .agg(
        sum(when(col("__c") * 2L < col("__q1") * 5L - col("__q3") * 3L, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("__c") * 2L > col("__q3") * 5L - col("__q1") * 3L, 1L)
          .otherwise(0L)).as("n_high"))
      .select(col("__g").as("grp"), col("__n").as("n_obs"),
        (col("__q1").cast("double") / lit(100.0)).as("q1"),
        (col("__q3").cast("double") / lit(100.0)).as("q3"),
        col("n_low"), col("n_high"))
      .orderBy(col("grp").asc)
  }

  /** Cpk per group against the fixed [LSL, USL] spec band. */
  private[graft] def cpk(df: DataFrame, grpCol: String,
                         valCol: String): DataFrame = {
    val g = df.select(col(grpCol).as("__g"), cents(col(valCol)).as("__c"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"),
        sum(col("__c") * col("__c")).as("__q"))
    val mu = d(col("__s")) / d(col("__n")) / lit(100.0)
    val sd = sqrt((d(col("__n")) * d(col("__q")) - d(col("__s")) * d(col("__s"))) /
      (d(col("__n")) * d(col("__n") - 1L))) / lit(100.0)
    g.select(col("__g").as("grp"), col("__n").as("n_obs"),
      mu.as("mean_val"), sd.as("sd_val"),
      when(col("__n") > 1 && sd > 0,
        least(lit(CpkUsl) - mu, mu - lit(CpkLsl)) / (lit(3.0) * sd))
        .as("cpk"))
      .orderBy(col("grp").asc)
  }

  /** Corwin–Schultz 2-day high-low spread proxy per key-day. */
  private[graft] def csSpread(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .filter(col("low") > 0)
      .withColumn("__lq",
        floor(log(d(col("high")) / d(col("low"))) * lit(1.0e6) + lit(0.5))
          .cast("long"))
      .withColumn("__ph", lag(col("high"), 1).over(w))
      .withColumn("__pl", lag(col("low"), 1).over(w))
      .withColumn("__plq", lag(col("__lq"), 1).over(w))
      .filter(col("__ph").isNotNull)
    val h2 = greatest(col("high"), col("__ph"))
    val l2 = least(col("low"), col("__pl"))
    val withG = bars
      .withColumn("__gq",
        floor(log(d(h2) / d(l2)) * lit(1.0e6) + lit(0.5)).cast("long"))
      .withColumn("__beta",
        d(col("__lq") * col("__lq") + col("__plq") * col("__plq")))
      .withColumn("__gamma", d(col("__gq") * col("__gq")))
    val denom = lit(3.0) - lit(2.0) * sqrt(lit(2.0))
    val alpha = (sqrt(lit(2.0) * col("__beta")) - sqrt(col("__beta"))) /
      denom - sqrt(col("__gamma") / denom)
    val ea = exp(alpha / lit(1.0e6))
    withG.select(col(keyCol), col("day"),
      round(lit(2.0) * (ea - lit(1.0)) / (lit(1.0) + ea), 6)
        .as("cs_spread"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_iqr_outliers" -> ((s, dir) =>
      iqrOutliers(Tables.events(s, dir), "event_type", "value")),
    "q_cpk" -> ((s, dir) => cpk(Tables.events(s, dir), "event_type",
      "value")),
    "q_cs_spread" -> ((s, dir) =>
      csSpread(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  val oracle: Map[String, String] = Map(
    "q_iqr_outliers" ->
      """WITH t AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |vc AS (
        |  SELECT g, c AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY 1, 2),
        |rk AS (
        |  SELECT g, v, cnt,
        |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM vc),
        |q AS (
        |  SELECT g, n,
        |    CAST(max(CASE WHEN (n + 3) // 4 > pre
        |      AND (n + 3) // 4 <= pre + cnt THEN v END) AS BIGINT) AS q1,
        |    CAST(max(CASE WHEN (n * 3 + 3) // 4 > pre
        |      AND (n * 3 + 3) // 4 <= pre + cnt THEN v END) AS BIGINT)
        |      AS q3
        |  FROM rk GROUP BY 1, 2)
        |SELECT t.g AS grp, max(q.n) AS n_obs,
        |  CAST(max(q.q1) AS DOUBLE) / 100.0 AS q1,
        |  CAST(max(q.q3) AS DOUBLE) / 100.0 AS q3,
        |  CAST(sum(CASE WHEN t.c * 2 < q.q1 * 5 - q.q3 * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN t.c * 2 > q.q3 * 5 - q.q1 * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM t JOIN q ON t.g = q.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cpk" ->
      s"""WITH g AS (
         |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s,
         |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
         |      * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS q
         |  FROM events GROUP BY 1)
         |SELECT grp, n AS n_obs,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_val,
         |  sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
         |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0
         |    AS sd_val,
         |  CASE WHEN n > 1 AND sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
         |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0 > 0
         |  THEN
         |    least($CpkUsl - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0,
         |      CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 - $CpkLsl)
         |    / (3.0 * (sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
         |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0))
         |  END AS cpk
         |FROM g ORDER BY 1""".stripMargin,

    "q_cs_spread" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day, max(c) AS high, min(c) AS low
        |  FROM t GROUP BY user_id, day),
        |lg AS (
        |  SELECT user_id, day, high, low,
        |    CAST(floor(ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS lq,
        |    lag(high) OVER w AS ph, lag(low) OVER w AS pl,
        |    lag(CAST(floor(ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT)) OVER w AS plq
        |  FROM bars
        |  WHERE low > 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |g AS (
        |  SELECT user_id, day,
        |    CAST(lq * lq + plq * plq AS DOUBLE) AS beta,
        |    CAST(CAST(floor(ln(CAST(greatest(high, ph) AS DOUBLE)
        |        / CAST(least(low, pl) AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT)
        |      * CAST(floor(ln(CAST(greatest(high, ph) AS DOUBLE)
        |        / CAST(least(low, pl) AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS DOUBLE) AS gamma
        |  FROM lg WHERE ph IS NOT NULL)
        |SELECT user_id, day,
        |  round(2.0 * (exp(((sqrt(2.0 * beta) - sqrt(beta))
        |      / (3.0 - 2.0 * sqrt(2.0))
        |      - sqrt(gamma / (3.0 - 2.0 * sqrt(2.0)))) / 1000000.0) - 1.0)
        |    / (1.0 + exp(((sqrt(2.0 * beta) - sqrt(beta))
        |      / (3.0 - 2.0 * sqrt(2.0))
        |      - sqrt(gamma / (3.0 - 2.0 * sqrt(2.0)))) / 1000000.0)), 6)
        |    AS cs_spread
        |FROM g ORDER BY user_id, day""".stripMargin)
}
