package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-thirty-fifth wave — **q_cuped**: CUPED variance reduction
  * (Deng et al.) — the experimentation-platform companion to q_ab_lift:
  * using each unit's PRE-period behaviour as the control covariate,
  * the adjusted metric Y′ = Y − θ·(X − X̄) with θ = Cov(X, Y)/Var(X)
  * keeps the mean unbiased and shrinks the variance by exactly the
  * X-explained share. Here X = a user's mean day move over the first
  * half of their days, Y = over the second half; the report is θ,
  * both variances and the realized variance-reduction share — the
  * number that decides whether an experiment needs CUPED at all.
  *
  * Determinism: per-user X/Y are 1e-6-quantized after ONE identical
  * double division (exact integer sums / counts); all cross-user
  * moments are then EXACT decimal(38,0) sums of those integers
  * (HUGEINT twins); θ is one division; each adjusted value is
  * re-quantized before the exact final variance sums — the two-stage
  * quantization discipline, no accumulation-order float anywhere.
  *
  * Scale shape: one window to split each user's days, two integer
  * aggregates per user, |users|-sized moment aggregates. */
object Breadth134 {

  private[graft] def cuped(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def wide(c: Column): Column = c.cast(dec)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val nW = Window.partitionBy(col(keyCol))
    val mv = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(nW))
      // first half = pre period (X), second half = experiment (Y)
      .withColumn("__pre", col("__i") <= shiftright(col("__n"), 1))
    val per = mv.groupBy(col(keyCol))
      .agg(sum(when(col("__pre"), col("__x"))).as("__sx"),
        sum(when(col("__pre"), 1L).otherwise(0L)).as("__nx"),
        sum(when(!col("__pre"), col("__x"))).as("__sy"),
        sum(when(!col("__pre"), 1L).otherwise(0L)).as("__ny"))
      .filter(col("__nx") > 0 && col("__ny") > 0)
      .select(col(keyCol),
        q6(d(col("__sx")) / d(col("__nx"))).as("__xq"),
        q6(d(col("__sy")) / d(col("__ny"))).as("__yq"))
    val m = per.agg(count(lit(1)).as("__m"),
      sum(col("__xq")).as("__tx"), sum(col("__yq")).as("__ty"),
      sum(wide(col("__xq")) * wide(col("__xq"))).as("__txx"),
      sum(wide(col("__xq")) * wide(col("__yq"))).as("__txy"),
      sum(wide(col("__yq")) * wide(col("__yq"))).as("__tyy"))
    // θ = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) — exact integer moments
    val num = wide(col("__m")) * col("__txy") -
      wide(col("__tx")) * wide(col("__ty"))
    val den = wide(col("__m")) * col("__txx") -
      wide(col("__tx")) * wide(col("__tx"))
    val withTheta = m.select(col("__m"), col("__tx"), col("__ty"),
      col("__tyy"), (d(num) / d(den)).as("__theta"))
    // adjusted per-user value, re-quantized, then exact final moments
    val adj = per.crossJoin(broadcast(withTheta))
      .select(col("__m"), col("__theta"), col("__ty"), col("__tyy"),
        col("__tx"),
        q6((d(col("__yq")) - col("__theta") *
          (d(col("__xq")) - d(col("__tx")) / d(col("__m")))) / lit(1.0e6))
          .as("__aq"))
    adj.groupBy(col("__m"), col("__theta"), col("__ty"), col("__tyy"))
      .agg(sum(col("__aq")).as("__ta"),
        sum(wide(col("__aq")) * wide(col("__aq"))).as("__taa"))
      .select(col("__m").as("n_users"), col("__theta").as("theta"),
        ((d(wide(col("__m")) * col("__tyy") -
          wide(col("__ty")) * wide(col("__ty")))) /
          (d(col("__m")) * d(col("__m"))) / lit(1.0e12)).as("var_y"),
        ((d(wide(col("__m")) * col("__taa") -
          wide(col("__ta")) * wide(col("__ta")))) /
          (d(col("__m")) * d(col("__m"))) / lit(1.0e12)).as("var_adj"),
        (lit(1.0) -
          d(wide(col("__m")) * col("__taa") -
            wide(col("__ta")) * wide(col("__ta"))) /
          d(wide(col("__m")) * col("__tyy") -
            wide(col("__ty")) * wide(col("__ty"))))
          .as("var_reduction"))
  }

  val defs: Map[String, Q] = Map(
    "q_cuped" -> ((s, dir) =>
      cuped(Tables.events(s, dir), "user_id", "ts", "value", "event_id")))

  val oracle: Map[String, String] = Map(
    "q_cuped" ->
      """WITH t AS (
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
        |mv AS (
        |  SELECT user_id, day, x,
        |    CAST(row_number() OVER w2 AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM (
        |    SELECT user_id, day,
        |      close - lag(close) OVER (PARTITION BY user_id ORDER BY day)
        |        AS x
        |    FROM bars) s
        |  WHERE x IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY day)),
        |per AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(sxp AS DOUBLE) / CAST(nxp AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS xq,
        |    CAST(floor(CAST(syp AS DOUBLE) / CAST(nyp AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS yq
        |  FROM (
        |    SELECT user_id,
        |      CAST(sum(CASE WHEN i <= n // 2 THEN x END) AS BIGINT) AS sxp,
        |      CAST(sum(CASE WHEN i <= n // 2 THEN 1 ELSE 0 END)
        |        AS BIGINT) AS nxp,
        |      CAST(sum(CASE WHEN i > n // 2 THEN x END) AS BIGINT) AS syp,
        |      CAST(sum(CASE WHEN i > n // 2 THEN 1 ELSE 0 END)
        |        AS BIGINT) AS nyp
        |    FROM mv GROUP BY 1)
        |  WHERE nxp > 0 AND nyp > 0),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(xq) AS BIGINT) AS tx, CAST(sum(yq) AS BIGINT) AS ty,
        |    sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS txx,
        |    sum(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS txy,
        |    sum(CAST(yq AS HUGEINT) * CAST(yq AS HUGEINT)) AS tyy
        |  FROM per),
        |th AS (
        |  SELECT m, tx, ty, tyy,
        |    CAST(CAST(m AS HUGEINT) * txy
        |        - CAST(tx AS HUGEINT) * CAST(ty AS HUGEINT) AS DOUBLE)
        |      / CAST(CAST(m AS HUGEINT) * txx
        |        - CAST(tx AS HUGEINT) * CAST(tx AS HUGEINT) AS DOUBLE)
        |      AS theta
        |  FROM m),
        |adj AS (
        |  SELECT th.m, th.theta, th.ty, th.tyy,
        |    CAST(floor((CAST(per.yq AS DOUBLE) - th.theta
        |        * (CAST(per.xq AS DOUBLE)
        |          - CAST(th.tx AS DOUBLE) / CAST(th.m AS DOUBLE)))
        |      / 1000000.0 * 1000000.0 + 0.5) AS BIGINT) AS aq
        |  FROM per, th),
        |fin AS (
        |  SELECT m, theta, ty, tyy,
        |    CAST(sum(aq) AS BIGINT) AS ta,
        |    sum(CAST(aq AS HUGEINT) * CAST(aq AS HUGEINT)) AS taa
        |  FROM adj GROUP BY 1, 2, 3, 4)
        |SELECT m AS n_users, theta,
        |  CAST(CAST(m AS HUGEINT) * tyy
        |      - CAST(ty AS HUGEINT) * CAST(ty AS HUGEINT) AS DOUBLE)
        |    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) / 1.0e12 AS var_y,
        |  CAST(CAST(m AS HUGEINT) * taa
        |      - CAST(ta AS HUGEINT) * CAST(ta AS HUGEINT) AS DOUBLE)
        |    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) / 1.0e12 AS var_adj,
        |  1.0 - CAST(CAST(m AS HUGEINT) * taa
        |      - CAST(ta AS HUGEINT) * CAST(ta AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(m AS HUGEINT) * tyy
        |      - CAST(ty AS HUGEINT) * CAST(ty AS HUGEINT) AS DOUBLE)
        |    AS var_reduction
        |FROM fin""".stripMargin)
}
