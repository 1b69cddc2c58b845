package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, cents}

/** Hundred-ninth wave — nonparametric trend, distribution effect size,
  * and the distributed bootstrap.
  *
  *  - **q_mann_kendall**: the Mann–Kendall trend test per key — S from
  *    the calendar-bounded pairwise sign sum (|days|² per KEY, never
  *    corpus-quadratic), the exact Σt(t−1)(2t+5) tie correction from
  *    the close count table, continuity-corrected z.
  *  - **q_poisson_bootstrap**: the 100-TB bootstrap — B=32 Poisson(1)
  *    replicate weights per (key, day, b) from the md5-uniform
  *    discipline (RNG-free, partition-independent), replicate means as
  *    one int64 ratio each, rank-exact p10/p90 CI over the replicate
  *    set. Multinomial resampling doesn't distribute; Poisson
  *    bootstrap is the standard scale-out form.
  *  - **q_cliffs_delta**: Cliff's δ between two event types —
  *    P(X>Y) − P(X<Y) assembled EXACTLY from the merged value-domain
  *    count table with prefix sums (never the |A|×|B| pair square),
  *    one division at emit.
  *
  * Scale shape: MK pairs are per-key calendar-bounded; the bootstrap
  * is a ×B map fan-out with two int64 sums per replicate; δ ranks a
  * |distinct values| table. */
object Breadth108 {

  private val BootB = 32
  private val BootSeed = "graftboot1"
  private val TwoPow60 = 1152921504606846976L

  private def bars(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, tieBreak: String): DataFrame =
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))

  /** Mann–Kendall S, tie-corrected variance, continuity-corrected z. */
  private[graft] def mannKendall(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val b = bars(df, keyCol, tsCol, valCol, tieBreak)
    val a = b.select(col(keyCol), col("day").as("__d1"),
      col("close").as("__c1"))
    val c = b.select(col(keyCol), col("day").as("__d2"),
      col("close").as("__c2"))
    val s = a.join(c, Seq(keyCol)).filter(col("__d1") < col("__d2"))
      .groupBy(col(keyCol))
      .agg(sum(signum(col("__c2") - col("__c1")).cast("long")).as("__s"))
    val ties = b.groupBy(col(keyCol), col("close"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__nv"), sum(col("__t")).as("__n"),
        sum(col("__t") * (col("__t") - 1L) * (col("__t") * 2L + 5L))
          .as("__tc"))
    val v = (d(col("__n") * (col("__n") - 1L) * (col("__n") * 2L + 5L)) -
      d(col("__tc"))) / lit(18.0)
    s.join(ties, Seq(keyCol))
      .select(col(keyCol), col("__n").as("n_days"), col("__s").as("mk_s"),
        when(v > 0,
          (d(col("__s")) - signum(d(col("__s")))) / sqrt(v)).as("mk_z"))
      .orderBy(col(keyCol).asc)
  }

  /** Poisson(1) weight from the md5 uniform of (key, day, replicate). */
  private def poissonW(u: Column): Column = {
    val e1 = exp(lit(-1.0))
    when(u < e1, 0L)
      .when(u < lit(2.0) * e1, 1L)
      .when(u < lit(2.5) * e1, 2L)
      .when(u < (lit(8.0) / lit(3.0)) * e1, 3L)
      .when(u < (lit(65.0) / lit(24.0)) * e1, 4L)
      .otherwise(5L)
  }

  /** Rank-exact p10/p90 bootstrap CI of the mean day move per key. */
  private[graft] def poissonBootstrap(df: DataFrame, keyCol: String,
                                      tsCol: String, valCol: String,
                                      tieBreak: String,
                                      nBoot: Int = BootB): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val mv = bars(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .select(col(keyCol), col("day"), col("__x"))
    val reps = (0 until nBoot).toDF("__b")
    val h = conv(substring(md5(concat_ws("#", col(keyCol).cast("string"),
      col("day").cast("string"), col("__b").cast("string"),
      lit(BootSeed))), 1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(TwoPow60).cast("double")
    val bm = mv.crossJoin(broadcast(reps))
      .withColumn("__w", poissonW(u))
      .groupBy(col(keyCol), col("__b"))
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__x")).as("__swx"))
      .filter(col("__sw") > 0)
      .select(col(keyCol), col("__b"),
        (col("__swx").cast("double") / col("__sw").cast("double"))
          .as("__m"))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col("__m").asc, col("__b").asc)
    val nb = Window.partitionBy(col(keyCol))
    val ranked = bm
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__nb", count(lit(1)).over(nb))
      .withColumn("__klo",
        floor((col("__nb") + 9L).cast("double") / lit(10.0)).cast("long"))
      .withColumn("__khi",
        floor((col("__nb") * 9L + 9L).cast("double") / lit(10.0))
          .cast("long"))
    val ci = ranked.groupBy(col(keyCol))
      .agg(max(col("__nb")).as("n_reps"),
        max(when(col("__rn") === col("__klo"), col("__m"))).as("__lo"),
        max(when(col("__rn") === col("__khi"), col("__m"))).as("__hi"))
    val base = mv.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"), sum(col("__x")).as("__sx"))
    base.join(ci, Seq(keyCol))
      .select(col(keyCol), col("n_days"), col("n_reps"),
        (col("__sx").cast("double") / col("n_days").cast("double") /
          lit(100.0)).as("mean_move"),
        (col("__lo") / lit(100.0)).as("ci_lo"),
        (col("__hi") / lit(100.0)).as("ci_hi"))
      .orderBy(col(keyCol).asc)
  }

  /** Cliff's δ between two groups over the merged value count table. */
  private[graft] def cliffsDelta(df: DataFrame, grpCol: String,
                                 valCol: String, a: String,
                                 b: String): DataFrame = {
    val vc = df.filter(col(grpCol) === a || col(grpCol) === b)
      .groupBy(cents(col(valCol)).as("__v"))
      .agg(sum(when(col(grpCol) === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(grpCol) === b, 1L).otherwise(0L)).as("__cb"))
    val ord = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val t = vc
      .withColumn("__preb", coalesce(sum(col("__cb")).over(ord), lit(0L)))
      .withColumn("__totb", sum(col("__cb")).over(all))
    t.agg(sum(col("__ca")).as("__na"), max(col("__totb")).as("__nb"),
        sum(col("__ca") * col("__preb")).as("__gt"),
        sum(col("__ca") *
          (col("__totb") - col("__preb") - col("__cb"))).as("__lt"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        ((col("__gt") - col("__lt")).cast("double") /
          (col("__na") * col("__nb")).cast("double")).as("cliffs_delta"))
  }

  val defs: Map[String, Q] = Map(
    "q_mann_kendall" -> ((s, dir) =>
      mannKendall(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_poisson_bootstrap" -> ((s, dir) =>
      poissonBootstrap(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_cliffs_delta" -> ((s, dir) =>
      cliffsDelta(Tables.events(s, dir), "event_type", "value", "click",
        "purchase")))

  private val BarsSql =
    """t AS (
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
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_mann_kendall" ->
      s"""WITH $BarsSql,
         |s AS (
         |  SELECT a.user_id,
         |    CAST(sum(CAST(sign(b.close - a.close) AS BIGINT)) AS BIGINT)
         |      AS s
         |  FROM bars a JOIN bars b
         |    ON a.user_id = b.user_id AND a.day < b.day
         |  GROUP BY 1),
         |ties AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS nv,
         |    CAST(sum(t) AS BIGINT) AS n,
         |    CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tc
         |  FROM (
         |    SELECT user_id, close, CAST(count(*) AS BIGINT) AS t
         |    FROM bars GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT s.user_id, ties.n AS n_days, s.s AS mk_s,
         |  CASE WHEN (CAST(n * (n - 1) * (n * 2 + 5) AS DOUBLE)
         |      - CAST(tc AS DOUBLE)) / 18.0 > 0 THEN
         |    (CAST(s.s AS DOUBLE) - sign(CAST(s.s AS DOUBLE)))
         |    / sqrt((CAST(n * (n - 1) * (n * 2 + 5) AS DOUBLE)
         |      - CAST(tc AS DOUBLE)) / 18.0)
         |  END AS mk_z
         |FROM s JOIN ties ON s.user_id = ties.user_id
         |ORDER BY 1""".stripMargin,

    "q_poisson_bootstrap" ->
      s"""WITH $BarsSql,
         |mv AS (
         |  SELECT user_id, day, x FROM (
         |    SELECT user_id, day,
         |      close - lag(close) OVER (PARTITION BY user_id ORDER BY day)
         |        AS x
         |    FROM bars)
         |  WHERE x IS NOT NULL),
         |reps AS (SELECT unnest(range(0, $BootB)) AS b),
         |wtd AS (
         |  SELECT user_id, b,
         |    CASE
         |      WHEN u < exp(-1.0) THEN 0
         |      WHEN u < 2.0 * exp(-1.0) THEN 1
         |      WHEN u < 2.5 * exp(-1.0) THEN 2
         |      WHEN u < (8.0 / 3.0) * exp(-1.0) THEN 3
         |      WHEN u < (65.0 / 24.0) * exp(-1.0) THEN 4
         |      ELSE 5 END AS w,
         |    x
         |  FROM (
         |    SELECT user_id, day, x, b,
         |      (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#'
         |        || strftime(day, '%Y-%m-%d') || '#' || CAST(b AS VARCHAR)
         |        || '#$BootSeed'), 1, 15))::BIGINT AS DOUBLE) + 0.5)
         |        / CAST($TwoPow60 AS DOUBLE) AS u
         |    FROM mv CROSS JOIN reps)),
         |bm AS (
         |  SELECT user_id, b,
         |    CAST(sum(w * x) AS DOUBLE) / CAST(CAST(sum(w) AS BIGINT)
         |      AS DOUBLE) AS m
         |  FROM wtd GROUP BY 1, 2
         |  HAVING sum(w) > 0),
         |rk AS (
         |  SELECT user_id, m,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY m, b) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nb
         |  FROM bm),
         |ci AS (
         |  SELECT user_id, CAST(max(nb) AS BIGINT) AS n_reps,
         |    max(CASE WHEN rn = (nb + 9) // 10 THEN m END) AS lo,
         |    max(CASE WHEN rn = (nb * 9 + 9) // 10 THEN m END) AS hi
         |  FROM rk GROUP BY 1),
         |base AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx
         |  FROM mv GROUP BY 1)
         |SELECT base.user_id, n_days, n_reps,
         |  CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0
         |    AS mean_move,
         |  lo / 100.0 AS ci_lo, hi / 100.0 AS ci_hi
         |FROM base JOIN ci ON base.user_id = ci.user_id
         |ORDER BY 1""".stripMargin,

    "q_cliffs_delta" ->
      """WITH vc AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |t AS (
        |  SELECT v, ca, cb,
        |    CAST(COALESCE(sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS preb,
        |    CAST(sum(cb) OVER () AS BIGINT) AS totb
        |  FROM vc)
        |SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(max(totb) AS BIGINT) AS n_b,
        |  CAST(CAST(sum(ca * preb) AS BIGINT)
        |    - CAST(sum(ca * (totb - preb - cb)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(ca) AS BIGINT) * max(totb) AS DOUBLE)
        |    AS cliffs_delta
        |FROM t""".stripMargin)
}
