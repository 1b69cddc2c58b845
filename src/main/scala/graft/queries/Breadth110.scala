package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-eleventh wave — serial-structure depth: partial
  * autocorrelation, fixed-period spectral power, randomness of
  * direction changes.
  *
  *  - **q_pacf**: PACF at lags 1–3 per key via Durbin–Levinson over
  *    the SAME exact-moment lag correlations q_acf pins (int64 moments
  *    → one Pearson ratio per lag → the φ recursions as one identical
  *    IEEE chain in both engines).
  *  - **q_periodogram**: spectral power at the weekly (7) and monthly
  *    (30) periods — cos/sin projections of the day-move series with
  *    every product 1e-6-QUANTIZED before the sum (cos is libm-1-ulp;
  *    the floor absorbs it), power = (Σc² + Σs²)/n² at emit.
  *  - **q_turning_points**: the turning-point randomness test — a
  *    local extremum wherever consecutive cent-move signs flip
  *    (integer product < 0, exact), z against E = 2(n−2)/3,
  *    Var = (16n−29)/90.
  *
  * Scale shape: everything rides the memoized day-bar grid with
  * per-key windows; the periodogram's trig table is p distinct values
  * of a bar-index modulus — no per-row transcendental survives into
  * an ordered float sum. */
object Breadth110 {

  private def dayMoves(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .select(col(keyCol), col("day"), col("__x"))
  }

  /** Exact-moment Pearson lag correlation rows (key, lag, acf). */
  private def lagCorr(mv: DataFrame, keyCol: String,
                      maxLag: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val lagged = (1 to maxLag).foldLeft(mv) { (d, l) =>
      d.withColumn(s"__y$l", lag(col("__x"), l).over(w))
    }
    val stacked = lagged.select(col(keyCol), col("__x"),
      expr((1 to maxLag).map(l => s"$l, __y$l")
        .mkString(s"stack($maxLag, ", ", ", ") as (lag, __y)")))
      .filter(col("__y").isNotNull)
    val g = stacked.groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("__np"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val num = col("__np") * col("__sxy") - col("__sx") * col("__sy")
    val vx = col("__np") * col("__sxx") - col("__sx") * col("__sx")
    val vy = col("__np") * col("__syy") - col("__sy") * col("__sy")
    g.select(col(keyCol), col("lag"),
      when(vx > 0 && vy > 0, num.cast("double") /
        (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))).as("__r"))
  }

  /** PACF(1..3) per key by Durbin–Levinson over the lag correlations. */
  private[graft] def pacf(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame = {
    val r = lagCorr(dayMoves(df, keyCol, tsCol, valCol, tieBreak),
        keyCol, 3)
      .groupBy(col(keyCol))
      .agg(max(when(col("lag") === 1, col("__r"))).as("__r1"),
        max(when(col("lag") === 2, col("__r"))).as("__r2"),
        max(when(col("lag") === 3, col("__r"))).as("__r3"))
    val p1 = col("__r1")
    val p2 = (col("__r2") - col("__r1") * col("__r1")) /
      (lit(1.0) - col("__r1") * col("__r1"))
    // a1 after step 2: φ11 − φ22·φ11
    val a1 = col("__r1") - p2 * col("__r1")
    val p3 = (col("__r3") - a1 * col("__r2") - p2 * col("__r1")) /
      (lit(1.0) - a1 * col("__r1") - p2 * col("__r2"))
    r.select(col(keyCol), p1.as("pacf1"), p2.as("pacf2"), p3.as("pacf3"))
      .orderBy(col(keyCol).asc)
  }

  /** Spectral power at fixed periods over day moves (quantized trig
    * projections). */
  private[graft] def periodogram(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String,
                                 periods: Seq[Int] = Seq(7, 30)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val mv = dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__t", (row_number().over(w) - 1).cast("long"))
    val ps = periods.toDF("period")
    val ang = lit(2.0) * lit(math.Pi) *
      pmod(col("__t"), col("period").cast("long")).cast("double") /
      col("period").cast("double")
    mv.crossJoin(broadcast(ps))
      .withColumn("__qc", q6(d(col("__x")) * cos(ang)))
      .withColumn("__qs", q6(d(col("__x")) * sin(ang)))
      .groupBy(col(keyCol), col("period"))
      .agg(count(lit(1)).as("n_moves"),
        sum(col("__qc")).as("__sc"), sum(col("__qs")).as("__ss"))
      .select(col(keyCol), col("period").cast("long"), col("n_moves"),
        ((d(col("__sc")) * d(col("__sc")) +
          d(col("__ss")) * d(col("__ss"))) /
          (d(col("n_moves")) * d(col("n_moves"))) / lit(1.0e12))
          .as("power"))
      .orderBy(col(keyCol).asc, col("period").asc)
  }

  /** Turning-point randomness z per key (integer-exact detection). */
  private[graft] def turningPoints(df: DataFrame, keyCol: String,
                                   tsCol: String, valCol: String,
                                   tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val b = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__d1", col("close") - lag(col("close"), 1).over(w))
      .withColumn("__d2", lead(col("close"), 1).over(w) - col("close"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(keyCol))))
    val g = b.groupBy(col(keyCol))
      .agg(max(col("__n")).as("n_days"),
        sum(when(col("__d1").isNotNull && col("__d2").isNotNull &&
          col("__d1") * col("__d2") < 0, 1L).otherwise(0L)).as("n_tp"))
    val e = lit(2.0) * d(col("n_days") - 2L) / lit(3.0)
    val v = d(col("n_days") * 16L - 29L) / lit(90.0)
    g.select(col(keyCol), col("n_days"), col("n_tp"),
      when(col("n_days") > 2 && v > 0,
        (d(col("n_tp")) - e) / sqrt(v)).as("tp_z"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_pacf" -> ((s, dir) =>
      pacf(Tables.events(s, dir), "user_id", "ts", "value", "event_id")),
    "q_periodogram" -> ((s, dir) =>
      periodogram(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_turning_points" -> ((s, dir) =>
      turningPoints(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  private val MovesSql =
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
      |  GROUP BY user_id, day),
      |mv AS (
      |  SELECT user_id, day, x FROM (
      |    SELECT user_id, day,
      |      close - lag(close) OVER (PARTITION BY user_id ORDER BY day)
      |        AS x
      |    FROM bars)
      |  WHERE x IS NOT NULL)""".stripMargin

  private val LagCorrSql =
    """lg AS (
      |  SELECT user_id, x,
      |    lag(x, 1) OVER wk AS y1, lag(x, 2) OVER wk AS y2,
      |    lag(x, 3) OVER wk AS y3
      |  FROM mv WINDOW wk AS (PARTITION BY user_id ORDER BY day)),
      |st AS (
      |  SELECT user_id, 1 AS lag, x, y1 AS y FROM lg WHERE y1 IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, 2, x, y2 FROM lg WHERE y2 IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, 3, x, y3 FROM lg WHERE y3 IS NOT NULL),
      |g AS (
      |  SELECT user_id, lag, CAST(count(*) AS BIGINT) AS np,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM st GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, lag,
      |    CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
      |    THEN CAST(np * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(np * syy - sy * sy AS DOUBLE))) END AS rr
      |  FROM g)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_pacf" ->
      s"""WITH $MovesSql,
         |$LagCorrSql,
         |p AS (
         |  SELECT user_id,
         |    max(CASE WHEN lag = 1 THEN rr END) AS r1,
         |    max(CASE WHEN lag = 2 THEN rr END) AS r2,
         |    max(CASE WHEN lag = 3 THEN rr END) AS r3
         |  FROM r GROUP BY 1)
         |SELECT user_id, r1 AS pacf1,
         |  (r2 - r1 * r1) / (1.0 - r1 * r1) AS pacf2,
         |  (r3 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) * r2
         |    - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
         |  / (1.0 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) * r1
         |    - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2) AS pacf3
         |FROM p ORDER BY 1""".stripMargin,

    "q_periodogram" ->
      s"""WITH $MovesSql,
         |ti AS (
         |  SELECT user_id, x,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
         |      - 1 AS BIGINT) AS tt
         |  FROM mv),
         |pp AS (SELECT unnest([7, 30]) AS period),
         |qp AS (
         |  SELECT user_id, period,
         |    CAST(floor(CAST(x AS DOUBLE)
         |      * cos(2.0 * pi() * CAST(tt % period AS DOUBLE)
         |        / CAST(period AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
         |      AS qc,
         |    CAST(floor(CAST(x AS DOUBLE)
         |      * sin(2.0 * pi() * CAST(tt % period AS DOUBLE)
         |        / CAST(period AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
         |      AS qs
         |  FROM ti CROSS JOIN pp)
         |SELECT user_id, CAST(period AS BIGINT) AS period,
         |  CAST(count(*) AS BIGINT) AS n_moves,
         |  (CAST(CAST(sum(qc) AS BIGINT) AS DOUBLE)
         |      * CAST(CAST(sum(qc) AS BIGINT) AS DOUBLE)
         |    + CAST(CAST(sum(qs) AS BIGINT) AS DOUBLE)
         |      * CAST(CAST(sum(qs) AS BIGINT) AS DOUBLE))
         |  / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))
         |  / 1000000000000.0 AS power
         |FROM qp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_turning_points" ->
      s"""WITH $MovesSql,
         |b AS (
         |  SELECT user_id, day, close,
         |    close - lag(close) OVER wk AS d1,
         |    lead(close) OVER wk - close AS d2,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
         |  FROM bars WINDOW wk AS (PARTITION BY user_id ORDER BY day)),
         |g AS (
         |  SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
         |    CAST(sum(CASE WHEN d1 IS NOT NULL AND d2 IS NOT NULL
         |      AND d1 * d2 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
         |  FROM b GROUP BY 1)
         |SELECT user_id, n_days, n_tp,
         |  CASE WHEN n_days > 2
         |      AND CAST(n_days * 16 - 29 AS DOUBLE) / 90.0 > 0 THEN
         |    (CAST(n_tp AS DOUBLE)
         |      - 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0)
         |    / sqrt(CAST(n_days * 16 - 29 AS DOUBLE) / 90.0)
         |  END AS tp_z
         |FROM g ORDER BY 1""".stripMargin)
}
