package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.d

/** Hundredth wave — forecasting recurrences beyond Holt linear:
  * seasonal, intermittent, and decomposition-based.
  *
  *  - **q_holt_winters**: additive Holt–Winters with WEEKLY (m=7)
  *    seasonality keyed by calendar weekday (not bar index, so a
  *    missing trading day can't rotate the season) — level/trend/
  *    seasonal recurrence folded per key in day order; the DuckDB twin
  *    carries the seven seasonal state columns through a recursive
  *    CTE. Seeds: level = first close, trend = 0, seasons = 0.
  *  - **q_croston**: Croston's intermittent-demand method over the
  *    per-(key, day) positive demand series (Σ props.k) — paired SES
  *    of demand size and inter-demand interval (calendar-day gaps),
  *    forecast = z/p, stepping ONLY on demand days.
  *  - **q_theta**: the theta method's θ=2 line — per-key OLS on the
  *    bar index from exact int64 sums (one division for the slope),
  *    θ-line 2y − fit, and its SES(α=1/5) — emitted per bar.
  *
  * Scale shape: all three ride the memoized day-bar grid (or the
  * |key·demand-days|-bounded demand table); per-key series are
  * calendar-bounded so the executor-local fold is O(days) with O(1)
  * state (O(7) for HW); the theta OLS is one map-side-combinable
  * aggregate joined back broadcast. */
object Breadth99 {

  private val HwA = 1.0 / 5.0   // level
  private val HwB = 1.0 / 10.0  // trend
  private val HwG = 1.0 / 4.0   // season
  private val CrA = 1.0 / 10.0  // croston
  private val ThA = 1.0 / 5.0   // theta SES

  /** Holt–Winters accumulator — level, trend, the 7 weekday seasonals
    * (Seq, not Vector: the product encoder handles Seq fields). */
  private[graft] case class HwAcc(l: Double, t: Double, s: Seq[Double])
  private[graft] case class HwOut(level: Double, trend: Double,
                                  seasonal: Double, fitted: Option[Double])

  /** One HW step of the batch fold. `w` is the
    * 0=Sunday..6 weekday of the bar's day. */
  private[graft] def hwStep(st: Option[HwAcc], c: Double,
                            w: Int): (HwAcc, HwOut) = st match {
    case None =>
      (HwAcc(c, 0.0, Seq.fill(7)(0.0)), HwOut(c, 0.0, 0.0, None))
    case Some(a) =>
      val fit = a.l + a.t + a.s(w)
      val lN = HwA * (c - a.s(w)) + (1.0 - HwA) * (a.l + a.t)
      val tN = HwB * (lN - a.l) + (1.0 - HwB) * a.t
      val sN = HwG * (c - lN) + (1.0 - HwG) * a.s(w)
      (HwAcc(lN, tN, a.s.updated(w, sN)), HwOut(lN, tN, sN, Some(fit)))
  }

  /** Additive Holt–Winters(7) per key over day-bar cent closes. */
  private[graft] def holtWinters(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"),
        (dayofweek(col("day")) - 1).cast("long").as("__dw"))
    val arr = bars.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("close"),
        col("__dw")))).as("__b"))
    val fold = udf { (cs: Seq[Long], ws: Seq[Long]) =>
      var st: Option[HwAcc] = None
      cs.indices.map { i =>
        val (next, out) = hwStep(st, cs(i).toDouble, ws(i).toInt)
        st = Some(next)
        out
      }
    }
    arr
      .withColumn("__s", fold(transform(col("__b"), _.getField("close")),
        transform(col("__b"), _.getField("__dw"))))
      .select(col(keyCol), explode(zip_with(col("__b"), col("__s"),
        (b, s) => struct(b.getField("day").as("day"),
          (s.getField("level") / lit(100.0)).as("level"),
          (s.getField("trend") / lit(100.0)).as("trend"),
          (s.getField("seasonal") / lit(100.0)).as("seasonal"),
          (s.getField("fitted") / lit(100.0)).as("fitted")))).as("r"))
      .select(col(keyCol), col("r.*"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** Croston accumulator: smoothed demand size + inter-demand gap. */
  private[graft] case class CrAcc(z: Double, p: Double)

  /** One Croston step of the batch fold. */
  private[graft] def crostonStep(st: Option[CrAcc], d: Double,
                                 g: Double): CrAcc = st match {
    case None => CrAcc(d, g)
    case Some(a) =>
      CrAcc(CrA * d + (1.0 - CrA) * a.z, CrA * g + (1.0 - CrA) * a.p)
  }

  /** Croston's method over positive day demands of `qtyJsonField`. */
  private[graft] def croston(df: DataFrame, keyCol: String, tsCol: String,
                             qtyJsonField: String): DataFrame = {
    val dem = df
      .withColumn("__day", col(tsCol).cast("date"))
      .withColumn("__q", coalesce(
        get_json_object(col("props"), s"$$.$qtyJsonField").cast("long"),
        lit(0L)))
      .groupBy(col(keyCol), col("__day"))
      .agg(sum(col("__q")).as("__d"))
      .filter(col("__d") > 0)
    val seq = Window.partitionBy(col(keyCol)).orderBy(col("__day").asc)
    val withGap = dem.withColumn("__gap",
      coalesce(datediff(col("__day"), lag(col("__day"), 1).over(seq))
        .cast("long"), lit(1L)))
    val arr = withGap.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__day").as("day"),
        col("__gap"), col("__d")))).as("__b"))
    val fold = udf { (gaps: Seq[Long], ds: Seq[Long]) =>
      var st: Option[CrAcc] = None
      ds.indices.map { i =>
        val a = crostonStep(st, ds(i).toDouble, gaps(i).toDouble)
        st = Some(a)
        (a.z, a.p, a.z / a.p)
      }
    }
    arr
      .withColumn("__s", fold(transform(col("__b"), _.getField("__gap")),
        transform(col("__b"), _.getField("__d"))))
      .select(col(keyCol), explode(zip_with(col("__b"), col("__s"),
        (b, s) => struct(b.getField("day").as("day"),
          b.getField("__d").as("demand"),
          s.getField("_1").as("z_size"),
          s.getField("_2").as("p_interval"),
          s.getField("_3").as("forecast")))).as("r"))
      .select(col(keyCol), col("r.*"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** Theta(2) line + SES per key: OLS on the bar index (exact int64
    * sums), θ = 2y − fit, SES(1/5) along days. */
  private[graft] def theta(df: DataFrame, keyCol: String, tsCol: String,
                           valCol: String, tieBreak: String): DataFrame = {
    val idx = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val nb = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__i", row_number().over(idx).cast("long"))
    val ols = nb.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__i")).as("__si"),
        sum(col("__i") * col("__i")).as("__sii"),
        sum(col("close")).as("__sy"),
        sum(col("__i") * col("close")).as("__siy"))
    val slope = d(col("__n") * col("__siy") - col("__si") * col("__sy")) /
      d(col("__n") * col("__sii") - col("__si") * col("__si"))
    val icept = (d(col("__sy")) - col("__slope") * d(col("__si"))) /
      d(col("__n"))
    val th = nb.join(broadcast(ols), col(keyCol) === col("__k"))
      .withColumn("__slope", slope)
      .withColumn("__a", icept)
      .withColumn("__th",
        lit(2.0) * d(col("close")) -
          (col("__a") + col("__slope") * d(col("__i"))))
    val arr = th.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("__th"))))
        .as("__b"),
        max(col("__slope")).as("__bslope"))
    val fold = udf { (xs: Seq[Double]) =>
      var e = 0.0
      xs.indices.map { i =>
        e = if (i == 0) xs(i) else ThA * xs(i) + (1.0 - ThA) * e
        e
      }
    }
    arr
      .withColumn("__s", fold(transform(col("__b"), _.getField("__th"))))
      .select(col(keyCol), (col("__bslope") / lit(100.0)).as("trend_slope"),
        explode(zip_with(col("__b"), col("__s"),
          (b, s) => struct(b.getField("day").as("day"),
            (b.getField("__th") / lit(100.0)).as("theta_line"),
            (s / lit(100.0)).as("theta_ses")))).as("r"))
      .select(col(keyCol), col("r.day"), col("r.theta_line"),
        col("r.theta_ses"), col("trend_slope"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_holt_winters" -> ((s, dir) =>
      holtWinters(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_croston" -> ((s, dir) =>
      croston(Tables.events(s, dir), "user_id", "ts", "k")),
    "q_theta" -> ((s, dir) =>
      theta(Tables.events(s, dir), "user_id", "ts", "value", "event_id")))

  private val barsSql =
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
      |nb AS (
      |  SELECT user_id, day, close,
      |    CAST(dayofweek(day) AS BIGINT) AS dw,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  // The level update expression, inlined wherever the new level is
  // needed inside the recursive select (the q_macd discipline).
  private val HwSPrev = "(CASE b.dw WHEN 0 THEN h.s0 WHEN 1 THEN h.s1 " +
    "WHEN 2 THEN h.s2 WHEN 3 THEN h.s3 WHEN 4 THEN h.s4 WHEN 5 THEN h.s5 " +
    "ELSE h.s6 END)"
  private val HwLNew = s"((1.0/5.0) * (CAST(b.close AS DOUBLE) - $HwSPrev)" +
    " + (1.0 - 1.0/5.0) * (h.l + h.tr))"
  private def hwSNew(k: Int) =
    s"CASE WHEN b.dw = $k THEN (1.0/4.0) * (CAST(b.close AS DOUBLE) " +
      s"- $HwLNew) + (1.0 - 1.0/4.0) * h.s$k ELSE h.s$k END"

  val oracle: Map[String, String] = Map(
    "q_holt_winters" ->
      s"""WITH RECURSIVE $barsSql,
         |h AS (
         |  SELECT user_id, day, i, dw, CAST(close AS DOUBLE) AS l,
         |    CAST(0.0 AS DOUBLE) AS tr,
         |    CAST(NULL AS DOUBLE) AS fit,
         |    CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
         |    CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
         |    CAST(0.0 AS DOUBLE) AS s4, CAST(0.0 AS DOUBLE) AS s5,
         |    CAST(0.0 AS DOUBLE) AS s6
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.i, b.dw,
         |    $HwLNew,
         |    (1.0/10.0) * ($HwLNew - h.l) + (1.0 - 1.0/10.0) * h.tr,
         |    h.l + h.tr + $HwSPrev,
         |    ${hwSNew(0)}, ${hwSNew(1)}, ${hwSNew(2)}, ${hwSNew(3)},
         |    ${hwSNew(4)}, ${hwSNew(5)}, ${hwSNew(6)}
         |  FROM h JOIN nb b ON b.user_id = h.user_id AND b.i = h.i + 1)
         |SELECT user_id, day, l / 100.0 AS level, tr / 100.0 AS trend,
         |  (CASE dw WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2
         |    WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END)
         |    / 100.0 AS seasonal,
         |  fit / 100.0 AS fitted
         |FROM h ORDER BY user_id, day""".stripMargin,

    "q_croston" ->
      """WITH RECURSIVE dem AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(COALESCE(CAST(json_extract_string(props, '$.k')
        |      AS BIGINT), 0)) AS BIGINT) AS d
        |  FROM events GROUP BY 1, 2 HAVING sum(COALESCE(
        |    CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) > 0),
        |g AS (
        |  SELECT user_id, day, d,
        |    CAST(COALESCE(date_diff('day',
        |      lag(day) OVER (PARTITION BY user_id ORDER BY day), day), 1)
        |      AS BIGINT) AS gap,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM dem),
        |c AS (
        |  SELECT user_id, day, d, i, CAST(d AS DOUBLE) AS z,
        |    CAST(gap AS DOUBLE) AS p
        |  FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT b.user_id, b.day, b.d, b.i,
        |    (1.0/10.0) * CAST(b.d AS DOUBLE) + (1.0 - 1.0/10.0) * c.z,
        |    (1.0/10.0) * CAST(b.gap AS DOUBLE) + (1.0 - 1.0/10.0) * c.p
        |  FROM c JOIN g b ON b.user_id = c.user_id AND b.i = c.i + 1)
        |SELECT user_id, day, d AS demand, z AS z_size, p AS p_interval,
        |  z / p AS forecast
        |FROM c ORDER BY user_id, day""".stripMargin,

    "q_theta" ->
      s"""WITH RECURSIVE $barsSql,
         |ols AS (
         |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(i) AS BIGINT) AS si,
         |    CAST(sum(i * i) AS BIGINT) AS sii,
         |    CAST(sum(close) AS BIGINT) AS sy,
         |    CAST(sum(i * close) AS BIGINT) AS siy
         |  FROM nb GROUP BY 1),
         |sl AS (
         |  SELECT k, CAST(n * siy - si * sy AS DOUBLE)
         |      / CAST(n * sii - si * si AS DOUBLE) AS slope,
         |    n, si, sy
         |  FROM ols),
         |ic AS (
         |  SELECT k, slope,
         |    (CAST(sy AS DOUBLE) - slope * CAST(si AS DOUBLE))
         |      / CAST(n AS DOUBLE) AS a
         |  FROM sl),
         |th AS (
         |  SELECT nb.user_id, nb.day, nb.i, ic.slope,
         |    2.0 * CAST(nb.close AS DOUBLE)
         |      - (ic.a + ic.slope * CAST(nb.i AS DOUBLE)) AS thv
         |  FROM nb JOIN ic ON nb.user_id = ic.k),
         |s AS (
         |  SELECT user_id, day, i, slope, thv, thv AS e
         |  FROM th WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.i, b.slope, b.thv,
         |    (1.0/5.0) * b.thv + (1.0 - 1.0/5.0) * s.e
         |  FROM s JOIN th b ON b.user_id = s.user_id AND b.i = s.i + 1)
         |SELECT user_id, day, thv / 100.0 AS theta_line,
         |  e / 100.0 AS theta_ses, slope / 100.0 AS trend_slope
         |FROM s ORDER BY user_id, day""".stripMargin)
}
