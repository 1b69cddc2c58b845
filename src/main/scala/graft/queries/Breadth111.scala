package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.d

/** Hundred-twelfth wave — supplier reliability, lead-lag causality, and
  * price rigidity.
  *
  *  - **q_vendor_consistency**: per-supplier ship-delay mean/σ/CV from
  *    exact integer day-delays, the 10 most erratic (CV ranked on the
  *    cross-multiplied integer form so the sort never reads a float).
  *  - **q_granger_lite**: does yesterday's MARKET move predict a key's
  *    move beyond its own lag? — the 2-regressor OLS in closed form
  *    (centered moments as one IEEE chain from exact int64 sums),
  *    F = (SSE_r − SSE_f)/(SSE_f/(n−3)) against the own-lag-only
  *    restricted fit.
  *  - **q_price_stickiness**: zero-move share and mean unchanged-run
  *    length per key — pure integer counting over the move grid
  *    (runs via the gaps-and-islands sum-of-new-runs trick).
  *
  * Scale shape: vendor stats are one |lineitem|→|supplier| aggregate;
  * Granger moments ride the memoized move grid + the |days| market
  * series broadcast; stickiness is two window passes per key. */
object Breadth111 {

  private val VendorTopK = 10

  /** Per-supplier ship-delay consistency, top-k most erratic. */
  private[graft] def vendorConsistency(supplier: DataFrame,
                                       orders: DataFrame,
                                       lineitem: DataFrame,
                                       k: Int = VendorTopK): DataFrame = {
    val delays = lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("__ship"))
      .join(orders.select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("__od")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(col("__ship"), col("__od")).cast("long").as("__d"))
    val g = delays.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__s"),
        sum(col("__d") * col("__d")).as("__q"))
      .filter(col("__n") > 1)
    // CV² = var/mean² ∝ (n·q − s²)·n / ((n−1)·s²): rank on the integer
    // cross-multiplied pair, never the float CV
    val varNum = col("__n") * col("__q") - col("__s") * col("__s")
    val mean = d(col("__s")) / d(col("__n"))
    val sd = sqrt(d(varNum) / (d(col("__n")) * d(col("__n") - 1L)))
    g.filter(col("__s") > 0)
      .withColumn("__cvn", varNum * col("__n"))
      .withColumn("__cvd", (col("__n") - 1L) * col("__s") * col("__s"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("__n").as("n_lines"),
        mean.as("mean_delay"), sd.as("sd_delay"),
        (sd / mean).as("cv_delay"),
        (d(col("__cvn")) / d(col("__cvd"))).as("__cv2"))
      .orderBy(col("__cv2").desc, col("s_suppkey").asc)
      .limit(k)
      .select(col("s_suppkey"), col("s_name"), col("n_lines"),
        col("mean_delay"), col("sd_delay"), col("cv_delay"))
  }

  /** Day-over-day cent moves per key. */
  private def dayMoves(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .select(col(keyCol), col("day"), col("__x"))
  }

  /** Granger-lite: market-lag F beyond the own lag, per key. */
  private[graft] def grangerLite(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val mv = dayMoves(df, keyCol, tsCol, valCol, tieBreak)
    val mkt = mv.groupBy(col("day")).agg(sum(col("__x")).as("__m"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val rows = mv.join(mkt, Seq("day"))
      .withColumn("__xl", lag(col("__x"), 1).over(w))
      .withColumn("__ml", lag(col("__m"), 1).over(w))
      .filter(col("__xl").isNotNull)
      .select(col(keyCol), col("__x").as("__y"), col("__xl").as("__a"),
        col("__ml").as("__b"))
    val g = rows.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__y")).as("__sy"), sum(col("__a")).as("__sa"),
        sum(col("__b")).as("__sb"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__a") * col("__a")).as("__saa"),
        sum(col("__b") * col("__b")).as("__sbb"),
        sum(col("__y") * col("__a")).as("__sya"),
        sum(col("__y") * col("__b")).as("__syb"),
        sum(col("__a") * col("__b")).as("__sab"))
    val n = d(col("__n"))
    // centered second moments, every operand chain fixed
    val syy = d(col("__syy")) - d(col("__sy")) * d(col("__sy")) / n
    val saa = d(col("__saa")) - d(col("__sa")) * d(col("__sa")) / n
    val sbb = d(col("__sbb")) - d(col("__sb")) * d(col("__sb")) / n
    val sya = d(col("__sya")) - d(col("__sy")) * d(col("__sa")) / n
    val syb = d(col("__syb")) - d(col("__sy")) * d(col("__sb")) / n
    val sab = d(col("__sab")) - d(col("__sa")) * d(col("__sb")) / n
    val det = saa * sbb - sab * sab
    val b1 = (sbb * sya - sab * syb) / det
    val b2 = (saa * syb - sab * sya) / det
    val sseF = syy - b1 * sya - b2 * syb
    val sseR = syy - sya * sya / saa
    val f = (sseR - sseF) / (sseF / (n - lit(3.0)))
    g.select(col(keyCol), col("__n").as("n_obs"),
      when(det =!= 0.0 && saa > 0 && sseF > 0, f).as("granger_f"),
      when(det =!= 0.0, b2).as("mkt_lag_coef"))
      .orderBy(col(keyCol).asc)
  }

  /** Zero-move share + mean unchanged-run length per key, at DOLLAR
    * grain (cent closes are continuous — exact ties basically never
    * happen; rigidity is a coarse-grain property). */
  private[graft] def priceStickiness(df: DataFrame, keyCol: String,
                                     tsCol: String, valCol: String,
                                     tieBreak: String): DataFrame = {
    val w0 = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val mv = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"),
        floor(col("close").cast("double") / lit(100.0)).cast("long")
          .as("__dl"))
      .withColumn("__x", col("__dl") - lag(col("__dl"), 1).over(w0))
      .filter(col("__x").isNotNull)
      .select(col(keyCol), col("day"), col("__x"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val marked = mv
      .withColumn("__z", when(col("__x") === 0L, 1L).otherwise(0L))
      // a zero-run starts where this move is zero and the previous isn't
      .withColumn("__start", when(col("__x") === 0L &&
        coalesce(lag(col("__x"), 1).over(w), lit(1L)) =!= 0L, 1L)
        .otherwise(0L))
    marked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_moves"), sum(col("__z")).as("n_zero"),
        sum(col("__start")).as("__runs"))
      .select(col(keyCol), col("n_moves"), col("n_zero"),
        (col("n_zero").cast("double") / col("n_moves").cast("double"))
          .as("zero_share"),
        when(col("__runs") > 0,
          col("n_zero").cast("double") / col("__runs").cast("double"))
          .as("mean_run_len"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_vendor_consistency" -> ((s, dir) =>
      vendorConsistency(Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "q_granger_lite" -> ((s, dir) =>
      grangerLite(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_price_stickiness" -> ((s, dir) =>
      priceStickiness(Tables.events(s, dir), "user_id", "ts", "value",
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

  val oracle: Map[String, String] = Map(
    "q_vendor_consistency" ->
      s"""WITH delays AS (
         |  SELECT l_suppkey,
         |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(d) AS BIGINT) AS s,
         |    CAST(sum(d * d) AS BIGINT) AS q
         |  FROM delays GROUP BY 1
         |  HAVING count(*) > 1 AND sum(d) > 0)
         |SELECT s_suppkey, s_name, n AS n_lines,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_delay,
         |  sqrt(CAST(n * q - s * s AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd_delay,
         |  sqrt(CAST(n * q - s * s AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
         |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cv_delay
         |FROM g JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY CAST((n * q - s * s) * n AS DOUBLE)
         |  / CAST((n - 1) * s * s AS DOUBLE) DESC, s_suppkey
         |LIMIT $VendorTopK""".stripMargin,

    "q_granger_lite" ->
      s"""WITH $MovesSql,
         |mk AS (SELECT day, CAST(sum(x) AS BIGINT) AS m FROM mv
         |  GROUP BY 1),
         |rows_ AS (
         |  SELECT user_id, x AS y,
         |    lag(x) OVER wk AS a, lag(m) OVER wk AS b
         |  FROM mv JOIN mk USING (day)
         |  WINDOW wk AS (PARTITION BY user_id ORDER BY day)),
         |g AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(a) AS BIGINT) AS sa,
         |    CAST(sum(b) AS BIGINT) AS sb,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(a * a) AS BIGINT) AS saa,
         |    CAST(sum(b * b) AS BIGINT) AS sbb,
         |    CAST(sum(y * a) AS BIGINT) AS sya,
         |    CAST(sum(y * b) AS BIGINT) AS syb,
         |    CAST(sum(a * b) AS BIGINT) AS sab
         |  FROM rows_ WHERE a IS NOT NULL GROUP BY 1),
         |c AS (
         |  SELECT user_id, n,
         |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS cyy,
         |    CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS caa,
         |    CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS cbb,
         |    CAST(sya AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sa AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS cya,
         |    CAST(syb AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sb AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS cyb,
         |    CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS cab
         |  FROM g)
         |SELECT user_id, n AS n_obs,
         |  CASE WHEN caa * cbb - cab * cab <> 0.0 AND caa > 0
         |      AND cyy - ((cbb * cya - cab * cyb)
         |          / (caa * cbb - cab * cab)) * cya
         |        - ((caa * cyb - cab * cya)
         |          / (caa * cbb - cab * cab)) * cyb > 0 THEN
         |    ((cyy - cya * cya / caa)
         |      - (cyy - ((cbb * cya - cab * cyb)
         |          / (caa * cbb - cab * cab)) * cya
         |        - ((caa * cyb - cab * cya)
         |          / (caa * cbb - cab * cab)) * cyb))
         |    / ((cyy - ((cbb * cya - cab * cyb)
         |          / (caa * cbb - cab * cab)) * cya
         |        - ((caa * cyb - cab * cya)
         |          / (caa * cbb - cab * cab)) * cyb)
         |      / (CAST(n AS DOUBLE) - 3.0))
         |  END AS granger_f,
         |  CASE WHEN caa * cbb - cab * cab <> 0.0 THEN
         |    (caa * cyb - cab * cya) / (caa * cbb - cab * cab)
         |  END AS mkt_lag_coef
         |FROM c ORDER BY 1""".stripMargin,

    "q_price_stickiness" ->
      s"""WITH $MovesSql,
         |mvd AS (
         |  SELECT user_id, day, x FROM (
         |    SELECT user_id, day,
         |      (close // 100) - lag(close // 100) OVER (
         |        PARTITION BY user_id ORDER BY day) AS x
         |    FROM bars)
         |  WHERE x IS NOT NULL),
         |mkd AS (
         |  SELECT user_id, day, x,
         |    CASE WHEN x = 0 THEN 1 ELSE 0 END AS z,
         |    CASE WHEN x = 0 AND COALESCE(lag(x) OVER (
         |        PARTITION BY user_id ORDER BY day), 1) <> 0
         |      THEN 1 ELSE 0 END AS strt
         |  FROM mvd)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_moves,
         |  CAST(sum(z) AS BIGINT) AS n_zero,
         |  CAST(sum(z) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS zero_share,
         |  CASE WHEN sum(strt) > 0 THEN
         |    CAST(sum(z) AS DOUBLE) / CAST(CAST(sum(strt) AS BIGINT)
         |      AS DOUBLE)
         |  END AS mean_run_len
         |FROM mkd GROUP BY 1 ORDER BY 1""".stripMargin)
}
