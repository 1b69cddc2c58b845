package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-fourteenth wave — tail- and drawdown-adjusted performance
  * ratios.
  *
  *  - **q_rachev_ratio**: ES₀.₁(gains)/|ES₀.₁(losses)| per key — both
  *    tail means RANK-EXACT from the move count table with the
  *    trimmed-mean interval arithmetic (partial tied-value overlap in
  *    int64 ranks), one division per tail at emit.
  *  - **q_martin_ratio**: mean day move over the ulcer index — daily
  *    drawdowns from the running peak, each 1e-6-quantized before the
  *    order-free square sum (the corpus quantization discipline).
  *  - **q_sterling_lite**: mean day move over the average of the 3
  *    deepest drawdown EPISODES — episodes are gaps-and-islands runs
  *    between new highs (integer), episode depths rank-picked top-3.
  *
  * Scale shape: tails rank |distinct move| count tables; drawdowns are
  * two window passes per key; episode depths are a |episodes|-bounded
  * aggregate. */
object Breadth113 {

  private def dayMoves(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__x", col("close") - lag(col("close"), 1).over(w))
      .filter(col("__x").isNotNull)
      .select(col(keyCol), col("day"), col("__x"))
  }

  /** Rank-exact decile tail means and their ratio per key. */
  private[graft] def rachevRatio(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val vc = dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .groupBy(col(keyCol), col("__x").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col(keyCol))
    val t = vc
      .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(all))
      .withColumn("__k",
        floor((col("__n") + 9L).cast("double") / lit(10.0)).cast("long"))
    // lowest-k / highest-k overlaps (the trimmed-mean interval trick)
    val lowC = greatest(lit(0L),
      least(col("__k"), col("__pre") + col("__cnt")) - col("__pre"))
    val highC = greatest(lit(0L),
      col("__pre") + col("__cnt") -
        greatest(col("__pre"), col("__n") - col("__k")))
    t.groupBy(col(keyCol))
      .agg(max(col("__n")).as("n_moves"), max(col("__k")).as("k_tail"),
        sum(col("__v") * lowC).as("__ls"),
        sum(col("__v") * highC).as("__hs"))
      .select(col(keyCol), col("n_moves"), col("k_tail"),
        (d(col("__hs")) / d(col("k_tail")) / lit(100.0)).as("es_gain"),
        (d(col("__ls")) / d(col("k_tail")) / lit(100.0)).as("es_loss"),
        when(col("__ls") < 0,
          d(col("__hs")) / -d(col("__ls"))).as("rachev"))
      .orderBy(col(keyCol).asc)
  }

  /** Daily drawdowns from the running peak + the mean day move. */
  private def ddBase(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__peak", max(col("close")).over(run))
      .withColumn("__ddq",
        q6(d(col("__peak") - col("close")) / d(col("__peak"))))
  }

  /** Mean day move / ulcer index per key. */
  private[graft] def martinRatio(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame = {
    val b = ddBase(df, keyCol, tsCol, valCol, tieBreak)
    val g = b.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__ddq") * col("__ddq")).as("__sdd"))
    val moves = dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__nm"), sum(col("__x")).as("__sx"))
    val ulcer = sqrt(d(col("__sdd")) / d(col("__n"))) / lit(1.0e6)
    val meanMove = d(col("__sx")) / d(col("__nm")) / lit(100.0)
    g.join(moves, Seq(keyCol))
      .select(col(keyCol), col("__n").as("n_days"),
        meanMove.as("mean_move"), ulcer.as("ulcer_index"),
        when(col("__sdd") > 0, meanMove / ulcer).as("martin_ratio"))
      .orderBy(col(keyCol).asc)
  }

  /** Mean day move / mean of the 3 deepest drawdown episodes. */
  private[graft] def sterlingLite(df: DataFrame, keyCol: String,
                                  tsCol: String, valCol: String,
                                  tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
    val b = ddBase(df, keyCol, tsCol, valCol, tieBreak)
      // a new episode starts at every new running high (dd == 0)
      .withColumn("__newHigh",
        when(col("__ddq") === 0L, 1L).otherwise(0L))
      .withColumn("__ep", sum(col("__newHigh")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val depths = b.groupBy(col(keyCol), col("__ep"))
      .agg(max(col("__ddq")).as("__depth"))
      .filter(col("__depth") > 0)
    val rk = Window.partitionBy(col(keyCol))
      .orderBy(col("__depth").desc, col("__ep").asc)
    val top3 = depths.withColumn("__rn", row_number().over(rk))
      .filter(col("__rn") <= 3)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_episodes"), sum(col("__depth")).as("__sd"))
    val moves = dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__nm"), sum(col("__x")).as("__sx"))
    val meanMove = d(col("__sx")) / d(col("__nm")) / lit(100.0)
    val meanDepth = d(col("__sd")) / d(col("n_episodes")) / lit(1.0e6)
    moves.join(top3, Seq(keyCol))
      .select(col(keyCol), col("n_episodes"), meanMove.as("mean_move"),
        meanDepth.as("mean_top3_dd"),
        when(col("__sd") > 0, meanMove / meanDepth).as("sterling_lite"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_rachev_ratio" -> ((s, dir) =>
      rachevRatio(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_martin_ratio" -> ((s, dir) =>
      martinRatio(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_sterling_lite" -> ((s, dir) =>
      sterlingLite(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  private val BaseSql =
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
      |  WHERE x IS NOT NULL),
      |dd AS (
      |  SELECT user_id, day, close,
      |    CAST(floor(CAST(pk - close AS DOUBLE) / CAST(pk AS DOUBLE)
      |      * 1000000.0 + 0.5) AS BIGINT) AS ddq
      |  FROM (
      |    SELECT user_id, day, close,
      |      max(close) OVER (PARTITION BY user_id ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
      |    FROM bars)),
      |mvagg AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS nm,
      |    CAST(sum(x) AS BIGINT) AS sx
      |  FROM mv GROUP BY 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rachev_ratio" ->
      s"""WITH $BaseSql,
         |vc AS (
         |  SELECT user_id, x AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM mv GROUP BY 1, 2),
         |rk AS (
         |  SELECT user_id, v, cnt,
         |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY user_id ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pre,
         |    CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n
         |  FROM vc),
         |tr AS (
         |  SELECT user_id, v, cnt, pre, n, (n + 9) // 10 AS k,
         |    greatest(0, least((n + 9) // 10, pre + cnt) - pre) AS lo_c,
         |    greatest(0, pre + cnt
         |      - greatest(pre, n - (n + 9) // 10)) AS hi_c
         |  FROM rk)
         |SELECT user_id, CAST(max(n) AS BIGINT) AS n_moves,
         |  CAST(max(k) AS BIGINT) AS k_tail,
         |  CAST(CAST(sum(v * hi_c) AS BIGINT) AS DOUBLE)
         |    / CAST(max(k) AS DOUBLE) / 100.0 AS es_gain,
         |  CAST(CAST(sum(v * lo_c) AS BIGINT) AS DOUBLE)
         |    / CAST(max(k) AS DOUBLE) / 100.0 AS es_loss,
         |  CASE WHEN sum(v * lo_c) < 0 THEN
         |    CAST(CAST(sum(v * hi_c) AS BIGINT) AS DOUBLE)
         |    / -CAST(CAST(sum(v * lo_c) AS BIGINT) AS DOUBLE)
         |  END AS rachev
         |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_martin_ratio" ->
      s"""WITH $BaseSql,
         |g AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(ddq * ddq) AS BIGINT) AS sdd
         |  FROM dd GROUP BY 1)
         |SELECT g.user_id, g.n AS n_days,
         |  CAST(sx AS DOUBLE) / CAST(nm AS DOUBLE) / 100.0 AS mean_move,
         |  sqrt(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
         |    AS ulcer_index,
         |  CASE WHEN sdd > 0 THEN
         |    (CAST(sx AS DOUBLE) / CAST(nm AS DOUBLE) / 100.0)
         |    / (sqrt(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0)
         |  END AS martin_ratio
         |FROM g JOIN mvagg ON g.user_id = mvagg.user_id
         |ORDER BY 1""".stripMargin,

    "q_sterling_lite" ->
      s"""WITH $BaseSql,
         |ep AS (
         |  SELECT user_id, day, ddq,
         |    CAST(sum(CASE WHEN ddq = 0 THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS epi
         |  FROM dd),
         |depths AS (
         |  SELECT user_id, epi, CAST(max(ddq) AS BIGINT) AS depth
         |  FROM ep GROUP BY 1, 2 HAVING max(ddq) > 0),
         |top3 AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_episodes,
         |    CAST(sum(depth) AS BIGINT) AS sd
         |  FROM (
         |    SELECT user_id, epi, depth,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY depth DESC, epi) AS rn
         |    FROM depths)
         |  WHERE rn <= 3 GROUP BY 1)
         |SELECT mvagg.user_id, n_episodes,
         |  CAST(sx AS DOUBLE) / CAST(nm AS DOUBLE) / 100.0 AS mean_move,
         |  CAST(sd AS DOUBLE) / CAST(n_episodes AS DOUBLE) / 1000000.0
         |    AS mean_top3_dd,
         |  CASE WHEN sd > 0 THEN
         |    (CAST(sx AS DOUBLE) / CAST(nm AS DOUBLE) / 100.0)
         |    / (CAST(sd AS DOUBLE) / CAST(n_episodes AS DOUBLE)
         |      / 1000000.0)
         |  END AS sterling_lite
         |FROM mvagg JOIN top3 ON mvagg.user_id = top3.user_id
         |ORDER BY 1""".stripMargin)
}
