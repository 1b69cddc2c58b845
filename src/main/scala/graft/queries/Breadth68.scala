package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sixty-ninth wave — distribution testing, graph mixing, tail order
  * statistics.
  *
  *  - **q_jarque_bera**: the JB normality test per key over day-bar
  *    cent moves. Power sums Σx..Σx⁴ accumulate in decimal(38,0)
  *    (the q_moments discipline — order-free, exact), skew and excess
  *    kurtosis come from the raw-moment formulas with var^1.5 as
  *    var·√var, and JB = n/6·(S² + K²/4) compares against the χ²₂
  *    95% critical value 5.991 BEFORE the display round, so the
  *    `is_normal` verdict never depends on a rounded digit.
  *  - **q_assortativity**: Newman degree assortativity of the kNN
  *    embedding graph — the Pearson correlation of endpoint degrees
  *    over the symmetrized edge list (each undirected edge contributes
  *    both orientations). Five integer sums over 2·|E| pairs; two IEEE
  *    sqrts and one division at emit. Negative = hubs link to leaves.
  *  - **q_tail_ratio**: per-key upside/downside tail balance — the
  *    p90 and p10 day moves selected as EXACT rank statistics
  *    (rn = ceil(q·n) under a fully tie-broken (move, day) order, the
  *    q_info_ratio median discipline — integers out, no interpolated
  *    float), and their ratio when a downside tail exists.
  *
  * Scale shape: jarque_bera and tail_ratio ride the memoized day-bar
  * grid (one shuffle, |key·days|-bounded, then per-key windows /
  * map-side-combinable power sums); assortativity is two broadcast
  * joins against the |nodes|-sized degree table and one global
  * aggregate — never an |E|² pair blow-up. */
object Breadth68 {

  /** χ²(2 dof) upper 5% critical value — the JB acceptance bound. */
  private[graft] val JbCrit = 5.991

  /** JB statistic per key from exact decimal power sums of day moves. */
  private[graft] def jarqueBera(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val x = col("__x").cast("decimal(38,0)")
    val g = Breadth67.dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__d", x)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__d")).as("__s1"),
        sum(col("__d") * col("__d")).as("__s2"),
        sum(col("__d") * col("__d") * col("__d")).as("__s3"),
        sum(col("__d") * col("__d") * col("__d") * col("__d")).as("__s4"))
    val nD = col("n_days").cast("double")
    val m1 = col("__s1").cast("double") / nD
    val m2 = col("__s2").cast("double") / nD
    val m3 = col("__s3").cast("double") / nD
    val m4 = col("__s4").cast("double") / nD
    val vr = m2 - m1 * m1
    val sk = (m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1) /
      (vr * sqrt(vr))
    val ku = (m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2 -
      lit(3.0) * m1 * m1 * m1 * m1) / (vr * vr) - lit(3.0)
    val jb = nD / lit(6.0) * (sk * sk + ku * ku / lit(4.0))
    g.select(col(keyCol), col("n_days"),
      when(vr > 0, round(jb, 6)).as("jb"),
      when(vr > 0, jb < lit(JbCrit)).as("is_normal"))
      .orderBy(col(keyCol).asc)
  }

  /** Degree assortativity over an undirected (id_a, id_b) edge list. */
  private[graft] def assortativity(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val pairs = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(edges.select(col("id_b").as("u"), col("id_a").as("v")))
    val g = pairs
      .join(deg.select(col("node").as("u"), col("deg").as("__j")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("__k")), Seq("v"))
      .agg(count(lit(1)).as("m_pairs"),
        sum(col("__j")).as("__sj"), sum(col("__k")).as("__sk"),
        sum(col("__j") * col("__k")).as("__sjk"),
        sum(col("__j") * col("__j")).as("__sjj"),
        sum(col("__k") * col("__k")).as("__skk"))
    val m = col("m_pairs")
    val num = m * col("__sjk") - col("__sj") * col("__sk")
    val vj = m * col("__sjj") - col("__sj") * col("__sj")
    val vk = m * col("__skk") - col("__sk") * col("__sk")
    g.select((m / lit(2L)).cast("long").as("n_edges"), col("m_pairs"),
      when(vj > 0 && vk > 0,
        num.cast("double") /
          (sqrt(vj.cast("double")) * sqrt(vk.cast("double"))))
        .as("assortativity"))
  }

  /** Exact p10/p90 day-move order statistics per key + tail ratio. */
  private[graft] def tailRatio(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col("__x").asc, col("day").asc)
    val ranked = Breadth67.dayMoves(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__cnt", count(lit(1)).over(byKey))
      .groupBy(col(keyCol))
      .agg(max(col("__cnt")).as("n_days"),
        max(when(col("__rn") === expr("(__cnt + 9) div 10"), col("__x")))
          .as("p10_move"),
        max(when(col("__rn") === expr("(9 * __cnt + 9) div 10"), col("__x")))
          .as("p90_move"))
    ranked.select(col(keyCol), col("n_days"),
      col("p10_move"), col("p90_move"),
      when(col("p10_move") < 0,
        col("p90_move").cast("double") / (-col("p10_move")).cast("double"))
        .as("tail_ratio"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_jarque_bera" -> ((s, dir) =>
      jarqueBera(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_assortativity" -> ((s, dir) =>
      assortativity(Chains.KnnEdges(s, dir))),
    "q_tail_ratio" -> ((s, dir) =>
      tailRatio(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  val oracle: Map[String, String] = Map(
    "q_jarque_bera" ->
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
         |v AS (SELECT *, m2 - m1 * m1 AS vr FROM m),
         |k AS (
         |  SELECT user_id, n, vr,
         |    CASE WHEN vr > 0 THEN
         |      (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
         |        / (vr * sqrt(vr)) END AS sk,
         |    CASE WHEN vr > 0 THEN
         |      (m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
         |        - 3.0 * m1 * m1 * m1 * m1) / (vr * vr) - 3.0 END AS ku
         |  FROM v),
         |j AS (
         |  SELECT user_id, n, vr,
         |    CAST(n AS DOUBLE) / 6.0 * (sk * sk + ku * ku / 4.0) AS jb
         |  FROM k)
         |SELECT user_id, n AS n_days,
         |  round(jb, 6) AS jb,
         |  jb < $JbCrit AS is_normal
         |FROM j ORDER BY user_id""".stripMargin,

    "q_assortativity" ->
      s"""WITH ${Breadth43.knnEdgesSql},
         |pr AS (
         |  SELECT id_a AS u, id_b AS v FROM edges
         |  UNION ALL SELECT id_b, id_a FROM edges),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(dj.deg) AS BIGINT) AS sj,
         |    CAST(sum(dk.deg) AS BIGINT) AS sk,
         |    CAST(sum(dj.deg * dk.deg) AS BIGINT) AS sjk,
         |    CAST(sum(dj.deg * dj.deg) AS BIGINT) AS sjj,
         |    CAST(sum(dk.deg * dk.deg) AS BIGINT) AS skk
         |  FROM pr
         |  JOIN deg dj ON dj.node = pr.u
         |  JOIN deg dk ON dk.node = pr.v)
         |SELECT m // 2 AS n_edges, m AS m_pairs,
         |  CASE WHEN m * sjj - sj * sj > 0 AND m * skk - sk * sk > 0
         |    THEN CAST(m * sjk - sj * sk AS DOUBLE)
         |      / (sqrt(CAST(m * sjj - sj * sj AS DOUBLE))
         |        * sqrt(CAST(m * skk - sk * sk AS DOUBLE)))
         |  END AS assortativity
         |FROM g""".stripMargin,

    "q_tail_ratio" ->
      s"""WITH ${Breadth67.movesSql},
         |r AS (
         |  SELECT user_id, x,
         |    row_number() OVER (PARTITION BY user_id ORDER BY x, day)
         |      AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt
         |  FROM mv),
         |g AS (
         |  SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_days,
         |    CAST(max(CASE WHEN rn = (cnt + 9) // 10 THEN x END)
         |      AS BIGINT) AS p10_move,
         |    CAST(max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN x END)
         |      AS BIGINT) AS p90_move
         |  FROM r GROUP BY 1)
         |SELECT user_id, n_days, p10_move, p90_move,
         |  CASE WHEN p10_move < 0
         |    THEN CAST(p90_move AS DOUBLE) / CAST(-p10_move AS DOUBLE)
         |  END AS tail_ratio
         |FROM g ORDER BY user_id""".stripMargin)
}
