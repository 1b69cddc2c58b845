package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Hundred-second wave — exact order-statistics under windows/trims and
  * bounded iterative graph peeling.
  *
  *  - **q_rolling_median**: the exact trailing-7-bar median of day-bar
  *    closes per key — the window's bar list is collected (frame ≤ 7
  *    elements, constant memory), sorted, and the low/high middle
  *    ranks picked; (lo+hi)/2 keeps even windows exact. No
  *    percentile_approx anywhere.
  *  - **q_kcore**: the k=2 core of the MUTUAL within-label kNN graph —
  *    an edge only where both endpoints rank each other top-k, so
  *    degrees vary 0..k and the peel actually discriminates (the union
  *    kNN graph's min degree is k by construction: its k-core is
  *    everything and its (k+1)-core empty at every SF — measured).
  *    8 UNROLLED peel rounds (drop nodes with degree < k, drop edges
  *    touching them), each round MATERIALIZED in the DuckDB twin (the
  *    q_markov_stationary lesson) and lineage-truncated every 4 rounds
  *    on the Spark side. Both engines run exactly 8 rounds, so parity
  *    holds whether or not the peel has converged.
  *  - **q_trimmed_mean**: the 10%-per-side trimmed mean per group —
  *    rank-windowed contributions over the value-domain count table:
  *    the lowest/highest n/10 ranks subtract exactly (partial overlap
  *    of a tied value handled by interval arithmetic on int64 ranks),
  *    ONE division at emit.
  *
  * Scale shape: the rolling median's state is the 7-element frame; the
  * k-core rounds are |edges|-bounded joins on node ids (kNN degree is
  * capped by construction, no hubs); the trimmed mean never sorts rows
  * — it ranks the |distinct values| count table. */
object Breadth101 {

  private val MedianWin = 7
  private val CoreK = 2L
  private val CoreRounds = 8
  private val TrimTenth = 10L

  /** Exact trailing-k-bar median of closes per key. */
  private[graft] def rollingMedian(df: DataFrame, keyCol: String,
                                   tsCol: String, valCol: String,
                                   tieBreak: String,
                                   win: Int = MedianWin): DataFrame = {
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(win - 1), Window.currentRow)
    Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__arr", sort_array(collect_list(col("close"))
        .over(frame)))
      .withColumn("__m", size(col("__arr")).cast("long"))
      .select(col(keyCol), col("day"),
        (col("close").cast("double") / lit(100.0)).as("close"),
        col("__m").as("n_in_window"),
        ((element_at(col("__arr"),
          shiftright(col("__m") + 1L, 1).cast("int")) +
          element_at(col("__arr"),
            (shiftright(col("__m"), 1) + 1L).cast("int"))).cast("double") /
          lit(200.0)).as("rolling_median"))
      .orderBy(col(keyCol).asc, col("day").asc)
  }

  /** Degree table of an undirected (id_a, id_b) edge set. */
  private def deg(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Mutual-kNN undirected edges: kept only where BOTH endpoints rank
    * each other top-k (canonical a<b orientation), filtered from an
    * ALREADY-BUILT directed edge frame — the memoized-chain entry (q_kcore previously re-ran the whole kNN
    * build inside the query; the shared chain_knn_edges frame makes
    * its bench number the peel's marginal cost). */
  private[graft] def mutualFromDirected(d: DataFrame): DataFrame =
    d.select(col("src").as("id_a"), col("dst").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .join(d.select(col("dst").as("id_a"), col("src").as("id_b")),
        Seq("id_a", "id_b"), "left_semi")

  /** k-core of the mutual-kNN graph after `rounds` unrolled peels. */
  private[graft] def kcore(emb: DataFrame, k: Long = CoreK,
                           rounds: Int = CoreRounds): DataFrame =
    kcoreFromDirected(Breadth43.knnDirected(emb), k, rounds)

  private[graft] def kcoreFromDirected(directed: DataFrame, k: Long = CoreK,
                                       rounds: Int = CoreRounds): DataFrame = {
    // materialize the (expensive) mutual edge set ONCE, then
    // checkpoint every round: each peel reads cur twice (deg + the two
    // anti-joins), so an uncheckpointed chain re-evaluates the whole
    // upstream per round — measured 62 s → seconds at sf0.1.
    var cur = mutualFromDirected(directed).localCheckpoint(true)
    // FIXPOINT EXIT (output-identical to always running all `rounds`):
    // a round that removes no edge leaves the degree table unchanged,
    // so every later round is a no-op — both engines' results agree
    // whether the oracle unrolls all 8 rounds or the peel stops at the
    // fixpoint. The edge count is a cheap job over the just-checkpointed
    // blocks; the DROP side (deg < k) is joined anti, not the keep side
    // semi — the drop set shrinks to empty as the peel converges, so
    // AQE plans the late rounds as broadcast anti-joins instead of
    // shuffling the whole surviving edge set against a keep table that
    // is almost the entire graph.
    var curCnt = cur.count()
    var r = 0
    while (r < rounds && curCnt > 0) {
      val drop = deg(cur).filter(col("deg") < k).select(col("node"))
      val next = cur
        .join(drop.select(col("node").as("id_a")), Seq("id_a"), "left_anti")
        .join(drop.select(col("node").as("id_b")), Seq("id_b"), "left_anti")
        .localCheckpoint(true)
      val nextCnt = next.count()
      if (nextCnt == curCnt) r = rounds else r += 1
      cur = next
      curCnt = nextCnt
    }
    deg(cur)
      .select(col("node").as("vec_id"), col("deg").as("core_degree"))
      .orderBy(col("vec_id").asc)
  }

  /** 10%-per-side trimmed mean per group, rank-exact on the count
    * table. */
  private[graft] def trimmedMean(df: DataFrame, grpCol: String,
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
      .withColumn("__k", col("__n") / lit(TrimTenth) cast "long")
    // ranks (pre, pre+cnt] ∩ [1, k] → low-trim share of this value
    val lowOverlap = greatest(lit(0L),
      least(col("__k"), col("__pre") + col("__cnt")) - col("__pre"))
    // ranks ∩ (n−k, n] → high-trim share
    val highOverlap = greatest(lit(0L),
      col("__pre") + col("__cnt") -
        greatest(col("__pre"), col("__n") - col("__k")))
    t.groupBy(col("__g"))
      .agg(max(col("__n")).as("n_obs"), max(col("__k")).as("k_trim"),
        sum(col("__v") * col("__cnt")).as("__tot"),
        sum(col("__v") * lowOverlap).as("__lo"),
        sum(col("__v") * highOverlap).as("__hi"))
      .select(col("__g").as("grp"), col("n_obs"), col("k_trim"),
        when(col("n_obs") > col("k_trim") * 2L,
          (col("__tot") - col("__lo") - col("__hi")).cast("double") /
            (col("n_obs") - col("k_trim") * 2L).cast("double") /
            lit(100.0)).as("trimmed_mean"))
      .orderBy(col("grp").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_rolling_median" -> ((s, dir) =>
      rollingMedian(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_kcore" -> ((s, dir) =>
      kcoreFromDirected(Chains.knnDirected(Tables.embeddings(s, dir)))),
    "q_trimmed_mean" -> ((s, dir) =>
      trimmedMean(Tables.events(s, dir), "event_type", "value")))

  private def peelSql(i: Int): String = {
    val prev = if (i == 1) "medges" else s"e${i - 1}"
    s"""n$i AS MATERIALIZED (
       |  SELECT node FROM (
       |    SELECT id_a AS node FROM $prev
       |    UNION ALL SELECT id_b FROM $prev)
       |  GROUP BY 1 HAVING count(*) >= $CoreK),
       |e$i AS MATERIALIZED (
       |  SELECT id_a, id_b FROM $prev
       |  WHERE id_a IN (SELECT node FROM n$i)
       |    AND id_b IN (SELECT node FROM n$i))""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_rolling_median" ->
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
        |w AS (
        |  SELECT user_id, day, close,
        |    list_sort(list(close) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM bars)
        |SELECT user_id, day, CAST(close AS DOUBLE) / 100.0 AS close,
        |  CAST(len(arr) AS BIGINT) AS n_in_window,
        |  CAST(arr[CAST((len(arr) + 1) // 2 AS INTEGER)]
        |    + arr[CAST(len(arr) // 2 + 1 AS INTEGER)] AS DOUBLE) / 200.0
        |    AS rolling_median
        |FROM w ORDER BY user_id, day""".stripMargin,

    "q_kcore" ->
      s"""WITH ${Breadth43.knnEdgesSql},
         |medges AS MATERIALIZED (
         |  SELECT a.src AS id_a, a.dst AS id_b
         |  FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
         |  WHERE a.src < a.dst),
         |${(1 to CoreRounds).map(peelSql).mkString(",\n")}
         |SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM (
         |  SELECT id_a AS node FROM e$CoreRounds
         |  UNION ALL SELECT id_b FROM e$CoreRounds)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_trimmed_mean" ->
      s"""WITH vc AS (
         |  SELECT event_type AS g,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |rk AS (
         |  SELECT g, v, cnt,
         |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pre,
         |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
         |  FROM vc),
         |tr AS (
         |  SELECT g, v, cnt, pre, n, n // $TrimTenth AS k,
         |    greatest(0, least(n // $TrimTenth, pre + cnt) - pre) AS lo_c,
         |    greatest(0, pre + cnt
         |      - greatest(pre, n - n // $TrimTenth)) AS hi_c
         |  FROM rk)
         |SELECT g AS grp, CAST(max(n) AS BIGINT) AS n_obs,
         |  CAST(max(k) AS BIGINT) AS k_trim,
         |  CASE WHEN max(n) > max(k) * 2 THEN
         |    CAST(CAST(sum(v * cnt) AS BIGINT)
         |      - CAST(sum(v * lo_c) AS BIGINT)
         |      - CAST(sum(v * hi_c) AS BIGINT) AS DOUBLE)
         |    / CAST(max(n) - max(k) * 2 AS DOUBLE) / 100.0
         |  END AS trimmed_mean
         |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin)
}
