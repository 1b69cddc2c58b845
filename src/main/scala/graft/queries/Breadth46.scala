package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forty-seventh wave — retrieval-quality evaluation of the quantized
  * index against exact ground truth.
  *
  * Recall (q_embed_ann_lsh / q_embed_ann_ivf / q_embed_quant) says
  * whether the true neighbours APPEAR; it says nothing about where
  * they LAND. These two queries grade the int8-quantized ranking
  * (q_embed_quant's memory-cut path) against the exact brute-force
  * top-5 (the memoized chain_brute_topk ground truth) as a ranking:
  *
  *  - **q_quant_ndcg**: per-probe NDCG@5. Graded relevance = 6 − true
  *    rank (5…1 for the exact top-5, 0 otherwise); the log₂ position
  *    discounts are INTEGER-SCALED weights (⌊10⁶/log₂(i+1)⌉ — literal
  *    constants shared by both engines), so DCG is an exact BIGINT sum
  *    (aggregation-order-free, the float-mean parity rule) and NDCG is
  *    ONE division by the constant ideal 10 271 927.
  *  - **q_recall_curve**: recall@k for k = 1…5 — at each cutoff, how
  *    many of the exact top-k the quantized top-k recovered, summed
  *    over probes. Pure integer counts; recall is one division.
  *
  * Scale shape: both queries join two 10×5 rankings — the expensive
  * parts (exact ground truth, quantized corpus scan) are the memoized
  * chain intermediates, built once per session; the eval itself is a
  * broadcast join of probe-sized frames. At production scale the same
  * eval runs over a SAMPLED probe set (the standard recall-harness
  * design), never the full corpus. */
object Breadth46 {

  /** ⌊10⁶/log₂(i+1)⌉ for positions i = 1…5. */
  private[graft] val DcgWeights = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L)
  /** Σ (6−j)·w_j — the ideal DCG for 5 graded hits. */
  private[graft] val IdealDcg: Long =
    DcgWeights.zipWithIndex.map { case (w, j) => (5 - j) * w }.sum

  /** Quantized top-5 ranking (probe_id, rank, neighbor_id) joined to
    * the exact ranking's true rank (null = not in exact top-5). */
  private def judged(exact: DataFrame, quant: DataFrame): DataFrame =
    quant.select(col("probe_id"), col("rank").as("pos"),
        col("neighbor_id"))
      .join(exact.select(col("probe_id"), col("neighbor_id"),
          col("rank").as("true_rank")),
        Seq("probe_id", "neighbor_id"), "left")

  private[graft] def ndcgAt5(exact: DataFrame, quant: DataFrame): DataFrame = {
    val wArr = array(DcgWeights.map(lit): _*)
    judged(exact, quant)
      .withColumn("__gain",
        when(col("true_rank").isNotNull, lit(6) - col("true_rank"))
          .otherwise(lit(0)).cast("long"))
      .withColumn("__w", element_at(wArr, col("pos")))
      .groupBy(col("probe_id"))
      .agg(sum(col("__gain") * col("__w")).as("dcg"),
        sum(when(col("true_rank").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("probe_id"), col("n_hits"), col("dcg"),
        (col("dcg").cast("double") / lit(IdealDcg.toDouble)).as("ndcg"))
      .orderBy(col("probe_id").asc)
  }

  private[graft] def recallCurve(exact: DataFrame, quant: DataFrame): DataFrame = {
    val ks = exact.sparkSession.range(1, 6).select(col("id").as("k"))
    // probe count as a broadcast 1-row scalar, never a driver action
    val np = exact.agg(countDistinct(col("probe_id")).as("__np"))
    judged(exact, quant).crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(sum(when(col("pos") <= col("k") &&
          col("true_rank") <= col("k"), 1L).otherwise(0L))
        .as("total_hits"))
      .crossJoin(broadcast(np))
      .select(col("k"), col("total_hits"),
        (col("total_hits").cast("double") /
          (col("k") * col("__np")).cast("double")).as("recall"))
      .orderBy(col("k").asc)
  }

  /** Quantized top-5 ranking — the build of Chains.QuantTopK. */
  private[queries] def quantTop5Plan(emb: DataFrame): DataFrame = {
    val dq = Extensions11.quantizeInt8(emb, "vec_id", "embedding")
    graft.sim.Similarity.bruteForceTopK(dq.filter(col("vec_id") < 10), dq,
      5, vecCol = "dv")
  }

  val defs: Map[String, Q] = Map(
    "q_quant_ndcg" -> ((s, dir) =>
      ndcgAt5(Chains.BruteTopK(s, dir), Chains.QuantTopK(s, dir))),
    "q_recall_curve" -> ((s, dir) =>
      recallCurve(Chains.BruteTopK(s, dir), Chains.QuantTopK(s, dir))))

  /** The quantized ranking as CTEs (names prefixed q* to coexist with
    * the brute chain's probes/corpus/scored/ranked). Mirrors the
    * q_embed_quant oracle expressions exactly. */
  private val quantRankedSql: String =
    """qe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM qe),
      |qq AS (SELECT vec_id, mx,
      |    list_transform(v, x -> greatest(-127.0, least(127.0, floor(x * 127.0 / mx + 0.5)))) AS qv
      |  FROM qm WHERE mx > 0),
      |qdq AS (SELECT vec_id, list_transform(qv, x -> x * mx / 127.0) AS dv FROM qq),
      |qscored AS (
      |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
      |    round(list_dot_product(a.dv, b.dv)
      |      / (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos_q
      |  FROM qdq a JOIN qdq b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
      |qranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cos_q DESC, neighbor_id) AS INTEGER) AS pos FROM qscored),
      |j AS (
      |  SELECT q.probe_id, q.pos, r.rank AS true_rank
      |  FROM qranked q LEFT JOIN ranked r
      |    ON r.probe_id = q.probe_id AND r.neighbor_id = q.neighbor_id
      |      AND r.rank <= 5
      |  WHERE q.pos <= 5)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_quant_ndcg" ->
      s"""${Extensions.bruteRankedSql},
         |$quantRankedSql,
         |w AS (SELECT * FROM (VALUES ${DcgWeights.zipWithIndex
            .map { case (wt, i) => s"(${i + 1}, ${wt})" }
            .mkString(", ")}) AS t(pos, wt))
         |SELECT j.probe_id,
         |  CAST(sum(CASE WHEN j.true_rank IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN j.true_rank IS NOT NULL
         |      THEN (6 - j.true_rank) * w.wt ELSE 0 END) AS BIGINT) AS dcg,
         |  CAST(sum(CASE WHEN j.true_rank IS NOT NULL
         |      THEN (6 - j.true_rank) * w.wt ELSE 0 END) AS DOUBLE)
         |    / ${IdealDcg}.0 AS ndcg
         |FROM j JOIN w ON w.pos = j.pos
         |GROUP BY j.probe_id ORDER BY j.probe_id""".stripMargin,

    "q_recall_curve" ->
      s"""${Extensions.bruteRankedSql},
         |$quantRankedSql,
         |np AS (SELECT count(DISTINCT probe_id) AS n FROM ranked),
         |ks AS (SELECT unnest(range(1, 6)) AS k)
         |SELECT ks.k, CAST(sum(CASE WHEN j.pos <= ks.k
         |      AND j.true_rank <= ks.k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS total_hits,
         |  CAST(sum(CASE WHEN j.pos <= ks.k AND j.true_rank <= ks.k
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(ks.k * (SELECT n FROM np) AS DOUBLE) AS recall
         |FROM j CROSS JOIN ks
         |GROUP BY ks.k ORDER BY ks.k""".stripMargin)
}
