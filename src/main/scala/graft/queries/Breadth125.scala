package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-twenty-sixth wave — **q_rrf_fusion**: reciprocal-rank
  * fusion of two retrieval rankings, the hybrid-search combiner
  * (Cormack et al.): every candidate's fused score is
  * Σ_lists 1/(60 + rank), here over (a) the exact brute-force cosine
  * top-5 (the memoized chain_brute_topk ground truth) and (b) the PQ
  * ADC top-5 (Breadth121) — the "semantic + compressed" two-retriever
  * shape; a production deployment swaps (b) for BM25 with the same
  * combiner. Top-5 fused per probe.
  *
  * Determinism: each score is at most two IEEE terms computed in a
  * fixed order from small integers (1/(60+r), r ≤ 5) — bit-equal
  * cross-engine, safe to rank on; ties break by neighbor id.
  *
  * Scale shape: both input rankings are |probes|·k rows; the fusion is
  * one full-outer join on (probe, neighbor) plus a per-probe top-k
  * window — independent of corpus size once the retrievers ran. */
object Breadth125 {

  private val RrfK = 60
  private val TopK = 5

  private[graft] def rrfFusion(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame = {
    val brute = Chains.BruteTopK(s, dir)
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("__ra"))
    val pq = Chains.PqTopK(s, dir)
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("__rb"))
    val fused = brute.join(pq, Seq("probe_id", "neighbor_id"), "full_outer")
      .select(col("probe_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("__ra")).cast("double"),
          lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("__rb")).cast("double"),
            lit(0.0))).as("rrf_score"),
        col("__ra").as("rank_exact"), col("__rb").as("rank_pq"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= TopK)
      .select(col("probe_id"), col("fused_rank"), col("neighbor_id"),
        col("rrf_score"), col("rank_exact"), col("rank_pq"))
      .orderBy(col("probe_id").asc, col("fused_rank").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_rrf_fusion" -> ((s, dir) => rrfFusion(s, dir)))

  val oracle: Map[String, String] = Map(
    "q_rrf_fusion" ->
      s"""${Extensions.bruteRankedSql},
         |${Breadth121.PqSql},
         |ta AS (
         |  SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS ra
         |  FROM ranked WHERE rank <= $TopK),
         |tb AS (
         |  SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rb
         |  FROM pqranked WHERE rank <= $TopK),
         |fused AS (
         |  SELECT COALESCE(ta.probe_id, tb.probe_id) AS probe_id,
         |    COALESCE(ta.neighbor_id, tb.neighbor_id) AS neighbor_id,
         |    COALESCE(1.0 / CAST($RrfK + ta.ra AS DOUBLE), 0.0)
         |      + COALESCE(1.0 / CAST($RrfK + tb.rb AS DOUBLE), 0.0)
         |      AS rrf_score,
         |    ta.ra AS rank_exact, tb.rb AS rank_pq
         |  FROM ta FULL JOIN tb
         |    ON ta.probe_id = tb.probe_id
         |   AND ta.neighbor_id = tb.neighbor_id),
         |fr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY rrf_score DESC, neighbor_id) AS INTEGER)
         |    AS fused_rank
         |  FROM fused)
         |SELECT probe_id, fused_rank, neighbor_id, rrf_score,
         |  rank_exact, rank_pq
         |FROM fr WHERE fused_rank <= $TopK
         |ORDER BY probe_id, fused_rank""".stripMargin)
}
