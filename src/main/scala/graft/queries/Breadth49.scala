package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fiftieth wave — component structure of the kNN graph.
  *
  *  - **q_graph_components**: connected components over the within-label
  *    kNN edge set (the memoized wave-44 chain) with per-component
  *    shape stats: node count, edge count, density 2e/(n(n−1)). The
  *    component labelling is the SAME distributed min-label
  *    propagation that powers dedup clustering (`Dedup.clusterMembers`
  *    — one |edges|-shuffle + one aggregate per generation,
  *    localCheckpoint lineage truncation), run with a deeper iteration
  *    bound because kNN components are chainier than near-dup clusters
  *    (diameter grows with block size, not ~2–3). Density separates
  *    tight clique-like topic clusters from stringy chains — the
  *    signal a curation pass uses to pick cluster sampling rates.
  *
  * Determinism: component id = min node id (propagation fixpoint,
  * order-free); counts are integers; density is one division of exact
  * integers (n ≥ 2 for every component — a node enters the edge set
  * only with a neighbour). */
object Breadth49 {

  /** Component propagation depth: bounded by component DIAMETER, and a
    * kNN chain inside a ~200-node label block can be tens of hops —
    * the dedup default (10) would truncate. Convergence stops early on
    * real data; 40 is the safety bound, not the expected cost. */
  private[graft] val CompIters = 40

  private[graft] def componentStats(edges: DataFrame,
                                    labels: DataFrame): DataFrame = {
    val nodes = labels.groupBy(col("cluster_id").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
    val eCnt = edges
      .join(labels.select(col("vec_id").as("id_a"),
        col("cluster_id").as("component_id")), "id_a")
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("n_edges"))
    nodes.join(eCnt, Seq("component_id"))
      .select(col("component_id"), col("n_nodes"), col("n_edges"),
        ((col("n_edges") * lit(2L)).cast("double") /
          (col("n_nodes") * (col("n_nodes") - lit(1L))).cast("double"))
          .as("density"))
      .orderBy(col("component_id").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_graph_components" -> ((s, dir) => {
      val edges = Chains.KnnEdges(s, dir)
      componentStats(edges, Chains.KnnComponents(s, dir))
    }))

  val oracle: Map[String, String] = Map(
    "q_graph_components" ->
      s"""WITH RECURSIVE ${Breadth43.knnEdgesSql},
         |ed AS (
         |  SELECT id_a AS src, id_b AS dst FROM edges
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM edges),
         |reach AS (
         |  SELECT src, dst FROM ed
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS vec_id, least(min(dst), src) AS component_id
         |  FROM reach GROUP BY src),
         |nn AS (
         |  SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM labels GROUP BY component_id),
         |ne AS (
         |  SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM edges e JOIN labels l ON l.vec_id = e.id_a
         |  GROUP BY l.component_id)
         |SELECT nn.component_id, nn.n_nodes, ne.n_edges,
         |  CAST(ne.n_edges * 2 AS DOUBLE)
         |    / CAST(nn.n_nodes * (nn.n_nodes - 1) AS DOUBLE) AS density
         |FROM nn JOIN ne USING (component_id)
         |ORDER BY component_id""".stripMargin)
}
