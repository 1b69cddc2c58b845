package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hundred-seventieth wave — CLOSENESS over the global mutual-kNN
  * graph: the centrality family the graph tier still lacked (degree,
  * PageRank/HITS, k-core, components, triangles all exist). From the
  * 8 smallest graph nodes (deterministic seed panel):
  *
  *  - **q_closeness**: per seed — nodes reached within the H = 8 hop
  *    horizon, hop-sum, eccentricity (max hop seen), classic closeness
  *    reached/Σd, and harmonic centrality Σ 1/d. Harmonic is the one
  *    that stays meaningful on disconnected graphs — the mutual-kNN
  *    graph IS fragmentary by construction.
  *  - **q_reach_curve**: the pooled expansion curve — how many
  *    (seed, node) pairs sit at each hop — the graph's growth profile
  *    (ball volume vs radius), the number that says whether 2 hops of
  *    graph expansion suffice for a retrieval walk.
  *
  * Exact-parity discipline: distances are integer hops from a
  * deterministic BFS (min-hop semantics; the oracle recomputes them
  * as min(hop) over a bounded recursive closure); closeness is one
  * integer/integer double division; harmonic sums the INTEGER
  * reciprocals 1e9 div hop (order-free) with one terminal division.
  * Truncation at H = 8 is part of the operator's semantics (documented
  * — beyond the horizon contributes zero), identical in both engines.
  *
  * Scale shape: one frontier join per hop (8 actions), frontier and
  * visited localCheckpointed each generation (the house peel
  * discipline — uncheckpointed BFS re-evaluates the IVF build per
  * hop); seeds are a FIXED panel so the visited set is ≤ 8·|V| rows.
  * At 100 TB the same loop runs on the bucketed edge list; the
  * all-pairs form lives only in the oracle.
  */
object Breadth169 {

  private[graft] val MaxHops = 8
  private[graft] val NSeeds = 8

  /** BFS visited table (seed, node, hop) from the NSeeds smallest
    * nodes (internal). */
  private[graft] def bfs(edges: DataFrame): DataFrame = {
    // localCheckpoint (not just persist): the BFS references adj every
    // generation, and an un-truncated deep input plan (the direct IVF
    // build path) re-renders into each action's explain string — the
    // multi-GB-string driver OOM documented in the verify skill
    val adj = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint()
    val seeds = adj.select(col("u").as("node")).distinct()
      .orderBy(col("node").asc).limit(NSeeds)
    var visited = seeds
      .select(col("node").as("seed"), col("node"), lit(0L).as("hop"))
      .localCheckpoint()
    var frontier = visited.select(col("seed"), col("node"))
    (1 to MaxHops).foreach { i =>
      val next = frontier.join(adj, frontier("node") === adj("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(i.toLong).as("hop"))
        .localCheckpoint()
      visited = visited.unionAll(next).localCheckpoint()
      frontier = next.select(col("seed"), col("node"))
    }
    visited
  }

  /** Per-seed closeness/harmonic table. */
  private[graft] def closeness(edges: DataFrame): DataFrame =
    bfs(edges)
      .filter(col("hop") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("reached"),
        sum(col("hop")).as("sum_dist"),
        max(col("hop")).as("eccentricity"),
        sum(expr("1000000000 div hop")).as("__h"))
      .select(col("seed"), col("reached"), col("sum_dist"),
        col("eccentricity"),
        (col("reached").cast("double") / col("sum_dist").cast("double"))
          .as("closeness"),
        (col("__h").cast("double") / lit(1.0e9)).as("harmonic"))
      .orderBy(col("seed").asc)

  /** Pooled hop expansion curve. */
  private[graft] def reachCurve(edges: DataFrame): DataFrame =
    bfs(edges)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hop").asc)

  val defs: Map[String, Q] = Map(
    "q_closeness" -> ((s, dir) =>
      closeness(Chains.GlobalMutual(s, dir))),
    "q_reach_curve" -> ((s, dir) =>
      reachCurve(Chains.GlobalMutual(s, dir))))

  /** Mutual-kNN + bounded BFS closure CTE chain (no leading WITH).
    * The graph is the SHARED projection-window construction
    * (Breadth141.projMutualCtes) — one definition across every
    * global-graph consumer oracle, so the builds cannot drift. */
  private val BfsSql: String =
    s"""${Breadth141.projMutualCtes},
       |adj AS (
       |  SELECT id_a AS u, id_b AS v FROM mut
       |  UNION ALL SELECT id_b AS u, id_a AS v FROM mut),
       |seeds AS (
       |  SELECT node FROM (SELECT DISTINCT u AS node FROM adj)
       |  ORDER BY node LIMIT $NSeeds),
       |walk AS (
       |  WITH RECURSIVE w AS (
       |    SELECT node AS seed, node, CAST(0 AS BIGINT) AS hop
       |    FROM seeds
       |    UNION
       |    SELECT w.seed, adj.v AS node, w.hop + 1 AS hop
       |    FROM w JOIN adj ON w.node = adj.u
       |    WHERE w.hop < $MaxHops)
       |  SELECT * FROM w),
       |vis AS (
       |  SELECT seed, node, CAST(min(hop) AS BIGINT) AS hop
       |  FROM walk GROUP BY seed, node)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_closeness" ->
      s"""WITH $BfsSql
         |SELECT seed, CAST(count(*) AS BIGINT) AS reached,
         |  CAST(sum(hop) AS BIGINT) AS sum_dist,
         |  CAST(max(hop) AS BIGINT) AS eccentricity,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(hop) AS DOUBLE)
         |    AS closeness,
         |  CAST(sum(1000000000 // hop) AS DOUBLE) / 1.0e9 AS harmonic
         |FROM vis
         |WHERE hop > 0
         |GROUP BY seed
         |ORDER BY seed""".stripMargin,

    "q_reach_curve" ->
      s"""WITH $BfsSql
         |SELECT hop, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM vis
         |GROUP BY hop
         |ORDER BY hop""".stripMargin)
}
