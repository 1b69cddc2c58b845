package graft.queries

import graft.Tables
import graft.store.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hundred-eighteenth wave — two iterative graph shapes the engine's
  * centrality/propagation tier did not yet cover:
  *
  *  - **q_hits**: Kleinberg HITS hubs/authorities over the bipartite
  *    supplier→part supply graph (hub = a supplier whose parts are
  *    themselves widely supplied; authority = a part carried by the
  *    strongest suppliers). Four unrolled iterations, ENTIRELY in
  *    integer micro-score units with L1 floor-division normalization —
  *    the q_pagerank_int discipline: every step is an order-free
  *    integer sum, so the 4-deep join chain hash-matches DuckDB
  *    bit-exactly. Int64 headroom: the seed h₀ = max(1, SCALE div |S|)
  *    keeps every iteration L1-bounded at SCALE, so normalizer products
  *    stay ≤ SCALE² = 10¹² at any |S| (see `hits` — the uniform-SCALE
  *    seed wrapped past |S| ≈ 9·10⁶ sources on a hot authority).
  *  - **q_hop_histogram**: multi-source BFS over the within-label kNN
  *    graph (one seed per label — its minimum graph node), emitting the
  *    hop-distance histogram for hops 0..6 plus an explicit `-1` row
  *    for graph nodes unreached in 6 hops. This is the landmark-BFS
  *    reachability sketch a curation pipeline runs to judge cluster
  *    compactness (a label whose members sit ≤2 hops from the seed is
  *    coherent; mass at -1 is fragmentation).
  *
  * Scale shape: both loops are the 2-shuffle-per-iteration pattern
  * (one equi-join + one groupBy), every generation localCheckpoint'd
  * (the label-propagation lineage-truncation discipline — an
  * unmaterialized 4-level iterative lineage re-derives the prefix
  * exponentially). Normalization totals ride as broadcast one-row
  * frames, never driver collects. The kNN edge set is the memoized
  * chain_knn_edges frame every graph query shares. */
object Breadth117 {

  private[graft] val HitsScale = 1000000L
  private[graft] val HitsIters = 4
  private val HitsTopN = 10
  private[graft] val MaxHops = 6

  /** Integer HITS over a directed bipartite edge set: per iteration
    * a(d) = Σ_in h, then L1-normalize to SCALE by floor division, then
    * h(s) = Σ_out a, normalized the same way. Returns the top-10 of
    * each side as (side, node, score).
    *
    * Seed: h₀ = max(1, SCALE div |S|) — NOT a uniform SCALE. The seed
    * keeps iteration-1 sums L1-bounded: Σ_in h₀ ≤ |S|·(SCALE div |S|) ≤
    * SCALE, so the normalizer's worst product ra·SCALE ≤ SCALE² = 10¹²
    * regardless of |S| (a uniform-SCALE seed wraps int64 past |S| ≈
    * 9·10⁶ sources on a single hot authority; guard-tested in
    * Wave125Spec with a 10⁷-source edge set). Output is IDENTICAL to
    * the uniform seed whenever the latter doesn't overflow: iteration 1
    * normalizes (indeg·h₀·SCALE) div (h₀·Σindeg), and (c·x) div (c·y) =
    * x div y exactly for positive integers — the seed cancels before the
    * floor, and later iterations depend only on a₁.
    *
    * Choosing `scale` for a bigger graph: scale ≥ max(|S|, |D|) so the
    * floor normalization keeps ≥ 1 quantum per node (below that a whole
    * side's mass floors to zero and the next normalizer divides by
    * zero — loud, not silent), and scale ≤ ~3·10⁹ so scale² fits int64.
    * Past ~3·10⁹ nodes integer HITS needs DECIMAL(38) accumulators.
    * Guard-tested at |S| = 10⁷, scale = 2³¹ in Wave123Spec. */
  private[graft] def hits(edgesRaw: DataFrame,
                          iters: Int = HitsIters,
                          scale: Long = HitsScale): DataFrame = {
    // Static across iterations → plan-keyed BUCKETED stores, not
    // persist(): a facade persist leaks one cached frame per call (the
    // round-13 leak class), and every memo-swept re-run paid the full
    // 600k-row distinct again. The authority pass joins on src, the hub
    // pass on dst, so the edge set is stored TWICE, bucketed+sorted per
    // key (the classic adjacency duplication) — un-bucketed, the 10x
    // scale step re-shuffled all edge bytes in all 8 iteration joins
    // (102x shuffle at 10x data); bucketed, edge bytes cross the wire
    // once per orientation at build, and iterations shuffle only the
    // node-sized score frames.
    val edges = Memo(edgesRaw, "hits_edges_bsrc") {
      // plain store first (also the exact row count for bucket sizing),
      // then the one bucketed rewrite — both one-time, memoized
      val dist = Memo.write(edgesRaw.select(col("src"), col("dst")).distinct())
      Memo.writeBucketed(dist, "src", Memo.bucketsForRows(dist.count()))
    }
    val edgesByDst = Memo(edgesRaw, "hits_edges_bdst") {
      // second orientation reads the FIRST store, not the raw input —
      // the distinct is paid once
      Memo.writeBucketed(edges, "dst", Memo.bucketsForRows(edges.count()))
    }
    val srcs = edges.select(col("src")).distinct()
    var h = srcs
      .crossJoin(broadcast(srcs.agg(count(lit(1)).as("__ns"))))
      .select(col("src").as("node"),
        greatest(expr(s"$scale div __ns"), lit(1L)).as("h"))
      .localCheckpoint(eager = false)
    var a: DataFrame = null
    // LAZY checkpoints (the hopHistogram discipline): the iteration
    // count is a bound (4), so lineage cannot blow up, and each eager
    // checkpoint was one driver round-trip + job per half-iteration —
    // 9 serialized materializations for 8 joins of work. Lazily-marked
    // generations still root at fresh LogicalRDDs (shallow plans, no
    // alias capture), but all four iterations materialize inside the
    // one final action, each generation's blocks cached on first
    // compute and shared by the next iteration + the top-10 reads.
    (1 to iters).foreach { _ =>
      val ar = edges.join(h, edges("src") === h("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ra"))
      val at = ar.agg(sum(col("ra")).as("ta"))
      a = ar.crossJoin(broadcast(at))
        .select(col("dst"), expr(s"(ra * $scale) div ta").as("a"))
        .localCheckpoint(eager = false)
      val hr = edgesByDst.join(a, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("rh"))
      val ht = hr.agg(sum(col("rh")).as("th"))
      h = hr.crossJoin(broadcast(ht))
        .select(col("src").as("node"), expr(s"(rh * $scale) div th").as("h"))
        .localCheckpoint(eager = false)
    }
    val auths = a.orderBy(col("a").desc, col("dst").asc).limit(HitsTopN)
      .select(lit("authority").as("side"), col("dst").as("node"),
        col("a").as("score"))
    val hubs = h.orderBy(col("h").desc, col("node").asc).limit(HitsTopN)
      .select(lit("hub").as("side"), col("node"), col("h").as("score"))
    auths.unionAll(hubs)
      .orderBy(col("side").asc, col("score").desc, col("node").asc)
  }

  /** Hop-distance histogram of a multi-source BFS over an undirected
    * edge set: `labels` (node, label) picks one seed per label (the
    * minimum graph node); unreached graph nodes land on hop -1. */
  private[graft] def hopHistogram(edgesU: DataFrame, labels: DataFrame,
                                  maxHops: Int = MaxHops): DataFrame = {
    // Read by all 6 hop joins + the unreached count → store-backed like
    // the hits edges (same leak-class rationale), BUCKETED on the join
    // key u so each hop's frontier join reads co-located buckets and
    // only the frontier (node-sized) shuffles; `nodes` is derived once
    // from the stored adjacency.
    val adj = Memo(edgesU, "hop_adj_bu") {
      val raw = Memo.write(
        edgesU.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(edgesU.select(col("id_b").as("u"), col("id_a").as("v"))))
      Memo.writeBucketed(raw, "u", Memo.bucketsForRows(raw.count()))
    }
    val nodes = Memo(edgesU, "hop_nodes") {
      adj.select(col("u").as("node")).distinct()
    }
    val srcs = nodes.join(labels, Seq("node"))
      .groupBy(col("label")).agg(min(col("node")).as("node"))
      .select(col("node"))
    var visited = srcs.select(col("node"), lit(0).as("hop"))
      .localCheckpoint(eager = false)
    var frontier = visited.select(col("node"))
    (1 to maxHops).foreach { i =>
      // checkpointed frontiers keep each generation's attributes fresh,
      // so the repeated self-shaped joins against `adj` never alias.
      // LAZY checkpoints: the hop loop is a bounded chain (maxHops ≤ 6,
      // so lineage cannot blow up) and an eager checkpoint per hop
      // serializes one driver round-trip + job per generation — measured
      // ~1.5 s/hop of dead wall at sf0.1 for 9 task-s of actual work.
      // Lazily-marked generations still get fresh LogicalRDD attributes
      // at PLAN time (the aliasing guarantee) but materialize inside the
      // single final action, each hop's blocks cached on first compute
      // and shared by the visited/frontier branches.
      val next = frontier.join(adj, frontier("node") === adj("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("hop"))
        .localCheckpoint(eager = false)
      visited = visited.unionAll(next).localCheckpoint(eager = false)
      frontier = next.select(col("node"))
    }
    val hist = visited.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.agg(count(lit(1)).as("__nn"))
      .crossJoin(broadcast(visited.agg(count(lit(1)).as("__nv"))))
      .select(lit(-1).as("hop"), (col("__nn") - col("__nv")).as("n_nodes"))
    hist.unionAll(unreached).orderBy(col("hop").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_hits" -> ((s, dir) =>
      hits(Tables.lineitem(s, dir).select(
        col("l_suppkey").as("src"), col("l_partkey").as("dst")))),
    "q_hop_histogram" -> ((s, dir) =>
      hopHistogram(Chains.KnnEdges(s, dir),
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("node"), col("label")))))

  /** One unrolled HITS iteration (authority pass + hub pass). */
  private def hitsSteps: String = (1 to HitsIters).map { i =>
    s""",
       |ar$i AS MATERIALIZED (
       |  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS ra
       |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
       |a$i AS MATERIALIZED (
       |  SELECT dst, CAST((ra * $HitsScale)
       |    // (SELECT CAST(sum(ra) AS BIGINT) FROM ar$i) AS BIGINT) AS a
       |  FROM ar$i),
       |hr$i AS MATERIALIZED (
       |  SELECT e.src, CAST(sum(a$i.a) AS BIGINT) AS rh
       |  FROM edges e JOIN a$i ON e.dst = a$i.dst GROUP BY e.src),
       |h$i AS MATERIALIZED (
       |  SELECT src AS node, CAST((rh * $HitsScale)
       |    // (SELECT CAST(sum(rh) AS BIGINT) FROM hr$i) AS BIGINT) AS h
       |  FROM hr$i)""".stripMargin
  }.mkString

  /** One unrolled BFS hop (frontier expansion + visited union). */
  private def bfsSteps: String = (1 to MaxHops).map { i =>
    s""",
       |f$i AS MATERIALIZED (
       |  SELECT DISTINCT a.v AS node
       |  FROM f${i - 1} f JOIN adj a ON f.node = a.u
       |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} p WHERE p.node = a.v)),
       |v$i AS MATERIALIZED (
       |  SELECT * FROM v${i - 1}
       |  UNION ALL SELECT node, $i AS hop FROM f$i)""".stripMargin
  }.mkString

  val oracle: Map[String, String] = Map(
    "q_hits" ->
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst
         |  FROM lineitem),
         |h0 AS (
         |  SELECT src AS node,
         |    greatest($HitsScale // (SELECT CAST(count(*) AS BIGINT)
         |      FROM (SELECT DISTINCT src FROM edges)), 1) AS h
         |  FROM (SELECT DISTINCT src FROM edges))$hitsSteps,
         |sides AS (
         |  SELECT 'authority' AS side, dst AS node, a AS score
         |  FROM a$HitsIters
         |  UNION ALL
         |  SELECT 'hub' AS side, node, h AS score FROM h$HitsIters),
         |ranked AS (
         |  SELECT side, node, score, row_number() OVER (
         |    PARTITION BY side ORDER BY score DESC, node) AS rn
         |  FROM sides)
         |SELECT side, node, score FROM ranked WHERE rn <= $HitsTopN
         |ORDER BY side, score DESC, node""".stripMargin,

    "q_hop_histogram" ->
      s"""WITH ${Breadth43.knnEdgesSql},
         |adj AS MATERIALIZED (
         |  SELECT id_a AS u, id_b AS v FROM edges
         |  UNION ALL SELECT id_b, id_a FROM edges),
         |gn AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj),
         |srcs AS (
         |  SELECT min(gn.node) AS node
         |  FROM gn JOIN embeddings em ON em.vec_id = gn.node
         |  GROUP BY em.label),
         |v0 AS MATERIALIZED (SELECT node, 0 AS hop FROM srcs),
         |f0 AS (SELECT node FROM v0)$bfsSteps
         |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM v$MaxHops GROUP BY 1
         |UNION ALL
         |SELECT -1 AS hop,
         |  (SELECT count(*) FROM gn) - (SELECT count(*) FROM v$MaxHops)
         |    AS n_nodes
         |ORDER BY hop""".stripMargin)
}
