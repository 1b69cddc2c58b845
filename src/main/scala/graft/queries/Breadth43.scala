package graft.queries

import graft.Tables
import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forty-fourth wave — graph analytics over the embedding kNN graph.
  *
  * A curation pipeline that clusters or dedups a corpus first builds a
  * nearest-neighbour graph over its embeddings; the graph's SHAPE is
  * then the quality signal — tight triangle-rich neighbourhoods are
  * coherent topics, high-common-neighbour non-edges are the candidate
  * links an ANN index missed. Two queries over that graph:
  *
  *  - **q_knn_triangles**: per-node triangle count and local clustering
  *    coefficient over the undirected within-label kNN graph (k=4).
  *    Scale shape: the kNN build is block-local (label = the IVF coarse
  *    cell — per-block quadratic, never corpus-quadratic, the
  *    q_embed_neardup pattern), and triangle enumeration uses the
  *    compact-forward orientation — every edge is directed from its
  *    (degree, id)-smaller endpoint, so wedges are enumerated from
  *    out-neighbourhoods whose size is O(√m)-bounded regardless of how
  *    hubby a node is; each triangle is found exactly once, at its
  *    lowest-rank corner. Shuffles: one per join, all on node ids.
  *  - **q_link_predict**: common-neighbour link prediction over the
  *    same graph — for every NON-adjacent pair with ≥2 shared
  *    neighbours: shared-neighbour count, neighbour-Jaccard, and
  *    Adamic–Adar (Σ 1/ln deg(w) over shared neighbours w), top 50 by
  *    (count, Jaccard). The candidate space is wedge-generated (pairs
  *    that share a neighbour), never all-pairs; production hubs are
  *    tamed upstream by the kNN out-degree cap k.
  *
  * Determinism: cosines are the 6-dp-rounded native fold both engines
  * share; kNN rank ties break by neighbour id; Jaccard is one division
  * of exact integers (bit-equal cross-engine, safe to sort on);
  * Adamic–Adar sums ln-reciprocals and is 6-dp-rounded on both engines
  * (the documented q_parkinson stance) and is NOT a sort key. */
object Breadth43 {

  private[graft] val KnnK = 4
  private[graft] val LpMinShared = 2
  private[graft] val LpTopN = 50

  /** Undirected canonical edge set of the within-label kNN graph: each
    * vector contributes its top-k same-label neighbours by (cos DESC,
    * id ASC); the union of directed kNN edges, deduped as (min, max). */
  private[graft] def knnEdges(emb: DataFrame, k: Int = KnnK,
                              truncate: Boolean = true): DataFrame =
    undirect(knnDirected(emb, k, truncate))

  /** Untruncated twin for the plan pins (PlanSpec asserts the edge
    * chain's join shapes, which the production path's localCheckpoint
    * boundaries would hide behind a LogicalRDD). */
  private[graft] def knnEdgesPlan(emb: DataFrame, k: Int = KnnK): DataFrame =
    knnEdges(emb, k, truncate = false)

  /** Directed → undirected canonical edges (shared so the memoized
    * directed frame and the direct API project identically). */
  private[graft] def undirect(directed: DataFrame): DataFrame =
    directed
      .select(least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"))
      .distinct()

  /** The DIRECTED top-k rows the undirected edge set unions — exposed
    * for derived graphs (the mutual-kNN edges of q_kcore). Built via
    * the metric-pruned IVF path (`Ivf.exactKnnDirected`): identical
    * output to [[knnDirectedExact]] — recall 1.0 by the triangle-
    * inequality cell bound, pinned in KnnExactIvfSpec — at
    * Θ(n^1.5/√blocks) instead of the all-pairs Σ|block|² (which a
    * single hot block turns quadratic at 100 TB). The one count job
    * here sizes the cell grid; the oracle keeps the all-pairs
    * definition, so the twin pair cannot drift apart silently. */
  private[graft] def knnDirected(emb: DataFrame, k: Int = KnnK,
                                 truncate: Boolean = true): DataFrame = {
    val r = emb.agg(count(lit(1)).as("n"),
      count_distinct(col("label")).as("b")).head()
    graft.sim.Ivf.exactKnnDirected(emb, k,
      graft.sim.Ivf.adaptiveCells(r.getLong(0), r.getLong(1)),
      truncate = truncate)
  }

  /** The all-pairs within-block build — the ORACLE TWIN of
    * [[knnDirected]] (mirrors `knnEdgesSql` line for line) and the
    * ground truth KnnExactIvfSpec pins the IVF path against. Quadratic
    * per block by construction: correct at gate SFs, never the
    * production path. */
  private[graft] def knnDirectedExact(emb: DataFrame, k: Int = KnnK): DataFrame = {
    val a = emb.select(col("label"), col("vec_id").as("src"),
      col("embedding").as("__va"))
    val b = emb.select(col("label"), col("vec_id").as("dst"),
      col("embedding").as("__vb"))
    val scored = a.join(b, Seq("label"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos", round(Similarity.cosine(col("__va"), col("__vb")), 6))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** Per-node degree over the undirected edge set. */
  private[graft] def degrees(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Per-node triangle count + local clustering coefficient via
    * compact-forward: orient edges by (deg, id) rank, enumerate wedges
    * from out-neighbourhoods, close against the oriented edge set. */
  private[graft] def triangleStats(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val withDeg = edges
      .join(deg.select(col("node").as("id_a"), col("deg").as("__da")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("deg").as("__db")), "id_b")
    // id_a < id_b by construction, so equal degrees orient a→b.
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("id_a") < col("id_b"))
    val oriented = withDeg.select(
      when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
      when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dd"))
    // Wedges from each source's out-neighbourhood, the two far ends
    // ordered by the same (deg, id) rank the orientation used — the
    // closing edge, if present, is oriented exactly lo→hi.
    val o1 = oriented.select(col("src"), col("dst").as("n1"),
      col("__dd").as("__d1"))
    val o2 = oriented.select(col("src"), col("dst").as("n2"),
      col("__dd").as("__d2"))
    val loFirst = col("__d1") < col("__d2") ||
      (col("__d1") === col("__d2") && col("n1") < col("n2"))
    val wedges = o1.join(o2, Seq("src")).filter(col("n1") =!= col("n2"))
      .filter(loFirst) // each unordered far-end pair once
      .select(col("src").as("w"), col("n1").as("lo"), col("n2").as("hi"))
    val tris = wedges.join(oriented
        .select(col("src").as("lo"), col("dst").as("hi")),
      Seq("lo", "hi"), "left_semi")
    val perNode = tris.select(col("w").as("node"))
      .unionAll(tris.select(col("lo").as("node")))
      .unionAll(tris.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("vec_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * lit(2)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .as("clustering"))
  }

  /** Common-neighbour link prediction over the undirected graph: every
    * non-adjacent wedge-connected pair scored by shared-neighbour
    * count, neighbour-Jaccard and Adamic–Adar. */
  private[graft] def linkPredict(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val adj = edges.select(col("id_a").as("node"), col("id_b").as("nb"))
      .unionAll(edges.select(col("id_b").as("node"), col("id_a").as("nb")))
    val x = adj.select(col("node").as("w"), col("nb").as("na"))
    val y = adj.select(col("node").as("w"), col("nb").as("nb2"))
    val cand = x.join(y, Seq("w")).filter(col("na") < col("nb2"))
      .join(deg.select(col("node").as("w"), col("deg").as("__dw")), "w")
      .groupBy(col("na").as("id_a"), col("nb2").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        round(sum(lit(1.0) / log(col("__dw").cast("double"))), 6)
          .as("adamic_adar"))
      .filter(col("n_shared") >= LpMinShared)
    val nonEdges = cand.join(edges, Seq("id_a", "id_b"), "left_anti")
    nonEdges
      .join(deg.select(col("node").as("id_a"), col("deg").as("__ga")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("deg").as("__gb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("__ga") + col("__gb") - col("n_shared")).cast("double"))
          .as("jaccard_nb"),
        col("adamic_adar"))
      .orderBy(col("n_shared").desc, col("jaccard_nb").desc,
        col("id_a").asc, col("id_b").asc)
      .limit(LpTopN)
  }

  val defs: Map[String, Q] = Map(
    "q_knn_triangles" -> ((s, dir) =>
      triangleStats(Chains.KnnEdges(s, dir))
        .orderBy(col("vec_id").asc)),
    "q_link_predict" -> ((s, dir) =>
      linkPredict(Chains.KnnEdges(s, dir))))

  /** The kNN edge set as a WITH-chain body (no leading WITH), shared by
    * both oracles so the graph definition cannot drift. Mirrors
    * `knnEdges` including the 6-dp cosine round. */
  private[queries] val knnEdgesSql: String =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |sc AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v))
       |        * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
       |knn AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rn
       |    FROM sc)
       |  WHERE rn <= $KnnK),
       |edges AS (
       |  SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
       |  FROM knn),
       |deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT id_a AS node FROM edges
       |    UNION ALL SELECT id_b FROM edges)
       |  GROUP BY node)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_knn_triangles" ->
      s"""WITH $knnEdgesSql,
         |tri AS (
         |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.id_a = e1.id_b
         |  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         |tc AS (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY node)
         |SELECT d.node AS vec_id, d.deg AS degree,
         |  coalesce(t.n_tri, 0) AS n_tri,
         |  CASE WHEN d.deg >= 2 THEN
         |    CAST(coalesce(t.n_tri, 0) * 2 AS DOUBLE)
         |      / CAST(d.deg * (d.deg - 1) AS DOUBLE)
         |  END AS clustering
         |FROM deg d LEFT JOIN tc t ON t.node = d.node
         |ORDER BY vec_id""".stripMargin,

    "q_link_predict" ->
      s"""WITH $knnEdgesSql,
         |adj AS (
         |  SELECT id_a AS node, id_b AS nb FROM edges
         |  UNION ALL SELECT id_b, id_a FROM edges),
         |cand AS (
         |  SELECT x.nb AS id_a, y.nb AS id_b,
         |    count(*) AS n_shared,
         |    round(sum(1.0 / ln(CAST(d.deg AS DOUBLE))), 6) AS adamic_adar
         |  FROM adj x
         |  JOIN adj y ON x.node = y.node AND x.nb < y.nb
         |  JOIN deg d ON d.node = x.node
         |  GROUP BY x.nb, y.nb
         |  HAVING count(*) >= $LpMinShared),
         |ne AS (
         |  SELECT c.* FROM cand c
         |  LEFT JOIN edges e ON e.id_a = c.id_a AND e.id_b = c.id_b
         |  WHERE e.id_a IS NULL)
         |SELECT ne.id_a, ne.id_b, ne.n_shared,
         |  CAST(ne.n_shared AS DOUBLE)
         |    / CAST(da.deg + db.deg - ne.n_shared AS DOUBLE) AS jaccard_nb,
         |  ne.adamic_adar
         |FROM ne
         |JOIN deg da ON da.node = ne.id_a
         |JOIN deg db ON db.node = ne.id_b
         |ORDER BY n_shared DESC, jaccard_nb DESC, id_a, id_b
         |LIMIT $LpTopN""".stripMargin)
}
