package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hundred-seventy-fifth wave — mesoscale STRUCTURE of the global
  * mutual-kNN graph, completing the graph-analytics tier (degree,
  * centralities, cores, components, global triangles exist):
  *
  *  - **q_rich_club**: the rich-club coefficient φ(k) = 2·E_k /
  *    (N_k(N_k−1)) over the k = 1..4 degree thresholds — do
  *    high-degree vectors (the percolation hubs) preferentially link
  *    to EACH OTHER? A rising φ(k) says the near-dup mass is one
  *    connected clique-ish core, not scattered pairs.
  *  - **q_local_clustering**: the per-node clustering-coefficient
  *    histogram (0.2-wide buckets, exact integer bucketing
  *    (10·T) div (d(d−1)), degree-<2 nodes on bucket −1) with
  *    per-bucket mean C from 1e-9-quantized exact rationals — the
  *    distribution that separates tight duplicate cliques (C → 1)
  *    from hub-and-spoke topic centers (C → 0).
  *
  * Exact-parity discipline: per-node triangle counts come from the
  * ordered-triple join over a<b edges (each triangle counted once,
  * incrementing all three corners); every emitted statistic is
  * integer counts and ONE division; bucket boundaries are integer
  * div, never float compares.
  *
  * Scale shape: the triangle join is edges⋈edges on a shared endpoint
  * then a closing-edge semi-join — work ∝ Σ deg² (k-bounded here,
  * k·n at worst on a kNN graph), the standard distributed triangle
  * shape; rich-club is two node-id equi-joined aggregates per threshold
  * over the SAME degree table (one pass, four conditional sums; the
  * join strategy is left to AQE — a forced broadcast of the |V|-sized
  * degree table would not survive corpus-scale node counts).
  */
object Breadth174 {

  private[graft] val MaxK = 4

  /** Node degrees of the undirected (id_a < id_b) edge set. */
  private[graft] def degrees(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Per-node triangle counts (internal). */
  private[graft] def nodeTriangles(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("id_a").as("x"), col("id_b").as("y"))
    val e2 = edges.select(col("id_a").as("y2"), col("id_b").as("z"))
    val e3 = edges.select(col("id_a").as("x3"), col("id_b").as("z3"))
    val tri = e1
      .join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x"), col("y"), col("z"))
    tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
  }

  /** Rich-club curve for k = 1..MaxK. */
  private[graft] def richClub(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val ea = deg.select(col("node").as("id_a"), col("deg").as("__da"))
    val eb = deg.select(col("node").as("id_b"), col("deg").as("__db"))
    // degree tagging is a plain shuffle join on the node id: the degree
    // table is |V|-sized, and a FORCED broadcast of it contradicts the
    // 100 TB shape (corpus-scale node counts blow the broadcast limit /
    // driver heap). At gate SF, AQE still picks a broadcast on its own
    // size estimate — the right mechanism to make that call.
    val tagged = edges.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
    val rows = (1 to MaxK).map { k =>
      val nk = deg.filter(col("deg") > k)
        .agg(count(lit(1)).as("n_nodes"))
      val ek = tagged.filter(col("__da") > k && col("__db") > k)
        .agg(count(lit(1)).as("n_edges"))
      nk.crossJoin(ek).select(lit(k.toLong).as("k"),
        col("n_nodes"), col("n_edges"),
        when(col("n_nodes") < 2, lit(null)).otherwise(
          (lit(2L) * col("n_edges")).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
          .as("phi"))
    }
    rows.reduce(_ unionAll _).orderBy(col("k").asc)
  }

  /** Clustering-coefficient histogram. */
  private[graft] def localClustering(edges: DataFrame): DataFrame = {
    val d = degrees(edges)
    val t = nodeTriangles(edges)
      .select(col("node").as("__tn"), col("tri"))
    d.join(t, col("node") === col("__tn"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("__t"))
      .withColumn("bucket",
        when(col("deg") < 2, lit(-1L)).otherwise(
          least(expr("(10 * __t) div (deg * (deg - 1))"), lit(4L))))
      .withColumn("__cq",
        when(col("deg") < 2, lit(0L)).otherwise(
          expr("(2 * __t * 1000000000) div (deg * (deg - 1))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__cq")).as("__sc"))
      .select(col("bucket"), col("n_nodes"),
        when(col("bucket") === -1, lit(null)).otherwise(
          col("__sc").cast("double") /
            (col("n_nodes") * lit(1000000000L)).cast("double"))
          .as("mean_c"))
      .orderBy(col("bucket").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_rich_club" -> ((s, dir) =>
      richClub(Chains.GlobalMutual(s, dir))),
    "q_local_clustering" -> ((s, dir) =>
      localClustering(Chains.GlobalMutual(s, dir))))

  /** Mutual-kNN + degree/triangle CTE chain (no leading WITH). The
    * graph is the SHARED projection-window construction
    * (Breadth141.projMutualCtes). */
  private val GraphSql: String =
    s"""${Breadth141.projMutualCtes},
       |dg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT id_a AS node FROM mut
       |    UNION ALL SELECT id_b AS node FROM mut)
       |  GROUP BY node),
       |tri AS (
       |  SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
       |  FROM mut e1
       |  JOIN mut e2 ON e1.id_b = e2.id_a
       |  JOIN mut e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |nt AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT x AS node FROM tri
       |    UNION ALL SELECT y AS node FROM tri
       |    UNION ALL SELECT z AS node FROM tri)
       |  GROUP BY node)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rich_club" -> {
      val rows = (1 to MaxK).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM dg WHERE deg > $k)
           |    AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM mut
           |   JOIN dg a ON mut.id_a = a.node
           |   JOIN dg b ON mut.id_b = b.node
           |   WHERE a.deg > $k AND b.deg > $k) AS n_edges,
           |  CASE WHEN (SELECT count(*) FROM dg WHERE deg > $k) < 2
           |    THEN NULL
           |    ELSE CAST(2 * (SELECT count(*) FROM mut
           |        JOIN dg a ON mut.id_a = a.node
           |        JOIN dg b ON mut.id_b = b.node
           |        WHERE a.deg > $k AND b.deg > $k) AS DOUBLE)
           |      / CAST((SELECT count(*) FROM dg WHERE deg > $k)
           |        * ((SELECT count(*) FROM dg WHERE deg > $k) - 1)
           |        AS DOUBLE) END AS phi""".stripMargin
      }.mkString("\n|UNION ALL\n|")
      s"""WITH $GraphSql
         |$rows
         |ORDER BY k""".stripMargin
    },

    "q_local_clustering" ->
      s"""WITH $GraphSql,
         |base AS (
         |  SELECT dg.node, dg.deg, coalesce(nt.t, 0) AS t
         |  FROM dg LEFT JOIN nt ON dg.node = nt.node),
         |bk AS (
         |  SELECT CASE WHEN deg < 2 THEN CAST(-1 AS BIGINT)
         |      ELSE least((10 * t) // (deg * (deg - 1)),
         |        CAST(4 AS BIGINT)) END AS bucket,
         |    CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
         |      ELSE (2 * t * 1000000000) // (deg * (deg - 1)) END AS cq
         |  FROM base)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CASE WHEN bucket = -1 THEN NULL
         |    ELSE CAST(sum(cq) AS DOUBLE)
         |      / CAST(count(*) * 1000000000 AS DOUBLE) END AS mean_c
         |FROM bk
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin)
}
