package graft.queries

import graft.Tables
import graft.store.Memo
import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Twelfth extension wave — three scale-bearing pipeline operators a
  * 100 TB corpus/feature platform runs that the engine did not yet
  * cover:
  *
  *  - iterative graph centrality (PageRank over the supplier→part
  *    supply graph — "which item is structurally load-bearing", the
  *    same shape as domain-authority scoring for crawl corpora);
  *  - quantized similarity search (int8 scalar quantization of the
  *    embedding column + cosine top-k over the DEQUANTIZED vectors —
  *    the 4× memory cut every large ANN deployment takes first, with
  *    recall measured against the exact ranking);
  *  - the hashing trick (signed feature hashing of token streams into
  *    a fixed 64-bucket vector — featurizing an unbounded vocabulary
  *    with NO dictionary build, the one-pass path when a vocab shuffle
  *    is too expensive).
  *
  * The engine already ships a float PageRank over the near-dup pair
  * graph (q_pagerank, Extensions8) — this one is DIFFERENT machinery
  * for a different contract: bit-exact integer arithmetic (reducer
  * order cannot perturb ranks), dangling-mass redistribution, and a
  * warehouse-shaped bipartite graph. Likewise q_pmi_cooccur covers
  * token association; feature hashing covers representation.
  *
  * Exact-parity discipline: PageRank runs ENTIRELY in integer
  * micro-rank units (SCALE = 10⁹ per node) with floor-division damping
  * — every iteration is order-independent integer sums, so a 5-deep
  * iterative join chain hash-matches DuckDB exactly (no float drift to
  * accumulate). Quantization uses floor(x·127/m + 0.5) (round-half-up,
  * identical in both engines) and the one rounded cosine the ANN
  * queries already pin. Feature hashing is md5-derived integer buckets
  * and signed integer counts — exact by construction.
  */
object Extensions11 {

  /** Integer micro-rank units per node; damping is the rational 17/20
    * applied as floor division. (1−d)·SCALE = 150,000,000 exactly. */
  private[graft] val PrScale = 1000000000L
  private[graft] val PrBase = 150000000L
  private[graft] val PrIters = 5

  /** Fixed-iteration integer PageRank over the distinct supplier→part
    * edge set of lineitem (suppliers `s<k>`, parts `p<k>` — disjoint
    * node namespaces). Per iteration every node receives
    * base + Σ_in floor(17·r_u / (20·outdeg_u)) + floor(17·D / (20·N))
    * with D the total rank mass parked on dangling nodes (every part —
    * the bipartite sink side) and N the node count. All arithmetic is
    * int64 with floor division: iteration order is fixed, the sums are
    * order-independent, and the result is bit-exact on any cluster —
    * no float mass to drift. Int64 headroom: Σ ranks ≈ N·10⁹ wraps past
    * N ≈ 9·10⁹ nodes; per-term products 17·r stay ≤ 2·10¹⁰ · breadth.
    *
    * Scale shape: `edges`, `nodes`, and `outdeg` are STATIC across
    * iterations, so they are written through the plan-keyed parquet
    * store (graft.store.Memo) — not persist(): a public facade
    * persist leaks one cached frame per call (the round-13 leak class),
    * and under the bench's storage sweep every "warm" run silently paid
    * the full edge-distinct rebuild again (measured: 35 of q_pagerank_int's
    * 62 warm task-s were the static frames, not the iterations). Each
    * iteration is one src-side equi-join (contribs) + one dst-side
    * groupBy — the classic 2-shuffle PageRank step. Each iteration's
    * rank frame is localCheckpoint'd (the label-propagation discipline):
    * `r` feeds BOTH the dangling-mass sum and the contribs join, so an
    * unmaterialized lineage re-derives the whole prefix twice per level
    * — 2^iters recomputation by the last action (measured: 90 s vs 3 s
    * at sf0.1). One bounded job per iteration instead. The rank frame is
    * explicitly sized (~256k rows/partition, |nodes| from the stored
    * frame's metadata count): it would otherwise inherit the session
    * shuffle width for a |nodes|-row frame and every iteration's stage
    * would pay 32 task launches for metadata-sized work. The dangling
    * node SET is fixed across iterations, so it is resolved to a
    * boolean flag on the rank frame once and the per-iteration dangling
    * mass is a conditional sum, not a repeated anti-join. The dangling
    * mass and N ride as broadcast one-row frames, not driver collects. */
  private[graft] def pageRank(edgesRaw: DataFrame,
                              iters: Int = PrIters): DataFrame = {
    // BUCKETED by src (round 14): every iteration joins the edge set on
    // src; un-bucketed, the 10x scale step re-shuffled all edge bytes
    // per iteration (5.9M edges x 5 iterations — 65x shuffle at 10x
    // data). Bucketed+sorted, the iteration joins and the outdeg
    // groupBy read co-located buckets with no exchange — only the
    // node-sized contribution stream ever crosses the wire.
    val edges = Memo(edgesRaw, "pr_edges_bsrc") {
      // plain store first (also the exact row count for bucket sizing),
      // then the one bucketed rewrite — both one-time, memoized
      val dist = Memo.write(edgesRaw.select(col("src"), col("dst")).distinct())
      Memo.writeBucketed(dist, "src", Memo.bucketsForRows(dist.count()))
    }
    val nodes = Memo(edgesRaw, "pr_nodes") {
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
    }
    val outdeg = Memo(edgesRaw, "pr_outdeg") {
      edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    }
    // metadata-sized count (parquet count-star over the stored frame,
    // one scalar — the Ivf bounded-driver-state precedent, never a data
    // collect): feeds partition sizing AND the dangling divisor as a
    // literal, instead of re-aggregating + broadcasting a one-row meta
    // frame in every iteration (2 jobs/iteration of pure latency).
    val nNodes = nodes.count()
    val rParts = math.max(1L, math.min(4096L, nNodes / 262144L + 1L)).toInt
    // The DANGLING NODE SET is fixed across iterations (only its rank
    // mass changes): resolve the anti-join once, flag it on the rank
    // frame, and each iteration's dangling mass becomes a conditional
    // sum over `r` instead of a fresh anti-join.
    val dangFlag = nodes.join(outdeg, nodes("node") === outdeg("src"),
        "left_anti").select(col("node"), lit(true).as("dangling"))
    var r = nodes.join(dangFlag, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("dangling"), lit(false)).as("dangling"),
        lit(PrScale).as("r"))
      .repartition(rParts)
      .localCheckpoint(eager = false)
    (1 to iters).foreach { _ =>
      val dang = r.agg((lit(17L) * sum(when(col("dangling"), col("r")))).as("dm"))
        .select(expr(s"dm div (20 * ${nNodes}L)").as("dang"))
      val contribs = r.join(outdeg, r("node") === outdeg("src"))
        .select(col("node"), expr("(17 * r) div (20 * od)").as("ct"))
        .join(edges, col("node") === edges("src"))
        .groupBy(col("dst"))
        .agg(sum(col("ct")).as("s"))
      // LAZY checkpoints (the hits/hopHistogram discipline, round 14):
      // the iteration count is a bound (5), so lineage cannot blow up,
      // and each eager checkpoint was one driver round-trip + job per
      // iteration — measured ~2 s of dead wall for 1.7 task-s of warm
      // work. Lazily-marked generations still root at fresh LogicalRDDs
      // (no alias capture), all five materialize inside the one final
      // action, each generation's blocks cached on first compute and
      // shared by the dangling sum + contribs join + next generation.
      // Superseded generations' checkpoint blocks are reclaimed by the
      // ContextCleaner once the previous frame goes unreferenced
      // (Dataset.unpersist cannot free them — they belong to the
      // checkpointed RDD, not the cache).
      r = r.join(contribs, r("node") === contribs("dst"), "left_outer")
        .crossJoin(broadcast(dang))
        .select(r("node"), r("dangling"),
          (lit(PrBase) + coalesce(col("s"), lit(0L)) + col("dang")).as("r"))
        .localCheckpoint(eager = false)
    }
    r.select(col("node"), col("r").as("rank"))
  }

  /** Int8 scalar quantization of an embedding column: per-vector
    * symmetric max-abs scale, q_i = round-half-up(x_i·127/m) clamped to
    * [−127, 127], dequantized back to q_i·m/127. Zero vectors (m = 0)
    * are dropped — they have no cosine direction. At cluster scale the
    * int8 codes are what you SHIP (4× smaller shuffle/cache footprint);
    * the dequantized doubles here make the scoring math engine-portable
    * and exactly mirrorable in the oracle. */
  private[graft] def quantizeInt8(emb: DataFrame, idCol: String,
                                  vecCol: String): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .filter(col("mx") > 0)
    v.withColumn("qv", transform(col("v"), x =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(x * lit(127.0) / col("mx") + lit(0.5))))))
      .select(col(idCol), col("mx"),
        transform(col("qv"), x => x * col("mx") / lit(127.0)).as("dv"))
  }

  /** Hashing-trick dimensionality. 64 buckets keeps the fixture small;
    * production uses 2¹⁸–2²² with the same arithmetic. */
  private[graft] val FeatBuckets = 64L

  /** Signed feature hashing of the token stream: every token OCCURRENCE
    * lands in bucket md5₁(tok) mod B with sign ± from md5₂(tok)'s
    * parity (the Weinberger et al. signed construction — the sign
    * debiases collisions); a document's feature vector is the per-bucket
    * signed count. Emitted sparse: (doc_id, bucket, w) for w ≠ 0.
    *
    * Scale shape: ONE explode + one (doc, bucket) groupBy with map-side
    * partial aggregation — no vocabulary pass, no dictionary broadcast,
    * output ≤ B rows per document regardless of corpus vocabulary. This
    * is the fixed-width featurizer you run when the vocab itself is too
    * big to build (the hashing trick's whole point at 100 TB). */
  private[graft] def featureHash(docs: DataFrame, textCol: String,
                                 idCol: String, buckets: Long): DataFrame = {
    val m = md5(col("tok"))
    docs.select(col(idCol).as("doc_id"),
        explode(graft.text.Text.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(m, 1, 15), 16, 10).cast("long") % buckets).as("bucket"),
        when(conv(substring(m, 17, 15), 16, 10).cast("long") % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("__sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("__sgn")).as("w"))
      .filter(col("w") =!= 0)
  }

  val defs: Map[String, Q] = Map(
    // 5-iteration bit-exact integer PageRank over the supplier→part
    // graph (the float near-dup-graph q_pagerank's deterministic twin).
    // Node ids run through the iterations as LONGS (2·suppkey for the
    // src namespace, 2·partkey+1 for dst — injective, disjoint) and are
    // rendered to the oracle's 's<k>'/'p<k>' strings only at the end:
    // the distinct/join/groupBy chain hashes 8-byte keys instead of
    // strings through every shuffle (measured ~2x on the static-frame
    // build), and the rank arithmetic never touches the key. The graph
    // is isomorphic, so ranks are identical; the string rendering and
    // the final sort happen once on the |nodes|-row result.
    "q_pagerank_int" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir).select(
        (col("l_suppkey") * 2L).as("src"),
        (col("l_partkey") * 2L + 1L).as("dst"))
      pageRank(edges)
        .select(
          concat(when(col("node") % 2 === 0, lit("s")).otherwise(lit("p")),
            shiftright(col("node"), 1).cast("string")).as("node"),
          col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
    }),

    // Int8-quantized cosine top-5 for the 10 probe vectors (the ANN
    // memory-cut path, scored like q_embed_topk).
    "q_embed_quant" -> ((s, dir) => {
      val dq = quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
      Similarity.bruteForceTopK(dq.filter(col("vec_id") < 10), dq, 5,
          vecCol = "dv")
        .withColumnRenamed("cos", "cos_q")
        .orderBy(col("probe_id").asc, col("rank").asc)
    }),

    // Signed feature hashing: sparse 64-bucket doc vectors.
    "q_feat_hash" -> ((s, dir) =>
      featureHash(Tables.documents(s, dir), "text", "doc_id", FeatBuckets)
        .orderBy(col("doc_id").asc, col("bucket").asc)))

  /** The PageRank iteration CTE chain, unrolled (fixed PrIters). */
  private def prSteps: String = (1 to PrIters).map { i =>
    s""",
       |d$i AS (SELECT (17 * CAST(sum(r) AS BIGINT)) // (20 * (SELECT n FROM meta)) AS dang
       |  FROM r${i - 1} LEFT JOIN outdeg ON node = src WHERE od IS NULL),
       |c$i AS (SELECT e.dst AS node, CAST(sum((17 * p.r) // (20 * o.od)) AS BIGINT) AS s
       |  FROM r${i - 1} p JOIN outdeg o ON p.node = o.src JOIN edges e ON e.src = p.node
       |  GROUP BY e.dst),
       |r$i AS (SELECT n.node,
       |    CAST($PrBase AS BIGINT) + coalesce(c.s, 0) + (SELECT dang FROM d$i) AS r
       |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
  }.mkString

  val oracle: Map[String, String] = Map(
    "q_pagerank_int" ->
      s"""WITH edges AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         |    'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src),
         |meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |r0 AS (SELECT node, CAST($PrScale AS BIGINT) AS r FROM nodes)$prSteps
         |SELECT node, CAST(r AS BIGINT) AS rank FROM r$PrIters
         |ORDER BY rank DESC, node""".stripMargin,

    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id, mx,
        |    list_transform(v, x -> greatest(-127.0, least(127.0, floor(x * 127.0 / mx + 0.5)))) AS qv
        |  FROM m WHERE mx > 0),
        |dq AS (SELECT vec_id, list_transform(qv, x -> x * mx / 127.0) AS dv FROM q),
        |scored AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    round(list_dot_product(a.dv, b.dv)
        |      / (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos_q
        |  FROM dq a JOIN dq b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos_q DESC, neighbor_id) AS INTEGER) AS rank FROM scored)
        |SELECT probe_id, rank, neighbor_id, cos_q FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, rank""".stripMargin,

    "q_feat_hash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $FeatBuckets AS bucket,
        |    CASE WHEN ('0x' || substr(md5(tok), 17, 15))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM tok),
        |w AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS w
        |  FROM h GROUP BY doc_id, bucket)
        |SELECT doc_id, bucket, w FROM w WHERE w <> 0
        |ORDER BY doc_id, bucket""".stripMargin)
}
