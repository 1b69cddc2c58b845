package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-twenty-seventh wave — **q_mmr_diversify**: Maximal Marginal
  * Relevance re-ranking (Carbonell & Goldstein) of each probe's top-10
  * cosine candidates — the diversity-aware retrieval pass that stops a
  * RAG context window filling with ten near-copies of the same hit.
  * Greedy selection of 5: first the most relevant candidate, then
  * repeatedly argmax of λ·rel − (1−λ)·maxSimToSelected with λ = 1/2 —
  * which orders EXACTLY like the integer rel − maxSim, so with both
  * cosines on the 1e-6-quantized integer discipline the whole greedy
  * is integer arithmetic (ties by candidate id).
  *
  * The oracle replays the greedy as a recursive CTE: each round joins
  * the remaining candidates against the pair-sim table restricted to
  * the selected list, takes max(simq) per candidate, and picks via
  * arg_max over a UNIQUE sortable key ((2·10⁶ + score)·2³² +
  * (2³² − id)) — score order first, id tiebreak embedded, so arg_max
  * is deterministic without window functions in the recursive term.
  *
  * Scale shape: candidate generation is the brute probe×corpus scan
  * (swap in any ANN shortlist); everything after is per-probe
  * constant-size (10 candidates, 45 pair sims, 5 rounds). */
object Breadth126 {

  private val CandN = 10
  private val PickK = 5

  private def exploded(emb: DataFrame): DataFrame =
    emb.repartition(col("vec_id"))
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), (col("__p0") + 1).cast("long").as("pos"),
        q6(col("__x")).as("xq"))

  /** Quantized integer cosine between two exploded sides joined on
    * pos, as aggregate expressions. */
  private def qcosAgg(xa: Column, xb: Column): Column =
    q6(d(sum(xa * xb)) / (sqrt(d(sum(xa * xa))) * sqrt(d(sum(xb * xb)))))

  /** The greedy MMR fold: parallel arrays of candidate ids/relevances
    * plus the pair-sim triples; returns the selection order. */
  private[graft] val mmrUdf =
    udf { (ids: Seq[Long], rels: Seq[Long], pa: Seq[Long], pb: Seq[Long],
           ps: Seq[Long]) =>
      val rel = ids.zip(rels).toMap
      val sim = new scala.collection.mutable.HashMap[(Long, Long), Long]
      pa.indices.foreach { i =>
        sim((pa(i), pb(i))) = ps(i); sim((pb(i), pa(i))) = ps(i)
      }
      val remaining = scala.collection.mutable.SortedSet(ids: _*)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (sel.length < PickK && remaining.nonEmpty) {
        var bestId = -1L
        var bestScore = Long.MinValue
        remaining.foreach { c =>
          // missing pair → 0, the oracle's coalesce(max(p.sq), 0)
          // convention: every candidate pair is materialized today, but
          // a sparser candidate source (the documented ANN-shortlist
          // swap) must not overflow rel − Long.MinValue
          val maxSim =
            if (sel.isEmpty) 0L
            else sel.map(s => sim.getOrElse((c, s), 0L)).max
          val score = rel(c) - maxSim
          if (score > bestScore || (score == bestScore && c < bestId)) {
            bestScore = score; bestId = c
          }
        }
        sel += bestId
        remaining -= bestId
      }
      sel.toSeq
    }

  /** MMR top-5 per probe over the integer-cosine top-10 candidates. */
  private[graft] def mmrDiversify(emb: DataFrame): DataFrame = {
    val e = exploded(emb)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("pos"),
        col("xq").as("__xp"))
    val sc = probes.join(e.withColumnRenamed("vec_id", "cand"), Seq("pos"))
      .filter(col("cand") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("cand"))
      .agg(qcosAgg(col("__xp"), col("xq")).as("relq"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("relq").desc, col("cand").asc)
    val cands = sc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= CandN)
      .select(col("probe_id"), col("cand"), col("relq"))
      .localCheckpoint()
    // pair sims among each probe's candidates (≤45 per probe)
    val ca = cands.select(col("probe_id"), col("cand").as("__a"))
    val cb = cands.select(col("probe_id"), col("cand").as("__b"))
    val pairs = ca.join(cb, Seq("probe_id")).filter(col("__a") < col("__b"))
      .join(e.select(col("vec_id").as("__a"), col("pos"),
        col("xq").as("__qa")), Seq("__a"))
      .join(e.select(col("vec_id").as("__b"), col("pos"),
        col("xq").as("__qb")), Seq("__b", "pos"))
      .groupBy(col("probe_id"), col("__a"), col("__b"))
      .agg(qcosAgg(col("__qa"), col("__qb")).as("__sq"))
    val packed = cands
      .groupBy(col("probe_id"))
      .agg(sort_array(collect_list(struct(col("cand"), col("relq"))))
        .as("__c"))
      .join(pairs.groupBy(col("probe_id"))
        .agg(sort_array(collect_list(struct(col("__a"), col("__b"),
          col("__sq")))).as("__p")), Seq("probe_id"))
      .select(col("probe_id"),
        mmrUdf(transform(col("__c"), _.getField("cand")),
          transform(col("__c"), _.getField("relq")),
          transform(col("__p"), _.getField("__a")),
          transform(col("__p"), _.getField("__b")),
          transform(col("__p"), _.getField("__sq"))).as("__sel"))
    packed
      .select(col("probe_id"),
        posexplode(col("__sel")).as(Seq("__r0", "neighbor_id")))
      .withColumn("mmr_rank", (col("__r0") + 1).cast("int"))
      .join(cands.select(col("probe_id"), col("cand").as("neighbor_id"),
        col("relq")), Seq("probe_id", "neighbor_id"))
      .select(col("probe_id"), col("mmr_rank"), col("neighbor_id"),
        (d(col("relq")) / lit(1.0e6)).as("rel_cos"))
      .orderBy(col("probe_id").asc, col("mmr_rank").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_mmr_diversify" -> ((s, dir) =>
      mmrDiversify(Tables.embeddings(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_mmr_diversify" ->
      s"""WITH RECURSIVE pe0 AS (
         |  SELECT vec_id,
         |    unnest(range(1, 65)) AS pos,
         |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
         |      + 0.5) AS BIGINT) AS xq
         |  FROM embeddings),
         |sc AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand,
         |    CAST(floor(CAST(CAST(sum(p.xq * c.xq) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(p.xq * p.xq) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(c.xq * c.xq) AS BIGINT) AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS relq
         |  FROM pe0 p JOIN pe0 c ON c.pos = p.pos
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |  GROUP BY 1, 2),
         |cands AS (
         |  SELECT probe_id, cand, relq FROM (
         |    SELECT probe_id, cand, relq, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY relq DESC, cand) AS rn
         |    FROM sc)
         |  WHERE rn <= $CandN),
         |prs AS (
         |  SELECT x.probe_id, x.cand AS a, y.cand AS b,
         |    CAST(floor(CAST(CAST(sum(pa.xq * pb.xq) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(pa.xq * pa.xq) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(pb.xq * pb.xq) AS BIGINT)
         |          AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS sq
         |  FROM cands x
         |  JOIN cands y ON y.probe_id = x.probe_id AND x.cand < y.cand
         |  JOIN pe0 pa ON pa.vec_id = x.cand
         |  JOIN pe0 pb ON pb.vec_id = y.cand AND pb.pos = pa.pos
         |  GROUP BY 1, 2, 3),
         |gsel AS (
         |  SELECT probe_id, 1 AS k, [pick] AS sel FROM (
         |    SELECT probe_id,
         |      arg_max(cand, ((2000000 + relq) * 4294967296)
         |        + (4294967296 - cand)) AS pick
         |    FROM cands GROUP BY probe_id)
         |  UNION ALL
         |  SELECT probe_id, k + 1 AS k, list_append(sel, pick) AS sel
         |  FROM (
         |    SELECT probe_id, k, sel, arg_max(cand, ukey) AS pick FROM (
         |      SELECT s.probe_id, s.k, s.sel, c.cand,
         |        ((2000000 + c.relq - coalesce(max(p.sq), 0))
         |          * 4294967296) + (4294967296 - c.cand) AS ukey
         |      FROM gsel s
         |      JOIN cands c ON c.probe_id = s.probe_id
         |        AND NOT list_contains(s.sel, c.cand)
         |      LEFT JOIN prs p ON p.probe_id = s.probe_id
         |        AND ((p.a = c.cand AND list_contains(s.sel, p.b))
         |          OR (p.b = c.cand AND list_contains(s.sel, p.a)))
         |      WHERE s.k < $PickK
         |      GROUP BY s.probe_id, s.k, s.sel, c.cand, c.relq)
         |    GROUP BY probe_id, k, sel)),
         |last AS (
         |  SELECT probe_id, max(k) AS mk FROM gsel GROUP BY 1),
         |fin AS (
         |  SELECT g.probe_id,
         |    unnest(g.sel) AS neighbor_id,
         |    unnest(range(1, len(g.sel) + 1)) AS mmr_rank
         |  FROM gsel g JOIN last l
         |    ON l.probe_id = g.probe_id AND g.k = l.mk)
         |SELECT f.probe_id, CAST(f.mmr_rank AS INTEGER) AS mmr_rank,
         |  f.neighbor_id,
         |  CAST(c.relq AS DOUBLE) / 1000000.0 AS rel_cos
         |FROM fin f JOIN cands c
         |  ON c.probe_id = f.probe_id AND c.cand = f.neighbor_id
         |ORDER BY f.probe_id, f.mmr_rank""".stripMargin)
}
