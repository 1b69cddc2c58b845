package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-twenty-second wave — product-quantization ANN, the
  * compression tier below the int8 path (q_embed_quant): codes are
  * M = 8 small integers per vector instead of 64 floats, and query
  * scoring reads ONE |labels|·|dims| lookup table instead of the
  * corpus's raw vectors.
  *
  *  - **q_pq_adc**: encode every vector as 8 subspace codewords (the
  *    nearest label-centroid subvector, argmin by EXACT int64 squared
  *    distance over 1e-6-quantized components — ties by label asc),
  *    then rank the corpus for the 10 probes by asymmetric-distance
  *    ADC: Σ_m dot(probe subvector, codeword), every term an exact
  *    integer, top-5 per probe.
  *  - **q_pq_recall**: recall@5 of that PQ ranking against the exact
  *    brute-force top-5 (the memoized chain_brute_topk ground truth) —
  *    the accuracy price of the 32× compression, measured in-query.
  *
  * Codebooks derive from the label partition (k-means cells would work
  * identically — labels keep the construction deterministic and the
  * oracle exact). Scale shape: encoding is one |V|·|labels| bounded
  * explode-join (the Breadth116 discipline: repartition before it);
  * ADC is |V|·M rows joined against a BROADCAST |probes|·|labels|·M
  * partial-dot table — the corpus's raw embeddings are never touched
  * at query time, which is the entire point of PQ at 100 TB. */
object Breadth121 {

  /** log2(dims per subspace): 64 dims → 8 subspaces of 8. */
  private val SubShift = 3
  private val PqTopK = 5

  /** Exploded q6 components: (vec_id, label, pos 1-based, m 1-based,
    * xq). */
  private def exploded(emb: DataFrame): DataFrame =
    emb.repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), col("label"),
        (col("__p0") + 1).cast("long").as("pos"),
        (shiftright(col("__p0"), SubShift) + 1).cast("long").as("m"),
        q6(col("__x")).as("xq"))

  /** Codewords: per (label, pos) round-half-up centroid component —
    * the identical double division + floor on both engines. */
  private def codewords(e: DataFrame): DataFrame =
    e.groupBy(col("label").as("cl"), col("pos").as("cp"))
      .agg(floor(d(sum(col("xq"))) / d(count(lit(1))) + lit(0.5))
        .cast("long").as("cq"))
      .withColumn("cm", (shiftright(col("cp") - 1, SubShift) + 1)
        .cast("long"))

  /** Per-(vector, subspace) code: argmin label by exact squared
    * distance. Kept as the row_number window (NOT a min(struct)
    * second aggregate): measured at the sf1 step, the struct-min form
    * ran 15–18 s vs the window's 12 s — a struct MIN plans as a
    * SortAggregate, so the "order-free aggregate" buys nothing over
    * the window's sort while adding a second exchange. */
  private def encoded(e: DataFrame, cw: DataFrame): DataFrame = {
    val d2 = e.join(broadcast(cw), col("pos") === col("cp"))
      .withColumn("__df", col("xq") - col("cq"))
      .groupBy(col("vec_id"), col("m"), col("cl"))
      .agg(sum(col("__df") * col("__df")).as("__d2"))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("__d2").asc, col("cl").asc)
    d2.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("m"), col("cl").as("code"))
  }

  /** Top-k ADC ranking for the probes (vec_id < 10). */
  private[graft] def pqAdc(emb: DataFrame, k: Int = PqTopK): DataFrame = {
    val e = exploded(emb)
    val cw = codewords(e)
    val enc = encoded(e, cw)
    // probe × codebook partial dots — |probes|·|labels|·M rows, broadcast
    val pd = e.filter(col("vec_id") < 10)
      .join(broadcast(cw), col("pos") === col("cp"))
      .groupBy(col("vec_id").as("probe_id"), col("m").as("pm"),
        col("cl").as("pl"))
      .agg(sum(col("xq") * col("cq")).as("__dot"))
    val adc = enc.join(broadcast(pd),
        col("m") === col("pm") && col("code") === col("pl"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("__dot")).as("adc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("probe_id").asc, col("rank").asc)
  }

  /** ADC shortlist size for the exact re-rank stage. */
  private[queries] val PqShortlist = 50

  /** The ADC shortlist (top-50 per probe) — the build of Chains.PqTopK:
    * q_pq_adc, q_pq_recall and the RRF fusion all read the SAME encoded
    * ranking instead of each re-running the |V|·|labels|·dims encode
    * join (measured 10.6×/9.8× duplicated at the sf1 step before the
    * memo). The top-5 is a filter on it: row_number ranks agree on
    * every prefix. */
  private[graft] def pqShortlistPlan(emb: DataFrame): DataFrame =
    pqAdc(emb, PqShortlist)

  /** Mean recall@5 of (a) the raw ADC top-5 and (b) the production
    * two-stage pipeline — ADC top-50 shortlist re-ranked by EXACT
    * cosine — both against the exact brute top-5. The re-rank touches
    * only |probes|·50 raw vectors, so stage-2 cost is independent of
    * corpus size; its recall is what a PQ deployment actually ships. */
  private[graft] def pqRecall(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val short = Chains.PqTopK(s, dir)
      .select(col("probe_id"), col("rank"), col("neighbor_id"))
    val pv = emb.select(col("vec_id").as("probe_id"),
      col("embedding").as("__pv"))
    val nv = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__nv"))
    val rrW = Window.partitionBy(col("probe_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    val rr = short.join(broadcast(pv), Seq("probe_id")).join(nv, Seq("neighbor_id"))
      .withColumn("__cos",
        round(graft.sim.Similarity.cosine(col("__pv"), col("__nv")), 6))
      .withColumn("__rr", row_number().over(rrW))
      .filter(col("__rr") <= PqTopK)
      .select(col("probe_id"), col("neighbor_id"))
    val adc5 = short.filter(col("rank") <= PqTopK)
      .select(col("probe_id"), col("neighbor_id"))
    val brute = Chains.BruteTopK(s, dir)
      .filter(col("rank") <= PqTopK)
      .select(col("probe_id"), col("neighbor_id"))
    def hits(cand: DataFrame) =
      cand.join(brute, Seq("probe_id", "neighbor_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("__ov"))
    val probes = brute.select(col("probe_id")).distinct()
    probes
      .join(hits(adc5).withColumnRenamed("__ov", "__oa"), Seq("probe_id"), "left")
      .join(hits(rr).withColumnRenamed("__ov", "__or"), Seq("probe_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(coalesce(col("__oa"), lit(0L))).as("__ha"),
        sum(coalesce(col("__or"), lit(0L))).as("__hr"))
      .select(col("n_probes"), col("__ha").as("n_hits_adc"),
        (d(col("__ha")) / d(col("n_probes") * PqTopK)).as("recall5_adc"),
        col("__hr").as("n_hits_rerank"),
        (d(col("__hr")) / d(col("n_probes") * PqTopK)).as("recall5_rerank"))
  }

  val defs: Map[String, Q] = Map(
    "q_pq_adc" -> ((s, dir) =>
      Chains.PqTopK(s, dir).filter(col("rank") <= PqTopK)
        .orderBy(col("probe_id").asc, col("rank").asc)),
    "q_pq_recall" -> ((s, dir) => pqRecall(s, dir)))

  /** The PQ chain as WITH-chain body CTEs (no leading WITH) — shared
    * with the RRF fusion oracle (Breadth125) so the encoding cannot
    * drift. */
  private[queries] val PqSql =
    s"""pe0 AS (
       |  SELECT vec_id, label,
       |    unnest(range(1, 65)) AS pos,
       |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
       |      + 0.5) AS BIGINT) AS xq
       |  FROM embeddings),
       |pe AS (
       |  SELECT vec_id, label, pos, ((pos - 1) // 8) + 1 AS m, xq
       |  FROM pe0),
       |cw AS (
       |  SELECT label AS cl, pos AS cp, ((pos - 1) // 8) + 1 AS cm,
       |    CAST(floor(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS cq
       |  FROM pe GROUP BY 1, 2),
       |d2 AS (
       |  SELECT pe.vec_id, pe.m, cw.cl,
       |    CAST(sum((pe.xq - cw.cq) * (pe.xq - cw.cq)) AS BIGINT) AS d2
       |  FROM pe JOIN cw ON pe.pos = cw.cp
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, m, cl AS code FROM (
       |    SELECT vec_id, m, cl, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2, cl) AS rn
       |    FROM d2)
       |  WHERE rn = 1),
       |pd AS (
       |  SELECT pe.vec_id AS probe_id, pe.m AS pm, cw.cl AS pl,
       |    CAST(sum(pe.xq * cw.cq) AS BIGINT) AS dot
       |  FROM pe JOIN cw ON pe.pos = cw.cp
       |  WHERE pe.vec_id < 10
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT pd.probe_id, enc.vec_id AS neighbor_id,
       |    CAST(sum(pd.dot) AS BIGINT) AS adc
       |  FROM enc JOIN pd ON enc.m = pd.pm AND enc.code = pd.pl
       |  WHERE enc.vec_id <> pd.probe_id
       |  GROUP BY 1, 2),
       |pqranked AS (
       |  SELECT probe_id, neighbor_id, adc,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM adc)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_pq_adc" ->
      s"""WITH $PqSql
         |SELECT probe_id, rank, neighbor_id, adc
         |FROM pqranked WHERE rank <= $PqTopK
         |ORDER BY probe_id, rank""".stripMargin,

    "q_pq_recall" ->
      s"""${Extensions.bruteRankedSql},
         |$PqSql,
         |rr AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, p.neighbor_id,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY b.cos DESC, p.neighbor_id) AS rrn
         |    FROM pqranked p JOIN ranked b
         |      ON b.probe_id = p.probe_id AND b.neighbor_id = p.neighbor_id
         |    WHERE p.rank <= $PqShortlist)
         |  WHERE rrn <= $PqTopK),
         |ova AS (
         |  SELECT p.probe_id, CAST(count(*) AS BIGINT) AS ov
         |  FROM pqranked p JOIN ranked b
         |    ON b.probe_id = p.probe_id AND b.neighbor_id = p.neighbor_id
         |   AND b.rank <= $PqTopK
         |  WHERE p.rank <= $PqTopK
         |  GROUP BY 1),
         |ovr AS (
         |  SELECT r.probe_id, CAST(count(*) AS BIGINT) AS ov
         |  FROM rr r JOIN ranked b
         |    ON b.probe_id = r.probe_id AND b.neighbor_id = r.neighbor_id
         |   AND b.rank <= $PqTopK
         |  GROUP BY 1),
         |pr AS (SELECT DISTINCT probe_id FROM ranked WHERE rank <= $PqTopK)
         |SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(COALESCE(ova.ov, 0)) AS BIGINT) AS n_hits_adc,
         |  CAST(CAST(sum(COALESCE(ova.ov, 0)) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) * $PqTopK AS DOUBLE) AS recall5_adc,
         |  CAST(sum(COALESCE(ovr.ov, 0)) AS BIGINT) AS n_hits_rerank,
         |  CAST(CAST(sum(COALESCE(ovr.ov, 0)) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) * $PqTopK AS DOUBLE) AS recall5_rerank
         |FROM pr
         |LEFT JOIN ova ON ova.probe_id = pr.probe_id
         |LEFT JOIN ovr ON ovr.probe_id = pr.probe_id""".stripMargin)
}
