package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-twenty-third wave — two pipeline-infrastructure operators a
  * 100 TB embedding/dedup platform runs before anything expensive:
  *
  *  - **q_rp_distortion**: how much cosine structure survives a
  *    Johnson–Lindenstrauss sign projection 64 → 16 dims. Signs are
  *    md5-parity of (pos, out-dim) — RNG-free, identical on both
  *    engines; projected components are EXACT integer signed sums of
  *    the 1e-6-quantized inputs, and both cosines quantize through the
  *    Breadth116 integer-product discipline, so the per-pair
  *    distortion |cosΔ| is exact. Measured over the memoized kNN edge
  *    pairs (the pairs a downstream dedup/cluster pass actually
  *    consumes). The GO/NO-GO meter before switching an ANN tier to
  *    projected vectors.
  *  - **q_leakage_split**: train/test splitting that respects near-dup
  *    structure — hash-split documents by their DUP-CLUSTER
  *    representative (the memoized MinHash cluster chain; singletons
  *    represent themselves) and count verified near-dup pairs CROSSING
  *    the split, against the same count under a naive per-doc hash
  *    split. Cluster-aware crossings are zero BY CONSTRUCTION (both
  *    endpoints share a representative); the naive count is the
  *    train→test contamination a leakage-unaware pipeline ships.
  *
  * Scale shape: projection is one broadcast 64×16 sign table and one
  * (vec, out-dim) aggregate; distortion joins only the |E| edge pairs.
  * The split reads the already-materialized pair + cluster chains and
  * adds two md5 maps — no new quadratic work anywhere. */
object Breadth122 {

  private[graft] val RpOutDims = 16
  private val InDims = 64

  private def exploded(emb: DataFrame): DataFrame =
    emb.repartition(col("vec_id"))
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), (col("__p0") + 1).cast("long").as("pos"),
        q6(col("__x")).as("xq"))

  /** ±1 from the md5 parity of (tag, a, b). */
  private def mdSign(tag: String, a: Column, b: Column): Column = {
    val h = conv(substring(md5(concat_ws("#", lit(tag), a.cast("string"),
      b.cast("string"))), 1, 15), 16, 10).cast("long")
    when(h % 2 === 0, lit(1L)).otherwise(lit(-1L))
  }

  /** Quantized cosine from exact integer power sums. */
  private def qcos(sab: Column, saa: Column, sbb: Column): Column =
    q6(d(sab) / (sqrt(d(saa)) * sqrt(d(sbb))))

  /** Mean/max |cos distortion| of the sign projection over the kNN
    * edge pairs. */
  private[graft] def rpDistortion(s: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame = {
    import s.implicits._
    val edges = Chains.KnnEdges(s, dir)
    val e = exploded(Tables.embeddings(s, dir))
    // 64×16 broadcast sign table
    val signs = (for (p <- 1 to InDims; j <- 1 to RpOutDims)
      yield (p.toLong, j.toLong)).toDF("pos", "j")
      .withColumn("__s", mdSign("rp", col("pos"), col("j")))
    val proj = e.join(broadcast(signs), Seq("pos"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("__s") * col("xq")).as("pq"))
    def orig(side: String, idCol: String) =
      e.select(col("vec_id").as(idCol), col("pos"),
        col("xq").as(s"__x$side"))
    val od = edges
      .join(orig("a", "id_a"), Seq("id_a")).join(orig("b", "id_b"),
        Seq("id_b", "pos"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__xa") * col("__xb")).as("__sab"),
        sum(col("__xa") * col("__xa")).as("__saa"),
        sum(col("__xb") * col("__xb")).as("__sbb"))
      .select(col("id_a"), col("id_b"),
        qcos(col("__sab"), col("__saa"), col("__sbb")).as("__co"))
    def pside(side: String, idCol: String) =
      proj.select(col("vec_id").as(idCol), col("j"),
        col("pq").as(s"__p$side"))
    val pd = edges
      .join(pside("a", "id_a"), Seq("id_a")).join(pside("b", "id_b"),
        Seq("id_b", "j"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__pa") * col("__pb")).as("__sab"),
        sum(col("__pa") * col("__pa")).as("__saa"),
        sum(col("__pb") * col("__pb")).as("__sbb"))
      .select(col("id_a"), col("id_b"),
        qcos(col("__sab"), col("__saa"), col("__sbb")).as("__cp"))
    od.join(pd, Seq("id_a", "id_b"))
      .select(abs(col("__cp") - col("__co")).as("__ad"))
      .agg(count(lit(1)).as("n_pairs"),
        (d(sum(col("__ad"))) / d(count(lit(1))) / lit(1.0e6))
          .as("mean_abs_distortion"),
        (d(max(col("__ad"))) / lit(1.0e6)).as("max_abs_distortion"))
  }

  /** 80/20 hash split: train iff md5(tag # id) mod 10 < 8. */
  private def trainFlag(idc: Column): Column =
    (conv(substring(md5(concat_ws("#", lit("split"), idc.cast("string"))),
      1, 15), 16, 10).cast("long") % 10) < 8

  /** Naive vs cluster-aware split leakage report. */
  private[graft] def leakageSplit(s: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val reps = docs.join(
        Chains.DupClusters(s, dir)
          .select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("__rep"))
      .withColumn("__tn", trainFlag(col("doc_id")))
      .withColumn("__ta", trainFlag(col("__rep")))
    val pairs = Chains.MinhashPairs(s, dir)
      .select(col("id_a"), col("id_b"))
    def flagOf(idCol: String, side: String) =
      reps.select(col("doc_id").as(idCol), col("__tn").as(s"__tn$side"),
        col("__ta").as(s"__ta$side"))
    val pj = pairs.join(broadcast(flagOf("id_a", "a")), Seq("id_a"))
      .join(broadcast(flagOf("id_b", "b")), Seq("id_b"))
    val pstats = pj.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("__tna") =!= col("__tnb"), 1L).otherwise(0L))
        .as("cross_naive"),
      sum(when(col("__taa") =!= col("__tab"), 1L).otherwise(0L))
        .as("cross_aware"))
    val dstats = reps.agg(count(lit(1)).as("n_docs"),
      sum(when(col("__tn"), 1L).otherwise(0L)).as("train_naive"),
      sum(when(col("__ta"), 1L).otherwise(0L)).as("train_aware"))
    dstats.crossJoin(broadcast(pstats))
      .select(col("n_docs"), col("train_naive"), col("train_aware"),
        col("n_pairs"), col("cross_naive"), col("cross_aware"))
  }

  val defs: Map[String, Q] = Map(
    "q_rp_distortion" -> ((s, dir) => rpDistortion(s, dir)),
    "q_leakage_split" -> ((s, dir) => leakageSplit(s, dir)))

  val oracle: Map[String, String] = Map(
    "q_rp_distortion" ->
      s"""WITH ${Breadth43.knnEdgesSql},
         |pe AS (
         |  SELECT vec_id,
         |    unnest(range(1, 65)) AS pos,
         |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
         |      + 0.5) AS BIGINT) AS xq
         |  FROM embeddings),
         |sg AS (
         |  SELECT p.pos, j.j,
         |    CASE WHEN ('0x' || substr(md5('rp#' || CAST(p.pos AS VARCHAR)
         |      || '#' || CAST(j.j AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
         |    THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(generate_series(1, 64)) AS pos) p,
         |       (SELECT unnest(generate_series(1, $RpOutDims)) AS j) j),
         |proj AS (
         |  SELECT pe.vec_id, sg.j, CAST(sum(sg.s * pe.xq) AS BIGINT) AS pq
         |  FROM pe JOIN sg ON sg.pos = pe.pos
         |  GROUP BY 1, 2),
         |od AS (
         |  SELECT ed.id_a, ed.id_b,
         |    CAST(floor(CAST(CAST(sum(a.xq * b.xq) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(a.xq * a.xq) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(b.xq * b.xq) AS BIGINT) AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS co
         |  FROM edges ed
         |  JOIN pe a ON a.vec_id = ed.id_a
         |  JOIN pe b ON b.vec_id = ed.id_b AND b.pos = a.pos
         |  GROUP BY 1, 2),
         |pd AS (
         |  SELECT ed.id_a, ed.id_b,
         |    CAST(floor(CAST(CAST(sum(a.pq * b.pq) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(a.pq * a.pq) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(b.pq * b.pq) AS BIGINT) AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS cp
         |  FROM edges ed
         |  JOIN proj a ON a.vec_id = ed.id_a
         |  JOIN proj b ON b.vec_id = ed.id_b AND b.j = a.j
         |  GROUP BY 1, 2),
         |ad AS (
         |  SELECT abs(pd.cp - od.co) AS ad
         |  FROM od JOIN pd ON pd.id_a = od.id_a AND pd.id_b = od.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(CAST(sum(ad) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_abs_distortion,
         |  CAST(max(ad) AS DOUBLE) / 1000000.0 AS max_abs_distortion
         |FROM ad""".stripMargin,

    "q_leakage_split" ->
      s"""WITH RECURSIVE pairs AS (${Extensions.minhashPairsSql}),
         |uedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM uedges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN uedges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS doc_id, least(min(dst), src) AS rep
         |  FROM reach GROUP BY src),
         |reps AS (
         |  SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |fl AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)),
         |      1, 15))::BIGINT % 10 < 8 AS tn,
         |    ('0x' || substr(md5('split#' || CAST(rep AS VARCHAR)),
         |      1, 15))::BIGINT % 10 < 8 AS ta
         |  FROM reps),
         |ps AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN fa.tn <> fb.tn THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cross_naive,
         |    CAST(sum(CASE WHEN fa.ta <> fb.ta THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cross_aware
         |  FROM pairs
         |  JOIN fl fa ON fa.doc_id = pairs.id_a
         |  JOIN fl fb ON fb.doc_id = pairs.id_b),
         |ds AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN tn THEN 1 ELSE 0 END) AS BIGINT)
         |      AS train_naive,
         |    CAST(sum(CASE WHEN ta THEN 1 ELSE 0 END) AS BIGINT)
         |      AS train_aware
         |  FROM fl)
         |SELECT n_docs, train_naive, train_aware, n_pairs, cross_naive,
         |  cross_aware
         |FROM ds, ps""".stripMargin)
}
