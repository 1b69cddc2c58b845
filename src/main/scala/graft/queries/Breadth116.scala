package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-seventeenth wave — embedding label-quality metrics, both
  * LINEAR via centroids (never pairwise).
  *
  *  - **q_label_purity**: per label, the share of members whose
  *    highest-cosine centroid is their OWN label, plus the mean own
  *    cosine and the mean margin (own − best other). Cosines on the
  *    q_isotropy quantized-product discipline, so the argmax is
  *    integer-exact.
  *  - **q_silhouette_lite**: the centroid-form simplified silhouette
  *    per label — s = (b − a)/max(a, b) with a = own-centroid cosine
  *    DISTANCE (1 − cos), b = best-other distance, each per-vector s
  *    1e-6-quantized before the per-label mean.
  *
  * Scale shape: one posexplode pass, a broadcast |labels|×|dims|
  * centroid table, |V|·|labels| bounded comparisons — the pairwise
  * silhouette's |V|² never appears. */
object Breadth116 {

  /** Per-(vector, label) quantized cosine to every label centroid,
    * with the own/other flag. */
  private def vecCentroidCos(emb: DataFrame): DataFrame = {
    // spread the corpus across the executor slots BEFORE the ×dims
    // ×labels explode-join: a single-file parquet scan otherwise runs
    // the 12.8M-row join + partial agg on 1-2 partitions
    val e = emb.repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), col("label"),
        (col("__p0") + 1).cast("long").as("pos"), q6(col("__x")).as("__xq"))
    val cent = e.groupBy(col("label").as("__cl"), col("pos").as("__cp"))
      .agg(sum(col("__xq")).as("__cs"), count(lit(1)).as("__cn"))
    val terms = e.join(broadcast(cent), col("pos") === col("__cp"))
      .withColumn("__c", d(col("__cs")) / d(col("__cn")) / lit(1.0e6))
      .withColumn("__xd", d(col("__xq")) / lit(1.0e6))
      .select(col("vec_id"), col("label"), col("__cl"),
        q6(col("__xd") * col("__c")).as("__vc"),
        q6(col("__xd") * col("__xd")).as("__vv"),
        q6(col("__c") * col("__c")).as("__cc"))
    terms.groupBy(col("vec_id"), col("label"), col("__cl"))
      .agg(sum(col("__vc")).as("__svc"), sum(col("__vv")).as("__svv"),
        sum(col("__cc")).as("__scc"))
      .select(col("vec_id"), col("label"), col("__cl"),
        q6(d(col("__svc")) /
          (sqrt(d(col("__svv"))) * sqrt(d(col("__scc"))))).as("__cosq"))
  }

  /** Per-vector own cosine + best-other cosine (ties by label asc).
    * The |V|·|labels| cos table is materialized ONCE — the own and
    * best-other branches below would otherwise each re-run the
    * |V|·|dims|·|labels| explode-join (measured 19×/24× super-linear
    * at the sf1 step before the checkpoint). */
  private def ownVsBest(emb: DataFrame): DataFrame = {
    val vc = vecCentroidCos(emb).localCheckpoint(true)
    val own = vc.filter(col("label") === col("__cl"))
      .select(col("vec_id"), col("label"), col("__cosq").as("__own"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__cosq").desc, col("__cl").asc)
    val other = vc.filter(col("label") =!= col("__cl"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id").as("__v2"), col("__cosq").as("__best"))
    own.join(other, col("vec_id") === col("__v2"))
  }

  /** Purity share, mean own cosine, mean margin per label. */
  private[graft] def labelPurity(emb: DataFrame): DataFrame =
    ownVsBest(emb).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__own") > col("__best"), 1L).otherwise(0L))
          .as("__pure"),
        sum(col("__own")).as("__so"),
        sum(col("__own") - col("__best")).as("__sm"))
      .select(col("label"), col("n_vecs"),
        (d(col("__pure")) / d(col("n_vecs"))).as("purity"),
        (d(col("__so")) / d(col("n_vecs")) / lit(1.0e6)).as("mean_own_cos"),
        (d(col("__sm")) / d(col("n_vecs")) / lit(1.0e6)).as("mean_margin"))
      .orderBy(col("label").asc)

  /** Centroid-form simplified silhouette per label. */
  private[graft] def silhouetteLite(emb: DataFrame): DataFrame = {
    val s = ownVsBest(emb)
      .withColumn("__a", lit(1.0e6) - d(col("__own")))  // distances ×1e6
      .withColumn("__b", lit(1.0e6) - d(col("__best")))
      // both distances 0 (a vector sitting on two coincident
      // centroids) is a degenerate tie → s = 0, not a 0/0
      .withColumn("__sq",
        when(greatest(col("__a"), col("__b")) > 0,
          q6((col("__b") - col("__a")) /
            greatest(col("__a"), col("__b")))).otherwise(0L))
    s.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__sq")).as("__ss"))
      .select(col("label"), col("n_vecs"),
        (d(col("__ss")) / d(col("n_vecs")) / lit(1.0e6))
          .as("mean_silhouette"))
      .orderBy(col("label").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_label_purity" -> ((s, dir) =>
      labelPurity(Tables.embeddings(s, dir))),
    "q_silhouette_lite" -> ((s, dir) =>
      silhouetteLite(Tables.embeddings(s, dir))))

  private val OwnBestSql =
    """e AS (
      |  SELECT vec_id, label,
      |    unnest(range(1, 65)) AS pos,
      |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
      |      + 0.5) AS BIGINT) AS xq
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS cl, pos AS cp,
      |    CAST(sum(xq) AS BIGINT) AS cs,
      |    CAST(count(*) AS BIGINT) AS cn
      |  FROM e GROUP BY 1, 2),
      |terms AS (
      |  SELECT vec_id, label, cl,
      |    CAST(floor((CAST(xq AS DOUBLE) / 1000000.0)
      |      * (CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) / 1000000.0)
      |      * 1000000.0 + 0.5) AS BIGINT) AS vc,
      |    CAST(floor((CAST(xq AS DOUBLE) / 1000000.0)
      |      * (CAST(xq AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
      |      AS BIGINT) AS vv,
      |    CAST(floor((CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)
      |        / 1000000.0)
      |      * (CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) / 1000000.0)
      |      * 1000000.0 + 0.5) AS BIGINT) AS cc
      |  FROM e JOIN cent ON pos = cp),
      |per AS (
      |  SELECT vec_id, label, cl,
      |    CAST(floor(CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(CAST(sum(vv) AS BIGINT) AS DOUBLE))
      |        * sqrt(CAST(CAST(sum(cc) AS BIGINT) AS DOUBLE)))
      |      * 1000000.0 + 0.5) AS BIGINT) AS cosq
      |  FROM terms GROUP BY 1, 2, 3),
      |own AS (
      |  SELECT vec_id, label, cosq AS ownq FROM per WHERE label = cl),
      |best AS (
      |  SELECT vec_id, cosq AS bestq FROM (
      |    SELECT vec_id, cosq, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cosq DESC, cl) AS rn
      |    FROM per WHERE label <> cl)
      |  WHERE rn = 1),
      |ob AS (
      |  SELECT own.vec_id, own.label, ownq, bestq
      |  FROM own JOIN best ON own.vec_id = best.vec_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_label_purity" ->
      s"""WITH $OwnBestSql
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN ownq > bestq THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS purity,
         |  CAST(CAST(sum(ownq) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_own_cos,
         |  CAST(CAST(sum(ownq - bestq) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_margin
         |FROM ob GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_silhouette_lite" ->
      s"""WITH $OwnBestSql,
         |sil AS (
         |  SELECT label,
         |    CASE WHEN greatest(1000000.0 - CAST(ownq AS DOUBLE),
         |        1000000.0 - CAST(bestq AS DOUBLE)) > 0 THEN
         |      CAST(floor(((1000000.0 - CAST(bestq AS DOUBLE))
         |          - (1000000.0 - CAST(ownq AS DOUBLE)))
         |        / greatest(1000000.0 - CAST(ownq AS DOUBLE),
         |          1000000.0 - CAST(bestq AS DOUBLE))
         |        * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS sq
         |  FROM ob)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(CAST(sum(sq) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_silhouette
         |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin)
}
