package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-eighth wave — centroid-proxy hard-negative mining for
  * contrastive training data.
  *
  *  - **q_hard_negatives**: for every vector, the most-confusable
  *    OTHER label by cosine to that label's exact centroid, emitted as
  *    the global top 20 hardest (highest proxy cosine) anchors. The
  *    proxy makes the search LINEAR: |V|·|labels| centroid comparisons
  *    (centroids broadcast), never the |V|² cross-label square a
  *    literal hard-negative scan would need. Exactness: centroids are
  *    the 1e-6-quantized per-dim means (the q_label_centroids
  *    discipline), every per-dim product is floor-quantized BEFORE the
  *    64-term sum (the q_isotropy discipline), so no float
  *    accumulation order exists and the ranking is integer-exact.
  *
  * Scale shape: one posexplode pass over the corpus, a broadcast
  * |labels|×|dims| centroid table, a per-(vector, label) 64-row
  * aggregate, one rank-1 window per vector, TakeOrdered top-k. */
object Breadth107 {

  private val TopK = 20

  /** Global top-k hardest centroid-proxy negatives. */
  private[graft] def hardNegatives(emb: DataFrame,
                                   k: Int = TopK): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), col("label"),
        (col("__p0") + 1).cast("long").as("pos"), q6(col("__x")).as("__xq"))
    val cent = e.groupBy(col("label").as("__cl"), col("pos").as("__cp"))
      .agg(sum(col("__xq")).as("__cs"), count(lit(1)).as("__cn"))
    val terms = e.join(broadcast(cent),
        col("pos") === col("__cp") && col("label") =!= col("__cl"))
      .withColumn("__c", d(col("__cs")) / d(col("__cn")) / lit(1.0e6))
      .withColumn("__xd", d(col("__xq")) / lit(1.0e6))
      .select(col("vec_id"), col("label"), col("__cl").as("neg_label"),
        q6(col("__xd") * col("__c")).as("__vc"),
        q6(col("__xd") * col("__xd")).as("__vv"),
        q6(col("__c") * col("__c")).as("__cc"))
    val per = terms.groupBy(col("vec_id"), col("label"), col("neg_label"))
      .agg(sum(col("__vc")).as("__svc"), sum(col("__vv")).as("__svv"),
        sum(col("__cc")).as("__scc"))
      .select(col("vec_id"), col("label"), col("neg_label"),
        q6(d(col("__svc")) /
          (sqrt(d(col("__svv"))) * sqrt(d(col("__scc"))))).as("__cosq"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__cosq").desc, col("neg_label").asc)
    per.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("label"), col("neg_label"),
        (d(col("__cosq")) / lit(1.0e6)).as("proxy_cos"))
      .orderBy(col("proxy_cos").desc, col("vec_id").asc)
      .limit(k)
  }

  val defs: Map[String, Q] = Map(
    "q_hard_negatives" -> ((s, dir) =>
      hardNegatives(Tables.embeddings(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_hard_negatives" ->
      s"""WITH e AS (
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
         |  SELECT vec_id, label, cl AS neg_label,
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
         |  FROM e JOIN cent ON pos = cp AND label <> cl),
         |per AS (
         |  SELECT vec_id, label, neg_label,
         |    CAST(floor(CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(vv) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(cc) AS BIGINT) AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS cosq
         |  FROM terms GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT vec_id, label, neg_label, cosq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosq DESC, neg_label) AS rn
         |    FROM per)
         |  WHERE rn = 1)
         |SELECT vec_id, label, neg_label,
         |  CAST(cosq AS DOUBLE) / 1000000.0 AS proxy_cos
         |FROM best ORDER BY proxy_cos DESC, vec_id LIMIT $TopK""".stripMargin)
}
