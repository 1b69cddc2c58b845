package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-thirty-second wave — **q_knn_eval**: leave-one-out k-NN
  * label evaluation over the embedding corpus — the third label-
  * quality meter beside centroid purity (q_label_purity) and the
  * simplified silhouette: for each of the 50 eval vectors, predict
  * its label by the MAJORITY among its top-5 cosine neighbors
  * (self excluded, ties to the smaller label) and score per-label
  * accuracy. Cosines on the 1e-6-quantized integer-product
  * discipline; neighbor ranks and majority votes are integer-exact.
  *
  * Scale shape: a FIXED eval set (vec_id < 50) keeps the scan
  * |eval|·|V| — linear in the corpus; production swaps the brute
  * neighbor scan for the ANN shortlist with the same vote.
  *
  * Measured on the synthetic corpus: accuracy sits near the 1/20
  * chance line while centroid purity (q_label_purity) reads ~0.4 —
  * i.e. the labels are CENTROID-visible but locally weak (top-1
  * neighbor same-label rate 0.07 vs 0.05 chance, cross-checked in
  * DuckDB). That disagreement between the two meters is the finding
  * the pair exists to surface; the fixture spec pins that tight
  * clusters score 1.0. */
object Breadth131 {

  private val EvalN = 50
  private val KnnK = 5

  private[graft] def knnEval(emb: DataFrame): DataFrame = {
    val e = emb.repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), col("label"),
        (col("__p0") + 1).cast("long").as("pos"), q6(col("__x")).as("xq"))
    val probes = e.filter(col("vec_id") < EvalN)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("pos"), col("xq").as("__xp"))
    val sc = probes.join(e.withColumnRenamed("vec_id", "cand")
        .withColumnRenamed("label", "__cl"), Seq("pos"))
      .filter(col("cand") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("true_label"), col("cand"), col("__cl"))
      .agg(q6(d(sum(col("__xp") * col("xq"))) /
        (sqrt(d(sum(col("__xp") * col("__xp")))) *
          sqrt(d(sum(col("xq") * col("xq")))))).as("__cosq"))
    val wN = Window.partitionBy(col("probe_id"))
      .orderBy(col("__cosq").desc, col("cand").asc)
    val top = sc.withColumn("__rn", row_number().over(wN))
      .filter(col("__rn") <= KnnK)
    val votes = top.groupBy(col("probe_id"), col("true_label"),
        col("__cl")).agg(count(lit(1)).as("__v"))
    val wV = Window.partitionBy(col("probe_id"))
      .orderBy(col("__v").desc, col("__cl").asc)
    val pred = votes.withColumn("__pr", row_number().over(wV))
      .filter(col("__pr") === 1)
      .select(col("probe_id"), col("true_label"),
        col("__cl").as("pred_label"))
    pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_eval"), col("n_correct"),
        (d(col("n_correct")) / d(col("n_eval"))).as("accuracy"))
      .orderBy(col("label").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_knn_eval" -> ((s, dir) => knnEval(Tables.embeddings(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_knn_eval" ->
      s"""WITH pe AS (
         |  SELECT vec_id, label,
         |    unnest(range(1, 65)) AS pos,
         |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
         |      + 0.5) AS BIGINT) AS xq
         |  FROM embeddings),
         |sc AS (
         |  SELECT p.vec_id AS probe_id, p.label AS true_label,
         |    c.vec_id AS cand, c.label AS cl,
         |    CAST(floor(CAST(CAST(sum(p.xq * c.xq) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(CAST(sum(p.xq * p.xq) AS BIGINT) AS DOUBLE))
         |        * sqrt(CAST(CAST(sum(c.xq * c.xq) AS BIGINT) AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS cosq
         |  FROM pe p JOIN pe c ON c.pos = p.pos
         |  WHERE p.vec_id < $EvalN AND c.vec_id <> p.vec_id
         |  GROUP BY 1, 2, 3, 4),
         |top AS (
         |  SELECT probe_id, true_label, cl FROM (
         |    SELECT probe_id, true_label, cl, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosq DESC, cand) AS rn
         |    FROM sc)
         |  WHERE rn <= $KnnK),
         |votes AS (
         |  SELECT probe_id, true_label, cl,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM top GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT probe_id, true_label, cl AS pred_label FROM (
         |    SELECT probe_id, true_label, cl, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY v DESC, cl) AS pr
         |    FROM votes)
         |  WHERE pr = 1)
         |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin)
}
