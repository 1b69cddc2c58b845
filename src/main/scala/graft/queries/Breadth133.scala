package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hundred-thirty-fourth wave — **q_split_balance**: stratification QA
  * for the leakage-safe split (Breadth122): per (split, language) the
  * document count, the split's internal language share, and the
  * absolute deviation from that language's corpus share — the check
  * that hash-splitting by dup-cluster representative did not skew the
  * language mix (a skew here silently shifts the eval distribution).
  * The split assignment is the IDENTICAL md5-by-representative rule
  * q_leakage_split uses, restated through the shared cluster chain.
  *
  * Scale shape: the cluster closure is the memoized chain; the rest is
  * two |langs|-bounded aggregates and one broadcast corpus-share
  * join. */
object Breadth133 {

  private def d(x: Column): Column = x.cast("double")

  private def trainFlag(idc: Column): Column =
    (conv(substring(md5(concat_ws("#", lit("split"), idc.cast("string"))),
      1, 15), 16, 10).cast("long") % 10) < 8

  private[graft] def splitBalance(s: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val flagged = docs.join(
        Chains.DupClusters(s, dir)
          .select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(trainFlag(coalesce(col("cluster_id"), col("doc_id"))),
          lit("train")).otherwise(lit("test")).as("split"))
    val cell = flagged.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val splitTot = cell.groupBy(col("split")).agg(sum(col("n_docs")).as("__st"))
    val langTot = cell.groupBy(col("lang")).agg(sum(col("n_docs")).as("__lt"))
    val corpus = cell.agg(sum(col("n_docs")).as("__ct"))
    cell.join(broadcast(splitTot), Seq("split"))
      .join(broadcast(langTot), Seq("lang"))
      .crossJoin(broadcast(corpus))
      .select(col("split"), col("lang"), col("n_docs"),
        (d(col("n_docs")) / d(col("__st"))).as("split_share"),
        abs(d(col("n_docs")) / d(col("__st")) -
          d(col("__lt")) / d(col("__ct"))).as("abs_skew"))
      .orderBy(col("split").asc, col("lang").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_split_balance" -> ((s, dir) => splitBalance(s, dir)))

  val oracle: Map[String, String] = Map(
    "q_split_balance" ->
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
         |fl AS (
         |  SELECT d.doc_id, d.lang,
         |    CASE WHEN ('0x' || substr(md5('split#'
         |      || CAST(COALESCE(l.rep, d.doc_id) AS VARCHAR)),
         |      1, 15))::BIGINT % 10 < 8 THEN 'train' ELSE 'test' END
         |      AS split
         |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |cell AS (
         |  SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM fl GROUP BY 1, 2),
         |st AS (SELECT split, CAST(sum(n_docs) AS BIGINT) AS stot
         |  FROM cell GROUP BY 1),
         |lt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS ltot
         |  FROM cell GROUP BY 1),
         |ct AS (SELECT CAST(sum(n_docs) AS BIGINT) AS ctot FROM cell)
         |SELECT cell.split, cell.lang, cell.n_docs,
         |  CAST(cell.n_docs AS DOUBLE) / CAST(st.stot AS DOUBLE)
         |    AS split_share,
         |  abs(CAST(cell.n_docs AS DOUBLE) / CAST(st.stot AS DOUBLE)
         |    - CAST(lt.ltot AS DOUBLE)
         |      / CAST((SELECT ctot FROM ct) AS DOUBLE)) AS abs_skew
         |FROM cell
         |JOIN st ON st.split = cell.split
         |JOIN lt ON lt.lang = cell.lang
         |ORDER BY cell.split, cell.lang""".stripMargin)
}
