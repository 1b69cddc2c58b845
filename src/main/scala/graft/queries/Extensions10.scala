package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eleventh wave, corpus side — the selection/robustness steps a
  * training-data pipeline runs AFTER scoring and dedup exist:
  *
  *  - exact-count deterministic sampling (build a fixed-size eval set
  *    per source, reproducible on any cluster, no RNG);
  *  - rank-based winsorization (robust per-group statistics that a few
  *    giant or empty documents cannot drag);
  *  - dedup survivorship accounting (what did keep-one actually save,
  *    per source — the report that justifies the dedup bill).
  *
  * All three are integer/string domains end to end (ranks, counts,
  * char sums, md5 hex), so oracle parity is exact by construction; the
  * one division (winsorized mean) uses identical operands.
  */
object Extensions10 {

  /** Exactly-k-per-stratum deterministic sample: rank docs inside each
    * stratum by md5 of the id string (a uniform, engine-portable
    * scramble) and keep the first k. Unlike rate-based sampling
    * (q_mixture, q_stratified_sample) the output size is EXACT, and
    * unlike rand() it is reproducible bit-for-bit on any cluster — the
    * eval-set contract. The rank filter is a per-group top-k: Spark
    * plans it as a WindowGroupLimit, never a full per-group sort
    * materialization. */
  private[graft] def hashSample(df: DataFrame, strataCol: String,
                                idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Rank-based winsorization per group: clamp values to the k-th
    * smallest / k-th largest (deterministic tie-break by id), then
    * aggregate the clamped column. Rank bounds — not percentile
    * arithmetic — so the clamp values are actual data values and the
    * whole computation stays integer; for groups smaller than 2k−1 the
    * crossed bounds are re-ordered (least/greatest), degrading to the
    * median-ish clamp rather than an empty range. One exchange: both
    * rank windows and the group aggregate share the partition key. */
  private[graft] def winsorizedStats(df: DataFrame, grpCol: String,
                                     valCol: String, idCol: String,
                                     k: Int): DataFrame = {
    val asc = Window.partitionBy(col(grpCol))
      .orderBy(col(valCol).asc, col(idCol).asc)
    val desc = Window.partitionBy(col(grpCol))
      .orderBy(col(valCol).desc, col(idCol).desc)
    val grp = Window.partitionBy(col(grpCol))
    df.withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .withColumn("__n", count(lit(1)).over(grp))
      .withColumn("__lo0",
        max(when(col("__ra") === least(lit(k), col("__n")), col(valCol))).over(grp))
      .withColumn("__hi0",
        max(when(col("__rd") === least(lit(k), col("__n")), col(valCol))).over(grp))
      .withColumn("__lo", least(col("__lo0"), col("__hi0")))
      .withColumn("__hi", greatest(col("__lo0"), col("__hi0")))
      .withColumn("__w", greatest(col("__lo"), least(col("__hi"), col(valCol))))
      .groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_docs"),
        min(col("__lo")).as("lo"), max(col("__hi")).as("hi"),
        sum(col("__w")).as("win_sum"),
        (sum(col("__w")).cast("double") / count(lit(1)).cast("double"))
          .as("win_mean"))
  }

  /** Per-source dedup savings: the non-canonical members of every
    * duplicate cluster (canonical = the cluster's min doc id — the same
    * keep-one rule as q_dedup_apply) joined back to the corpus for
    * size accounting. Reads the memoized cluster assignment, so the
    * propagation loop never re-runs for this report. */
  private[graft] def dedupSavings(clusters: DataFrame, docs: DataFrame)
      : DataFrame =
    clusters.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_removed"),
        sum(col("n_chars")).cast("long").as("chars_removed"))

  val defs: Map[String, Q] = Map(
    // Deterministic 5-per-source eval sample.
    "q_hash_sample" -> ((s, dir) =>
      hashSample(Tables.documents(s, dir), "source", "doc_id", k = 5)
        .select(col("source"), col("sample_rank"), col("doc_id"))
        .orderBy(col("source").asc, col("sample_rank").asc)),

    // Winsorized per-language length statistics (k=2): the robust
    // corpus-profile row a handful of giant/empty docs cannot drag.
    "q_winsorize" -> ((s, dir) =>
      winsorizedStats(Tables.documents(s, dir), "lang", "n_chars",
        "doc_id", k = 2)
        .orderBy(col("lang").asc)),

    // What did near-dup keep-one save, per source.
    "q_dup_survivorship" -> ((s, dir) =>
      dedupSavings(Chains.DupClusters(s, dir), Tables.documents(s, dir))
        .orderBy(col("source").asc)))

  val oracle: Map[String, String] = Map(
    "q_hash_sample" ->
      """SELECT source, sample_rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5
        |ORDER BY source, sample_rank""".stripMargin,

    "q_winsorize" ->
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS ra,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id DESC) AS rd,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (
        |  SELECT lang, n_chars,
        |    max(CASE WHEN ra = least(2, n) THEN n_chars END) OVER (PARTITION BY lang) AS lo0,
        |    max(CASE WHEN rd = least(2, n) THEN n_chars END) OVER (PARTITION BY lang) AS hi0
        |  FROM r),
        |c AS (
        |  SELECT lang, least(lo0, hi0) AS lo, greatest(lo0, hi0) AS hi,
        |    greatest(least(lo0, hi0), least(greatest(lo0, hi0), n_chars)) AS w
        |  FROM b)
        |SELECT lang, count(*) AS n_docs, min(lo) AS lo, max(hi) AS hi,
        |  CAST(sum(w) AS BIGINT) AS win_sum,
        |  CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS win_mean
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dup_survivorship" ->
      s"""WITH RECURSIVE pairs AS (${Extensions.minhashPairsSql}),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src),
         |removed AS (
         |  SELECT doc_id FROM labels WHERE least(m, doc_id) <> doc_id)
         |SELECT d.source, count(*) AS n_removed,
         |  CAST(sum(d.n_chars) AS BIGINT) AS chars_removed
         |FROM removed r JOIN documents d ON d.doc_id = r.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin)
}
