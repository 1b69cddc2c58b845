package graft.queries

import graft.Tables
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-third wave — retrieval scoring and embedding geometry.
  *
  *  - **q_bm25**: BM25(k1=1.2, b=0.75) of every document against the
  *    fixed query {scan, join, window}, top 20 — tf from the shared
  *    whitespace tokenizer, idf 1e-6-QUANTIZED to int64 (the corpus
  *    log-quantization discipline, so the only cross-engine
  *    transcendental is floored away), the three term contributions
  *    summed in FIXED textual order.
  *  - **q_dim_stats**: per-dimension mean/σ of the embedding corpus —
  *    elements quantized to 1e-6 int64 so the per-dim moment sums are
  *    order-free exact; one divide + sqrt at emit. The feature-scaling
  *    ("whitening") statistics a training pipeline precomputes.
  *  - **q_isotropy**: how directionally concentrated the corpus is —
  *    per-vector cosine to the EXACT mean vector (centroid from the
  *    same quantized per-dim sums), each per-dim product itself
  *    quantized before the 64-term sum so no float accumulation order
  *    exists anywhere; emits n / mean / min / max cosine.
  *
  * Scale shape: BM25 is one corpus-stats broadcast row + a map-only
  * score; dim stats are a |dims|-bounded aggregate over the exploded
  * corpus; isotropy joins the broadcast 64-row centroid and reduces
  * per-vector — no pairwise anything. */
object Breadth102 {

  // both exactly representable in binary, so the DuckDB DECIMAL-literal
  // → DOUBLE promotion and the JVM constant agree bit-for-bit
  private val K1 = 1.25
  private val B = 0.75
  private val Terms = Seq("scan", "join", "window")
  private val TopK = 20

  /** BM25 top-k against the fixed three-term query. */
  private[graft] def bm25(docs: DataFrame, textCol: String,
                          k: Int = TopK): DataFrame = {
    val toks = docs.select(col("doc_id"), Text.tokens(col(textCol)).as("__t"))
      .withColumn("__len", size(col("__t")).cast("long"))
    val withTf = Terms.zipWithIndex.foldLeft(toks) { case (d, (t, i)) =>
      d.withColumn(s"__tf$i",
        size(filter(col("__t"), x => x === lit(t))).cast("long"))
    }
    val stats = withTf.agg(
      count(lit(1)).as("__nd"),
      sum(col("__len")).as("__sl"),
      sum(when(col("__tf0") > 0, 1L).otherwise(0L)).as("__df0"),
      sum(when(col("__tf1") > 0, 1L).otherwise(0L)).as("__df1"),
      sum(when(col("__tf2") > 0, 1L).otherwise(0L)).as("__df2"))
    def idfQ(df: Column, n: Column): Column =
      q6(log((d(n) - d(df) + lit(0.5)) / (d(df) + lit(0.5)) + lit(1.0)))
    def contrib(tf: Column, idf: Column, len: Column, nd: Column,
                sl: Column): Column = {
      val avg = d(sl) / d(nd)
      d(idf) * (d(tf) * lit(K1 + 1.0) /
        (d(tf) + lit(K1) * (lit(1.0 - B) + lit(B) * d(len) / avg)))
    }
    withTf.crossJoin(broadcast(stats))
      .withColumn("__score",
        (contrib(col("__tf0"), idfQ(col("__df0"), col("__nd")), col("__len"),
          col("__nd"), col("__sl")) +
          contrib(col("__tf1"), idfQ(col("__df1"), col("__nd")), col("__len"),
            col("__nd"), col("__sl")) +
          contrib(col("__tf2"), idfQ(col("__df2"), col("__nd")), col("__len"),
            col("__nd"), col("__sl"))) / lit(1.0e6))
      .filter(col("__score") > 0)
      .select(col("doc_id"), col("__len").as("doc_len"),
        col("__tf0").as("tf_scan"), col("__tf1").as("tf_join"),
        col("__tf2").as("tf_window"), col("__score").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  /** (vec_id, pos 1-based, 1e-6-quantized element) exploded corpus. */
  private def dims(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("__p0", "__x")))
      .select(col("vec_id"), (col("__p0") + 1).cast("long").as("pos"),
        q6(col("__x")).as("__xq"))

  /** Per-dimension mean and σ from exact quantized moments. */
  private[graft] def dimStats(emb: DataFrame): DataFrame = {
    dims(emb).groupBy(col("pos"))
      .agg(count(lit(1)).as("__n"), sum(col("__xq")).as("__s"),
        sum(col("__xq") * col("__xq")).as("__q"))
      .select(col("pos"), col("__n").as("n_vecs"),
        (d(col("__s")) / d(col("__n")) / lit(1.0e6)).as("mean"),
        (sqrt((d(col("__n")) * d(col("__q")) - d(col("__s")) * d(col("__s"))) /
          (d(col("__n")) * d(col("__n") - 1L))) / lit(1.0e6)).as("sd"))
      .orderBy(col("pos").asc)
  }

  /** Cosine-to-centroid spread: n, mean (1e-6-quantized), min, max. */
  private[graft] def isotropy(emb: DataFrame): DataFrame = {
    val e = dims(emb)
    // centroid dim d = s_d / n — carried as the exact pair (s_d, n)
    val cent = e.groupBy(col("pos").as("__cp"))
      .agg(sum(col("__xq")).as("__cs"), count(lit(1)).as("__cn"))
    // per-dim quantized products against the centroid (scale cancels in
    // the cosine ratio); each term is floor-quantized BEFORE the sum
    val terms = e.join(broadcast(cent), col("pos") === col("__cp"))
      .withColumn("__c", d(col("__cs")) / d(col("__cn")) / lit(1.0e6))
      .withColumn("__x", d(col("__xq")) / lit(1.0e6))
      .select(col("vec_id"),
        q6(col("__x") * col("__c")).as("__vc"),
        q6(col("__x") * col("__x")).as("__vv"),
        q6(col("__c") * col("__c")).as("__cc"))
    val per = terms.groupBy(col("vec_id"))
      .agg(sum(col("__vc")).as("__svc"), sum(col("__vv")).as("__svv"),
        sum(col("__cc")).as("__scc"))
      .select(q6(d(col("__svc")) /
        (sqrt(d(col("__svv"))) * sqrt(d(col("__scc"))))).as("__cosq"))
    per.agg(count(lit(1)).as("n_vecs"),
      (d(sum(col("__cosq"))) / d(count(lit(1))) / lit(1.0e6))
        .as("mean_cos"),
      (d(min(col("__cosq"))) / lit(1.0e6)).as("min_cos"),
      (d(max(col("__cosq"))) / lit(1.0e6)).as("max_cos"))
  }

  val defs: Map[String, Q] = Map(
    "q_bm25" -> ((s, dir) => bm25(Tables.documents(s, dir), "text")),
    "q_dim_stats" -> ((s, dir) => dimStats(Tables.embeddings(s, dir))),
    "q_isotropy" -> ((s, dir) => isotropy(Tables.embeddings(s, dir))))

  private val TokSql =
    "regexp_split_to_array(regexp_replace(lower(trim(text)), " +
      "'\\s+', ' ', 'g'), ' ')"
  private def tfSql(t: String) =
    s"CAST(len(list_filter($TokSql, x -> x = '$t')) AS BIGINT)"
  private def idfSql(df: String) =
    s"""CAST(floor(ln((CAST(nd AS DOUBLE) - CAST($df AS DOUBLE) + 0.5)
       |    / (CAST($df AS DOUBLE) + 0.5) + 1.0) * 1000000.0 + 0.5)
       |  AS BIGINT)""".stripMargin
  private def contribSql(tf: String, df: String) =
    s"""CAST(${idfSql(df)} AS DOUBLE) * (CAST($tf AS DOUBLE) * 2.25
       |  / (CAST($tf AS DOUBLE) + 1.25 * (0.25 + 0.75
       |    * CAST(len AS DOUBLE) / (CAST(sl AS DOUBLE)
       |      / CAST(nd AS DOUBLE)))))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bm25" ->
      s"""WITH tf AS (
         |  SELECT doc_id, CAST(len($TokSql) AS BIGINT) AS len,
         |    ${tfSql("scan")} AS tf0, ${tfSql("join")} AS tf1,
         |    ${tfSql("window")} AS tf2
         |  FROM documents),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(len) AS BIGINT) AS sl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df2
         |  FROM tf),
         |sc AS (
         |  SELECT doc_id, len AS doc_len, tf0 AS tf_scan, tf1 AS tf_join,
         |    tf2 AS tf_window,
         |    (${contribSql("tf0", "df0")}
         |      + ${contribSql("tf1", "df1")}
         |      + ${contribSql("tf2", "df2")}) / 1000000.0 AS bm25
         |  FROM tf CROSS JOIN st)
         |SELECT * FROM sc WHERE bm25 > 0
         |ORDER BY bm25 DESC, doc_id LIMIT $TopK""".stripMargin,

    "q_dim_stats" ->
      """WITH d AS (
        |  SELECT vec_id,
        |    unnest(range(1, 65)) AS pos,
        |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
        |      + 0.5) AS BIGINT) AS xq
        |  FROM embeddings),
        |g AS (
        |  SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xq) AS BIGINT) AS s,
        |    CAST(sum(xq * xq) AS BIGINT) AS q
        |  FROM d GROUP BY 1)
        |SELECT CAST(pos AS BIGINT) AS pos, n AS n_vecs,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
        |  sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 1000000.0
        |    AS sd
        |FROM g ORDER BY 1""".stripMargin,

    "q_isotropy" ->
      """WITH d AS (
        |  SELECT vec_id,
        |    unnest(range(1, 65)) AS pos,
        |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0
        |      + 0.5) AS BIGINT) AS xq
        |  FROM embeddings),
        |cent AS (
        |  SELECT pos, CAST(sum(xq) AS BIGINT) AS cs,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM d GROUP BY 1),
        |terms AS (
        |  SELECT vec_id,
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
        |  FROM d JOIN cent USING (pos)),
        |per AS (
        |  SELECT CAST(floor(CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(CAST(sum(vv) AS BIGINT) AS DOUBLE))
        |      * sqrt(CAST(CAST(sum(cc) AS BIGINT) AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS cosq
        |  FROM terms GROUP BY vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(CAST(sum(cosq) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_cos,
        |  CAST(min(cosq) AS DOUBLE) / 1000000.0 AS min_cos,
        |  CAST(max(cosq) AS DOUBLE) / 1000000.0 AS max_cos
        |FROM per""".stripMargin)
}
