package graft.queries

import graft.Tables
import graft.store.Memo
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-seventy-first wave — BURROWS' DELTA stylometry: the
  * attribution-grade distance between sources built from z-scored
  * relative frequencies of the corpus's top function words. The data-
  * pipeline use: detecting that two "different" crawl feeds are the
  * same generator behind two domains (style, not content, is what
  * survives paraphrase).
  *
  *  - **q_stylo_profile**: the z-score profile — per (source, top-5
  *    token): scaled relative frequency and its cross-source z-score.
  *  - **q_burrows_delta**: Delta over the top-20 tokens for every
  *    source pair, 10 most similar pairs first (the duplicate-feed
  *    suspect list).
  *
  * Exact-parity discipline: relative frequencies are quantized to
  * integer 1e-6 units via (c·1e6) div n BEFORE any cross-source
  * statistic, so means/variances are exact integer sums:
  * var numerator = S·Σf² − (Σf)² ≤ S²·1e12 (int64 headroom to
  * S ≈ 3e3 sources); |z_a − z_b| = S·|f_a − f_b| / sqrt(S·Σf² −(Σf)²)
  * is one IEEE-exact sqrt and one division; Delta quantizes each of
  * the 20 terms to 1e-9 units before the order-free BIGINT sum.
  * Zero-variance tokens contribute 0 (guarded both engines).
  *
  * Scale shape: one token×source hash aggregate, a broadcast top-20
  * token list, then all statistics live on the |sources|·20 grid —
  * the pair matrix is |sources|² over a 20-row reduce, metadata-sized
  * until sources reach ~10⁵ (then: band sources by LSH of their
  * z-profiles — documented knob, same shape as the MinHash tier).
  */
object Breadth170 {

  private[graft] val TopTokens = 20
  private[graft] val ProfileTokens = 5
  private[graft] val TopPairs = 10

  /** (source, token) scaled frequencies for the top-M tokens
    * (internal). ONE corpus-wide tokenize+explode pass: the
    * (source, tok) count table is aggregated first and persisted, and
    * the top-M list, per-source totals, and dense cells are all derived
    * from it (round-11 verdict: the previous shape consumed the raw
    * token explode from three independent aggregates, paying three full
    * tokenize passes per run — the slowest line of the whole bench). The
    * derived numbers are identical: summing per-(source, tok) counts
    * per tok (or per source) is the same integer as counting the raw
    * explode. */
  private[graft] def freqGrid(docs: DataFrame, m: Int): DataFrame = {
    // store-backed, not persist: four derived reads below, and the
    // public facade would otherwise leak one cached frame per call.
    // Through the PLAN-KEYED memo, not a bare Memo.write
    // (ADVICE, round 14): the bare write created a fresh un-memoized
    // parquet dir on EVERY call — unbounded temp-disk growth plus a
    // blocking corpus-wide tokenize per call in a long-lived session.
    val cells = Memo(docs, "freq_cells") {
      docs.select(col("source"),
        explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("__n"))
    }
    val top = cells.groupBy(col("tok")).agg(sum(col("__n")).as("__tc"))
      .orderBy(col("__tc").desc, col("tok").asc).limit(m)
      .select(col("tok").as("__ttok"))
    val srcTot = cells.groupBy(col("source"))
      .agg(sum(col("__n")).as("__ns"))
      .select(col("source").as("__src2"), col("__ns"))
    val cell = cells.join(broadcast(top), col("tok") === col("__ttok"))
      .select(col("source"), col("tok"), col("__n").as("__c"))
    // the grid must be DENSE: absent (source, token) cells carry f = 0
    val grid = srcTot.crossJoin(broadcast(top))
      .join(cell,
        cell("source") === col("__src2") && cell("tok") === col("__ttok"),
        "left")
      .select(col("__src2").as("source"), col("__ttok").as("tok"),
        coalesce(col("__c"), lit(0L)).as("__c"), col("__ns"))
    grid.withColumn("f1e6", expr("(__c * 1000000) div __ns"))
      .select(col("source"), col("tok"), col("f1e6"))
  }

  /** Cross-source z-scores on the grid (internal). */
  private[graft] def zGrid(docs: DataFrame, m: Int): DataFrame = {
    val g = freqGrid(docs, m)
    val byTok = Window.partitionBy(col("tok"))
    g.withColumn("__s", count(lit(1)).over(byTok))
      .withColumn("__sf", sum(col("f1e6")).over(byTok))
      .withColumn("__sf2", sum(col("f1e6") * col("f1e6")).over(byTok))
      .withColumn("__varnum",
        col("__s") * col("__sf2") - col("__sf") * col("__sf"))
      .withColumn("z",
        when(col("__varnum") <= 0, lit(0.0)).otherwise(
          (col("__s") * col("f1e6") - col("__sf")).cast("double") /
            sqrt((col("__s") * col("__varnum")).cast("double"))))
  }

  /** Per-source z-profile for the top-5 tokens. */
  private[graft] def styloProfile(docs: DataFrame): DataFrame =
    zGrid(docs, ProfileTokens)
      .select(col("source"), col("tok"), col("f1e6"), col("z"))
      .orderBy(col("source").asc, col("tok").asc)

  /** Burrows' Delta pair table, most similar first. */
  private[graft] def burrowsDelta(docs: DataFrame): DataFrame = {
    val z = zGrid(docs, TopTokens)
      .select(col("source"), col("tok"), col("z"))
    val a = z.select(col("source").as("src_a"), col("tok"),
      col("z").as("__za"))
    val b = z.select(col("source").as("src_b"), col("tok").as("__tokb"),
      col("z").as("__zb"))
    a.join(b, col("tok") === col("__tokb") && col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        floor(abs(col("__za") - col("__zb")) * lit(1.0e9) + lit(0.5))
          .cast("long").as("__tq"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("__m"), sum(col("__tq")).as("__sq"))
      .select(col("src_a"), col("src_b"),
        (col("__sq").cast("double") /
          (col("__m") * lit(1000000000L)).cast("double")).as("delta"))
      .orderBy(col("delta").asc, col("src_a").asc, col("src_b").asc)
      .limit(TopPairs)
  }

  val defs: Map[String, Q] = Map(
    "q_stylo_profile" -> ((s, dir) =>
      styloProfile(Tables.documents(s, dir))),
    "q_burrows_delta" -> ((s, dir) =>
      burrowsDelta(Tables.documents(s, dir))))

  /** z-grid CTE chain for m tokens (no leading WITH), shared. */
  private def zSql(m: Int): String =
    s"""toks AS (
       |  SELECT source, unnest(${Extensions.sqlTokens("text")}) AS tok
       |  FROM documents),
       |top AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS tc FROM toks GROUP BY tok)
       |  ORDER BY tc DESC, tok LIMIT $m),
       |st AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS ns
       |  FROM toks GROUP BY source),
       |cell AS (
       |  SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS c
       |  FROM toks t JOIN top ON t.tok = top.tok
       |  GROUP BY t.source, t.tok),
       |grid AS (
       |  SELECT st.source, top.tok,
       |    (coalesce(cell.c, 0) * 1000000) // st.ns AS f
       |  FROM st CROSS JOIN top
       |  LEFT JOIN cell ON cell.source = st.source
       |    AND cell.tok = top.tok),
       |zg AS (
       |  SELECT source, tok, f,
       |    CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS s,
       |    CAST(sum(f) OVER (PARTITION BY tok) AS BIGINT) AS sf,
       |    CAST(sum(f * f) OVER (PARTITION BY tok) AS BIGINT) AS sf2
       |  FROM grid),
       |zz AS (
       |  SELECT source, tok, f,
       |    CASE WHEN s * sf2 - sf * sf <= 0 THEN 0.0
       |      ELSE CAST(s * f - sf AS DOUBLE)
       |        / sqrt(CAST(s * (s * sf2 - sf * sf) AS DOUBLE)) END AS z
       |  FROM zg)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_stylo_profile" ->
      s"""WITH ${zSql(ProfileTokens)}
         |SELECT source, tok, CAST(f AS BIGINT) AS f1e6, z
         |FROM zz
         |ORDER BY source, tok""".stripMargin,

    "q_burrows_delta" ->
      s"""WITH ${zSql(TopTokens)}
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(sum(CAST(floor(abs(a.z - b.z) * 1.0e9 + 0.5) AS BIGINT))
         |    AS DOUBLE) / CAST(count(*) * 1000000000 AS DOUBLE) AS delta
         |FROM zz a JOIN zz b
         |  ON a.tok = b.tok AND a.source < b.source
         |GROUP BY a.source, b.source
         |ORDER BY delta, src_a, src_b
         |LIMIT $TopPairs""".stripMargin)
}
