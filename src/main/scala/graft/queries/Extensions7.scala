package graft.queries

import graft.Tables
import graft.text.Text
import org.apache.spark.sql.functions._

/** Seventh batch of training-data-pipeline operators — the corpus- and
  * vocabulary-profiling set that decides tokenizer and mixture policy
  * before a run:
  *
  *  - cross-source near-dup overlap matrix (which source pairs share
  *    content — the per-source view of contamination, over the SAME
  *    memoized verified pairs and nestable oracle CTE as the dedup
  *    family);
  *  - BPE-style merge candidates: corpus-wide adjacent-token-pair
  *    counts, the statistic the first BPE training iteration maximizes
  *    — one explode + one aggregate, top candidates under a TOTAL
  *    order (count desc, pair asc) so the cut is engine-independent;
  *  - vocabulary coverage curve: cumulative token share of the top-k
  *    vocabulary at k = 10/100/1000 — the "how big must the vocab be"
  *    sizing curve, a ranked cumulative window over the token-count
  *    aggregate (corpus-sized explode, vocab-sized window);
  *  - embedding norm QC: the vector-hygiene screen (zero / degenerate /
  *    out-of-family norms) run before any ANN index build; norms are
  *    sequential double folds (sqrt is IEEE-exact), bucketed by floor —
  *    the same bit-exact discipline as the cosine family.
  */
object Extensions7 {

  /** Vocabulary cut points for the coverage curve. */
  private val CoverageKs = Seq(10, 100, 1000)

  val defs: Map[String, Q] = Map(
    // Near-dup overlap by source pair: verified pairs → each endpoint's
    // source → unordered (source_a <= source_b) cell counts. The pairs
    // frame is memoized (shared with the dedup family); the source
    // lookup is a broadcast-sized dimension join at any scale (sources
    // are few even when docs are billions).
    "q_cross_source_overlap" -> ((s, dir) => {
      val pairs = Chains.MinhashPairs(s, dir)
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
          Seq("id_b"))
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a").asc, col("source_b").asc)
    }),

    // BPE merge candidates: count every adjacent token pair, keep the
    // top 20 under (count desc, pair asc) — a total order, so the limit
    // cut is deterministic in both engines. The explode is corpus-sized
    // (unavoidable — it IS the statistic); the aggregate is map-side
    // partial (hash agg on the pair string) and the top-k is
    // TakeOrdered, never a global sort.
    "q_bigram_merges" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(Text.tokens(col("text")).as("toks"))
        .select(explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), " +
            "(t, i) -> concat(t, ' ', toks[i + 1]))")).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    }),

    // Vocabulary coverage: rank tokens by frequency (total order:
    // count desc, token asc), then report the cumulative share of all
    // token occurrences covered by the top-k vocab at each cut point.
    // The window runs over the VOCAB-sized aggregate, not the corpus;
    // the share is one identical-operand integer division (bit-exact,
    // no rounding needed).
    "q_vocab_coverage" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token").asc)
      val total = counts.agg(sum(col("n")).as("total"))
      counts
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_tokens",
          sum(col("n")).over(w.rowsBetween(Long.MinValue, 0)))
        .filter(col("rank").isin(CoverageKs: _*))
        .crossJoin(total)
        .select(col("rank").as("k"), col("cum_tokens"),
          (col("cum_tokens").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy(col("k").asc)
    }),

    // Hapax profile: per doc, how many of its token occurrences are
    // corpus hapax legomena (tokens whose TOTAL corpus count is exactly
    // 1 — each contributes exactly one occurrence, to exactly one doc).
    // High hapax ratio marks OCR garbage / codes / mojibake; near-zero
    // marks boilerplate. One corpus-sized explode shared by both
    // aggregates, a vocab-sized hapax set, a semi join back — work ∝
    // corpus tokens + vocab, never corpus². The ratio is an
    // identical-operand integer division (bit-exact, unrounded).
    "q_hapax" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      val hapax = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") === 1)
        .select(col("token"))
      val perDoc = tok.join(hapax, Seq("token"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hapax"))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(Text.tokens(col("text"))).as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
        .withColumn("hapax_ratio",
          col("n_hapax").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("doc_id").asc)
    }),

    // Embedding norm QC: per quarter-unit norm bucket, vector count and
    // exact norm extrema, plus degenerate-vector flags (zero norm, any
    // non-finite component). dot(v,v) is the sequential double fold
    // (bit-matched to DuckDB's list_dot_product on DOUBLE[]); sqrt and
    // floor are IEEE-exact, so the bucket id is engine-independent.
    "q_embed_qc" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .withColumn("dot",
          expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
        .withColumn("norm", sqrt(col("dot")))
        .withColumn("bad",
          expr("exists(v, x -> isnan(x) OR abs(x) = cast('Infinity' AS double))"))
        .groupBy(floor(col("norm") * 4).as("norm_bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"),
          sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"))
        .orderBy(col("norm_bucket").asc)
    }))

  val oracle: Map[String, String] = Map(
    "q_cross_source_overlap" ->
      s"""WITH pairs AS (${Extensions.minhashPairsSql}),
         |j AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b)
         |SELECT source_a, source_b, count(*) AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_bigram_merges" ->
      s"""WITH t AS (SELECT ${Extensions.sqlTokens("text")} AS toks FROM documents),
         |b AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
         |  FROM t)
         |SELECT pair, count(*) AS n FROM b
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT unnest(${Extensions.sqlTokens("text")}) AS token FROM documents),
         |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         |r AS (
         |  SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token) AS rank,
         |    sum(n) OVER (ORDER BY n DESC, token
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM c),
         |tot AS (SELECT sum(n) AS total FROM c)
         |SELECT CAST(rank AS INTEGER) AS k,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |  CAST(cum_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share
         |FROM r, tot WHERE rank IN (${CoverageKs.mkString(", ")})
         |ORDER BY k""".stripMargin,

    "q_hapax" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${Extensions.sqlTokens("text")}) AS token
         |  FROM documents),
         |hapax AS (
         |  SELECT token FROM tok GROUP BY token HAVING count(*) = 1),
         |per_doc AS (
         |  SELECT doc_id, count(*) AS n_hapax FROM tok
         |  WHERE token IN (SELECT token FROM hapax) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(${Extensions.sqlTokens("text")}) AS INTEGER) AS n_tokens,
         |  CAST(coalesce(p.n_hapax, 0) AS BIGINT) AS n_hapax,
         |  CAST(coalesce(p.n_hapax, 0) AS DOUBLE)
         |    / CAST(len(${Extensions.sqlTokens("text")}) AS INTEGER)
         |    AS hapax_ratio
         |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_embed_qc" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm,
        |    len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0 AS bad
        |  FROM e)
        |SELECT CAST(floor(nrm * 4) AS BIGINT) AS norm_bucket,
        |  count(*) AS n_vecs, min(nrm) AS min_norm, max(nrm) AS max_norm,
        |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)
}
