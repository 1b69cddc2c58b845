package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.text.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second batch of training-data-pipeline operators: eval-set
  * contamination screening and TF-IDF term ranking. Both follow the
  * cross-engine parity discipline of Extensions: md5-free, and every
  * ranked/derived number is integer arithmetic or raw double division of
  * identical operands (bit-exact in any engine) — no rounding, no
  * transcendentals in anything the oracle hashes.
  */
object Extensions2 {

  private val ShingleLen = 3
  // eval set = doc_id < EvalMax, train = the rest (a fixed split keeps
  // the query and oracle in lockstep)
  private val EvalMax = 25
  private val TopTerms = 3
  // a shingle in >= this many docs counts as boilerplate (the corpus's
  // trigram df tops out near 7 per 500 docs, so 4 marks the right tail)
  private val BoilerMinDocs = 4
  // context length for the chunk planner
  private val ChunkTokens = 64L

  val defs: Map[String, Q] = Map(
    // Train/eval contamination: per eval doc, the fraction of its
    // distinct 3-gram shingles present anywhere in the train corpus —
    // the leakage screen run before an eval set is trusted
    // (inverted-index shape, graft.dedup.Dedup.ngramContainment).
    "q_contamination" -> ((s, dir) => {
      Dedup.ngramContainment(Tables.documents(s, dir), "doc_id", "text",
          ShingleLen, col("doc_id") < EvalMax)
        .orderBy(col("doc_id").asc)
    }),

    // Corpus-frequent n-gram boilerplate screening (C4-style repeated-
    // content removal at shingle granularity): per doc, how much of it is
    // shingles seen in >= 4 documents (graft.dedup.Dedup.boilerplateRatio).
    "q_boilerplate" -> ((s, dir) => {
      Dedup.boilerplateRatio(Tables.documents(s, dir), "doc_id", "text",
          ShingleLen, minDocs = BoilerMinDocs)
        .orderBy(col("doc_id").asc)
    }),

    // Document chunking for a fixed context length — the split step
    // before sequence packing: one row per L-token chunk with its token
    // span, emitted by a GENERATOR (explode of a sequence), never a
    // driver loop; the last chunk is short (tok_end clamps to n_tokens).
    // Pure integer arithmetic end to end.
    "q_chunking" -> ((s, dir) => {
      val L = ChunkTokens
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.nTokens(col("text")).cast("long").as("n_tokens"))
        .withColumn("chunk_idx",
          // `div` (integer), not `/` (Divide → double) — the chunk count
          // must stay in the exact integer domain
          explode(sequence(lit(0L), expr(s"(n_tokens + ${L - 1}) div $L - 1"))))
        .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
          (col("chunk_idx") * L).as("tok_start"),
          least(col("n_tokens"), (col("chunk_idx") + 1L) * L).as("tok_end"))
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    }),

    // Cross-modal curation join: embedding near-dup pairs (LSH-
    // prefiltered, the scale path; SAME materialized intermediate as
    // q_embed_neardup — Extensions.embedNearDupPairs) pulled back onto
    // document metadata — the "inspect semantic dup candidates with
    // their provenance" step of corpus curation. vec_id keys the
    // documents row (testdata contract: aligned ids).
    "q_semantic_dedup" -> ((s, dir) => {
      val pairs = Chains.EmbedPairs(s, dir)
      val meta = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("source"))
      pairs
        .join(meta.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
          col("source").as("source_a")), "id_a")
        .join(meta.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
          col("source").as("source_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("cos"),
          col("lang_a"), col("lang_b"),
          (col("source_a") === col("source_b")).cast("int").as("same_source"))
        .orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // Top-3 terms per document by TF-IDF with RATIO idf (tf · N / df):
    // log-idf's mathematically-coincident scores (2·ln10 == ln100) can
    // order differently across engines' libm, while an int-ratio double
    // is bit-identical — same monotone-in-rarity intent, deterministic
    // ranking (score desc, term asc).
    "q_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      // tf feeds BOTH the document-frequency aggregate and the scoring
      // join — persist so the token explode + count runs once, not per
      // consumer (same lifecycle note as the Dedup posting-list caches)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("__n")).cast("double") / col("df").cast("double"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopTerms)
        .select(col("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id").asc, col("rank").asc)
    }))

  val oracle: Map[String, String] = Map(
    "q_contamination" ->
      s"""WITH sets AS (
         |  SELECT doc_id, unnest(${Extensions.sqlShingleSet("text", ShingleLen)}) AS sh
         |  FROM documents),
         |ev AS (SELECT doc_id, sh FROM sets WHERE doc_id < $EvalMax),
         |tr AS (SELECT DISTINCT sh FROM sets WHERE doc_id >= $EvalMax),
         |sz AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id),
         |ht AS (SELECT doc_id, count(*) AS n_contaminated FROM ev
         |  WHERE sh IN (SELECT sh FROM tr) GROUP BY doc_id)
         |SELECT sz.doc_id, n_shingles,
         |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  CAST(coalesce(n_contaminated, 0) AS DOUBLE)
         |    / CAST(n_shingles AS DOUBLE) AS containment
         |FROM sz LEFT JOIN ht ON sz.doc_id = ht.doc_id
         |ORDER BY sz.doc_id""".stripMargin,

    "q_boilerplate" ->
      s"""WITH sets AS (
         |  SELECT doc_id, unnest(${Extensions.sqlShingleSet("text", ShingleLen)}) AS sh
         |  FROM documents),
         |boiler AS (SELECT sh FROM sets GROUP BY sh HAVING count(*) >= $BoilerMinDocs),
         |sz AS (SELECT doc_id, count(*) AS n_shingles FROM sets GROUP BY doc_id),
         |ht AS (SELECT doc_id, count(*) AS n_boilerplate FROM sets
         |  WHERE sh IN (SELECT sh FROM boiler) GROUP BY doc_id)
         |SELECT sz.doc_id, n_shingles,
         |  CAST(coalesce(n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
         |  CAST(coalesce(n_boilerplate, 0) AS DOUBLE)
         |    / CAST(n_shingles AS DOUBLE) AS boilerplate_ratio
         |FROM sz LEFT JOIN ht ON sz.doc_id = ht.doc_id
         |ORDER BY sz.doc_id""".stripMargin,

    // shares Extensions' pairs CTE so threshold/shape cannot drift from
    // the q_embed_neardup oracle
    "q_semantic_dedup" ->
      s"""WITH pairs AS (${Extensions.embedPairsSql})
         |SELECT id_a, id_b, cos,
         |  da.lang AS lang_a, db.lang AS lang_b,
         |  CAST(da.source = db.source AS INTEGER) AS same_source
         |FROM pairs JOIN documents da ON da.doc_id = id_a
         |           JOIN documents db ON db.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    "q_chunking" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(${Extensions.sqlTokens("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  unnest(range(0, (n_tokens + ${ChunkTokens - 1}) // $ChunkTokens)) AS chunk_idx
         |  FROM t)
         |SELECT doc_id, n_tokens, chunk_idx,
         |  chunk_idx * $ChunkTokens AS tok_start,
         |  least(n_tokens, (chunk_idx + 1) * $ChunkTokens) AS tok_end
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Extensions.sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT doc_id, term, tf, df,
         |    CAST(tf * (SELECT count(*) FROM documents) AS DOUBLE)
         |      / CAST(df AS DOUBLE) AS score
         |  FROM tf JOIN df USING (term)),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, tf, df, score FROM ranked
         |WHERE rank <= $TopTerms ORDER BY doc_id, rank""".stripMargin)
}
