package graft.queries

import graft.Tables
import graft.store.Memo
import graft.text.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth batch of training-data-pipeline operators — the corpus-hygiene
  * set: sub-document exact span dedup (the C4 move, corpus-global),
  * count-min-sketch heavy hitters (fixed-memory frequency estimation with
  * the estimate's guarantee bound-asserted per row), a Bloom-filter
  * membership prescreen (the sub-linear contamination gate, false
  * positives measured against the exact answer), and per-source quota
  * capping. All hashes are md5-derived (the only cross-engine-identical
  * hash — parity rules), all ratios are raw divisions of identical
  * integer operands.
  */
object Extensions4 {

  /** Span length (tokens) for sub-document dedup — non-overlapping, so a
    * doc of T tokens yields ceil(T/8) spans (tail span short). */
  private val SpanTokens = 8

  /** Count-min sketch geometry: d independent hash rows × w buckets.
    * Error bound: est ≤ true + (N/w) per row, overestimate-only. */
  private val CmsRows = 4
  private val CmsBuckets = 256

  /** Bloom screen geometry: k bit positions per key in an m-bit space. */
  private val BloomBits = 4096
  private val BloomHashes = 3
  private val ShingleLen = 3

  /** Deterministic bucket in [0, m) from (key, seed): md5 of "key#seed",
    * first 15 hex digits (60 bits — exact in an int64) mod m. DuckDB
    * mirror: `('0x'||substr(md5(key||'#'||seed),1,15))::BIGINT % m`. */
  private def hashBucket(key: org.apache.spark.sql.Column,
                         seed: org.apache.spark.sql.Column, m: Int) =
    pmod(conv(substring(md5(concat_ws("#", key, seed.cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(m.toLong))
  private def sqlHashBucket(key: String, seed: String, m: Int) =
    s"('0x' || substr(md5($key || '#' || CAST($seed AS VARCHAR)), 1, 15))::BIGINT % $m"

  /** Per-token exact counts over the corpus, memoized per (session,
    * corpus) through the memo store — q_heavy_hitters
    * consumes it twice (sketch build + probe set) and repeat
    * invocations must not each pin a fresh persisted copy. */
  private[graft] def tokenCounts(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame =
    Memo(Tables.documents(s, dir), "tokcounts") {
      Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
    }

  val defs: Map[String, Q] = Map(
    // Corpus-global exact SPAN dedup (C4-style, at the sub-document
    // grain): docs split into non-overlapping 8-token spans; a span seen
    // earlier anywhere in the corpus (first occurrence = lowest
    // (doc_id, span_idx)) is dropped everywhere else. Shapes for 100 TB:
    // spans hash to 32-byte md5 BEFORE the shuffle (the window partitions
    // by hash — span text never moves), and first-occurrence is a
    // row_number per hash, not a self-join. Output is the per-doc
    // retention ledger the curation pipeline acts on.
    "q_span_dedup" -> ((s, dir) => {
      val L = SpanTokens
      val spans = Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("span_idx",
          explode(sequence(lit(0L), expr(s"(n_tokens + ${L - 1}) div $L - 1"))))
        .select(col("doc_id"), col("span_idx"),
          md5(concat_ws(" ",
            slice(col("toks"), (col("span_idx") * L + 1).cast("int"), lit(L))))
            .as("h"))
      val w = Window.partitionBy(col("h"))
        .orderBy(col("doc_id").asc, col("span_idx").asc)
      spans.withColumn("__rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_spans").cast("double"))
            .as("kept_ratio"))
        .orderBy(col("doc_id").asc)
    }),

    // Count-min-sketch heavy hitters: the fixed-memory answer to "what
    // are the hot tokens" when the vocabulary won't fit anywhere. The
    // sketch is d×w counters (mergeable across partitions/days — the
    // reason it exists); est(tok) = min over rows of its bucket counter,
    // an OVERESTIMATE by construction. Report: top-20 true-heavy tokens
    // with their estimate and the guarantee `est >= true` bound-asserted
    // per row (the oracle recomputes both sides exactly — same trick as
    // q_approx_distinct). Sketch builds from the per-token partials
    // (|vocab| rows), not re-exploded occurrences.
    "q_heavy_hitters" -> ((s, dir) => {
      // counts feeds BOTH the sketch build and the top-20 probe set —
      // a memoized persist so the token explode + aggregate runs once,
      // not twice, AND repeat invocations reuse one cached frame (a
      // bare per-call persist() leaked a new cached frame per build for
      // the session lifetime; graft.store.Memo is the shared bounded
      // store every other materialized intermediate already uses)
      val counts = tokenCounts(s, dir)
      val cms = counts
        .withColumn("r", explode(sequence(lit(0), lit(CmsRows - 1))))
        .withColumn("bucket", hashBucket(col("tok"), col("r"), CmsBuckets))
        .groupBy(col("r"), col("bucket")).agg(sum("true_n").as("cnt"))
      val top = counts.orderBy(col("true_n").desc, col("tok").asc).limit(20)
      top.withColumn("r", explode(sequence(lit(0), lit(CmsRows - 1))))
        .withColumn("bucket", hashBucket(col("tok"), col("r"), CmsBuckets))
        .join(cms, Seq("r", "bucket"))
        .groupBy(col("tok"), col("true_n"))
        .agg(min(col("cnt")).as("est_n"))
        .select(col("tok"), col("true_n"), col("est_n"),
          (col("est_n") >= col("true_n")).as("ok"))
        .orderBy(col("true_n").desc, col("tok").asc)
    }),

    // Bloom-filter membership prescreen — the sub-linear front gate of
    // the contamination check: train shingles set k=3 md5-derived bits in
    // an m=4096-bit space; a probe shingle is bloom-positive iff ALL its
    // k positions are set. At scale the bit set is a fixed-size broadcast
    // (here: a distinct-positions join — same semantics, engine picks the
    // physical form); only bloom-positives proceed to the exact (and
    // expensive) verification. Output per probe doc: shingle totals,
    // bloom positives, exact members, measured false positives, and the
    // no-false-NEGATIVES guarantee bound-asserted (`n_bloom_pos >=
    // n_exact` — the property that makes a Bloom prefilter sound).
    "q_bloom_screen" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val trainSh = docs
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(explode(Text.shingleSet(col("text"), ShingleLen)).as("sh"))
        .distinct()
      val bits = trainSh
        .withColumn("j", explode(sequence(lit(0), lit(BloomHashes - 1))))
        .select(hashBucket(col("sh"), col("j"), BloomBits).as("pos"))
        .distinct()
      val probeSh = docs.filter(col("source") === "src10")
        .select(col("doc_id"), explode(Text.shingleSet(col("text"), ShingleLen)).as("sh"))
      val bloomPos = probeSh
        .withColumn("j", explode(sequence(lit(0), lit(BloomHashes - 1))))
        .withColumn("pos", hashBucket(col("sh"), col("j"), BloomBits))
        .join(bits, Seq("pos"), "left_semi")
        .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("k_hit"))
        .filter(col("k_hit") === BloomHashes)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom_pos"))
      val exact = probeSh.join(trainSh, Seq("sh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
      probeSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        .join(bloomPos, Seq("doc_id"), "left_outer")
        .join(exact, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_bloom_pos"), lit(0L)).as("n_bloom_pos"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (coalesce(col("n_bloom_pos"), lit(0L)) -
            coalesce(col("n_exact"), lit(0L))).as("n_fp"),
          (coalesce(col("n_bloom_pos"), lit(0L)) >=
            coalesce(col("n_exact"), lit(0L))).as("ok"))
        .orderBy(col("doc_id").asc)
    }),

    // Per-source quota cap — the "no domain dominates the corpus" rule
    // (per-domain caps in web-crawl curation): keep at most 15 docs per
    // source, preferring the largest (n_chars, doc_id tiebreak), and
    // report the kept/dropped ledger per source. The rank is a window
    // partitioned BY SOURCE — distributed, and at 100 TB exactly the
    // per-key top-N that WindowGroupLimit prunes to N per partition
    // before the shuffle.
    "q_domain_cap" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("__rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__rn") <= 15, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("__rn") <= 15, col("n_chars"))).as("chars_kept"))
        .orderBy(col("source").asc)
    }))

  val oracle: Map[String, String] = Map(
    "q_span_dedup" -> {
      val L = SpanTokens
      s"""WITH t AS (
         |  SELECT doc_id, ${Extensions.sqlTokens("text")} AS toks FROM documents),
         |idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range((len(toks) + ${L - 1}) // $L)) AS span_idx
         |  FROM t),
         |sp AS (
         |  SELECT doc_id, span_idx,
         |    md5(array_to_string(
         |      list_slice(toks, span_idx * $L + 1, span_idx * $L + $L), ' ')) AS h
         |  FROM idx),
         |r AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY h
         |    ORDER BY doc_id, span_idx) AS rn
         |  FROM sp)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS kept_ratio
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(${Extensions.sqlTokens("text")}) AS tok FROM documents),
         |counts AS (SELECT tok, count(*) AS true_n FROM toks GROUP BY tok),
         |seeded AS (
         |  SELECT tok, true_n, unnest(range($CmsRows)) AS r FROM counts),
         |cms AS (
         |  SELECT r, ${sqlHashBucket("tok", "r", CmsBuckets)} AS bucket,
         |    CAST(sum(true_n) AS BIGINT) AS cnt
         |  FROM seeded GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, true_n FROM counts
         |  ORDER BY true_n DESC, tok LIMIT 20),
         |probes AS (
         |  SELECT tok, true_n, unnest(range($CmsRows)) AS r FROM top),
         |pb AS (
         |  SELECT tok, true_n, r,
         |    ${sqlHashBucket("tok", "r", CmsBuckets)} AS bucket
         |  FROM probes),
         |est AS (
         |  SELECT p.tok, p.true_n, min(c.cnt) AS est_n
         |  FROM pb p JOIN cms c ON p.r = c.r AND p.bucket = c.bucket
         |  GROUP BY 1, 2)
         |SELECT tok, true_n, est_n, est_n >= true_n AS ok
         |FROM est ORDER BY true_n DESC, tok""".stripMargin,

    "q_bloom_screen" ->
      s"""WITH tr AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(${Extensions.sqlShingleSet("text", ShingleLen)}) AS sh
         |    FROM documents
         |    WHERE source IN ('src0','src1','src2','src3','src4'))),
         |bits AS (
         |  SELECT DISTINCT ${sqlHashBucket("sh", "j", BloomBits)} AS pos
         |  FROM (SELECT sh, unnest(range($BloomHashes)) AS j FROM tr)),
         |ps AS (
         |  SELECT doc_id, unnest(${Extensions.sqlShingleSet("text", ShingleLen)}) AS sh
         |  FROM documents WHERE source = 'src10'),
         |pp AS (
         |  SELECT doc_id, sh, ${sqlHashBucket("sh", "j", BloomBits)} AS pos
         |  FROM (SELECT doc_id, sh, unnest(range($BloomHashes)) AS j FROM ps)),
         |hit AS (
         |  SELECT doc_id, sh, count(*) AS k_hit FROM pp
         |  WHERE pos IN (SELECT pos FROM bits) GROUP BY 1, 2),
         |bp AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_pos
         |  FROM hit WHERE k_hit = $BloomHashes GROUP BY 1),
         |ex AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact FROM ps
         |  WHERE sh IN (SELECT sh FROM tr) GROUP BY 1),
         |tot AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM ps GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles,
         |  coalesce(b.n_bloom_pos, 0) AS n_bloom_pos,
         |  coalesce(e.n_exact, 0) AS n_exact,
         |  coalesce(b.n_bloom_pos, 0) - coalesce(e.n_exact, 0) AS n_fp,
         |  coalesce(b.n_bloom_pos, 0) >= coalesce(e.n_exact, 0) AS ok
         |FROM tot t
         |LEFT JOIN bp b USING (doc_id)
         |LEFT JOIN ex e USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "q_domain_cap" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 15 THEN n_chars END) AS BIGINT) AS chars_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin)
}
