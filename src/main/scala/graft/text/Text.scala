package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extensions:
  * normalization, tokenization, shingling, fingerprinting, language-ID and
  * quality scoring — all pure `Column` expressions (whole-stage codegen,
  * no UDFs), each with an exact DuckDB-SQL mirror used by the oracle.
  *
  * Cross-engine parity rules baked in here:
  *  - normalize BEFORE splitting so split semantics (trailing empties)
  *    never diverge;
  *  - fingerprints/hashes via `md5` (identical hex on Spark and DuckDB)
  *    rather than engine-native hash functions;
  *  - only order-insensitive set ops over distinct shingle arrays
  *    (DuckDB's `list_distinct` does not preserve order).
  */
object Text {

  /** lower + trim + collapse all whitespace runs to single spaces. */
  def norm(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(norm(c), " ")

  /** token count. */
  def nTokens(c: Column): Column = size(tokens(c))

  /** BPE-ish subword-shaped token count: runs of letters, runs of digits,
    * or single non-alphanumeric non-space chars — the standard pre-tokenizer
    * shape (mirrors `regexp_extract_all` in DuckDB). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles (with duplicates) of the normalized text.
    * Short docs (< n tokens) yield one whole-doc shingle. Native
    * single-scan expression (graft.functions.WordShingles) — the
    * transform(sequence)+slice+concat_ws formulation allocates a token
    * array plus a string per position and dominated the dedup pipelines. */
  def shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Bridge.expression(norm(c)), n, distinct = false))

  /** Distinct shingle set (order-insensitive use only). */
  def shingleSet(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Bridge.expression(norm(c)), n, distinct = true))

  /** Canonical content fingerprint: md5 of the normalized text — the key
    * for exact dedup at any scale (hash-groupBy; identical in DuckDB). */
  def fingerprint(c: Column): Column = md5(norm(c))

  /** 64-bit token hash as a raw bit pattern: md5 hex[1..8] in bits
    * 32..63, hex[9..16] in bits 0..31. The shiftleft wraps into the sign
    * bit for high halves ≥ 2³¹ — intentional; consumers treat the long
    * as 64 BITS, never as a magnitude. (DuckDB mirror works in the two
    * 32-bit halves separately — `('0x'||substr(md5(t),1,8))::BIGINT` and
    * `('0x'||substr(md5(t),9,8))::BIGINT` — because DuckDB's `<<`
    * overflow-checks; bit j≥32 of this value is bit j−32 of the hi
    * half, so half-wise bit tests agree across engines.) */
  def tokenHash64(c: Column): Column =
    shiftleft(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), 32) +
      conv(substring(md5(c), 9, 8), 16, 10).cast("long")

  /** 60-bit string hash (15 hex chars of md5 — fits int64 in any engine). */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Character k-grams of the normalized text, positional (one per start
    * offset; trailing grams clip at the end, <k-char docs yield one). */
  def charGrams(c: Column, k: Int): Column = {
    val s = norm(c)
    transform(sequence(lit(1), greatest(length(s) - lit(k - 1), lit(1))),
      i => s.substr(i, lit(k)))
  }

  /** [[charGrams]] over an ALREADY-NORMALIZED string column. Use when
    * the caller can materialize `norm` once (withColumn) — inlining
    * `norm` inside the transform lambda re-runs the regex per gram
    * position, turning an O(len) explode into O(len²) regex work
    * (measured 15× on the trigram profile at sf0.1; the same trap
    * [[gramHashes]]' caution documents for windows). */
  def charGramsRaw(s: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(s) - lit(k - 1), lit(1))),
      i => s.substr(i, lit(k)))

  /** Per-position gram hashes for winnowing. CAUTION: materialize this
    * into its own column (withColumn) before windowing over it — inlining
    * it inside the window transform re-evaluates the whole gram hashing
    * per window position (O(n²) md5 per document). */
  def gramHashes(c: Column, k: Int): Column =
    transform(charGrams(c, k), g => hash60(g))

  /** Winnowing document fingerprints (the MOSS scheme) over an ALREADY
    * MATERIALIZED gram-hash array column: the MIN hash of each sliding
    * window of `w` consecutive gram hashes, deduped. Guarantees any
    * shared substring of length >= k + w - 1 between two docs yields a
    * shared fingerprint — the rolling-hash fingerprinting primitive for
    * plagiarism/near-dup detection, over engine-portable md5 hashes. */
  def winnowFromHashes(hs: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(hs) - lit(w - 1), lit(1))),
      i => array_min(slice(hs, i, lit(w)))))

  /** Language marker words. The scorer counts marker hits per language and
    * argmaxes — a (uni)gram heuristic; ties break by language code asc. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "es", "los"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** marker hits for one language = count of tokens ∈ markers. */
  def markerHits(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers.map(lit): _*)))

  /** Predicted language: argmax marker hits (ties → lexicographically
    * smaller code), 'und' when no marker hits at all. */
  def langId(c: Column): Column = {
    val maxHits = greatest(
      langMarkers.toSeq.sortBy(_._1).map { case (_, ms) => markerHits(c, ms) }: _*)
    val cascade = langMarkers.toSeq.sortBy(_._1).foldRight(lit("und")) {
      case ((code, ms), acc) =>
        when(markerHits(c, ms) === maxHits, lit(code)).otherwise(acc)
    }
    // foldRight builds: when(en==max,'en') else when(de==max,...) — order
    // by sorted code asc means the FIRST match wins → smallest code.
    when(maxHits > 0, cascade).otherwise(lit("und"))
  }

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "is", "in", "to", "it")

  /** stopword_ratio = stopword tokens / tokens. */
  def stopwordRatio(c: Column): Column =
    markerHits(c, stopwords).cast("double") / nTokens(c)

  /** punctuation ratio: chars that are not [a-z0-9 ] after lowering. */
  def punctRatio(c: Column): Column =
    (length(lower(c)) - length(regexp_replace(lower(c), "[^a-z0-9 ]", "")))
      .cast("double") / greatest(length(c), lit(1))

  /** distinct-token ratio — crude repetitiveness signal. */
  def distinctTokenRatio(c: Column): Column =
    size(array_distinct(tokens(c))).cast("double") / nTokens(c)

  /** Composite quality score in [0,1]: length saturation × (1 − punct) ×
    * distinct-token ratio. Deterministic, codegen-only. */
  def qualityScore(c: Column): Column =
    least(nTokens(c).cast("double") / lit(100.0), lit(1.0)) *
      (lit(1.0) - punctRatio(c)) * distinctTokenRatio(c)
}
