package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Sixth batch of training-data-pipeline operators — the crawl-cleaning
  * set every web-scale corpus passes through before anything else runs:
  *
  *  - HTML boilerplate strip (tag removal + markup-ratio features),
  *    tested against CLOSED-FORM truth: the markup is injected
  *    deterministically in-query, so the oracle states each output from
  *    the generation rule — the engine's regex path is checked against
  *    ground truth, not against another regex engine's quirks;
  *  - URL canonicalization dedup (case-fold host, strip `www.`, drop
  *    query/fragment) — the first-pass crawl dedup that collapses
  *    tracking-parameter and host-case variants of one page before any
  *    content hashing happens;
  *  - blocked fuzzy matching (edit-distance entity resolution): the
  *    (brand, size) blocking key turns the O(n²) all-pairs distance
  *    matrix into per-block joins — Σ block², the same shape as the LSH
  *    band join — and the codegen `levenshtein` runs only inside
  *    blocks;
  *  - near-dup graph degree profile over the SAME memoized verified
  *    pairs the dedup family shares (and the same nestable oracle CTE,
  *    so the parameter sets cannot drift) — the corpus-health histogram
  *    that distinguishes "a few giant mirror clusters" from "diffuse
  *    pairwise noise" before a keep-one policy is chosen.
  */
object Extensions6 {

  /** Chars of pure markup injected around a wrapped doc (the tags of
    * `<html><body><h1>T</h1><p>text</p><div class="x">ad</div></body>
    * </html>` — everything except the visible "T", "ad", and the text
    * itself). Stated as a literal so the oracle and the comment agree;
    * the spec recomputes it from the template. */
  val MarkupChars = 63

  /** Visible chars the wrapper adds besides the doc text ("T" + "ad"). */
  val WrapperTextChars = 3

  val defs: Map[String, Q] = Map(
    // HTML strip: docs with doc_id % 4 == 0 arrive wrapped in markup;
    // one codegen regexp_replace removes every tag run. Emitted
    // features are the ones a cleaning pipeline filters on: whether
    // markup was present, how many chars of it, and the visible-text
    // size after stripping. Map-only — no shuffle, the scan streams.
    "q_html_strip" -> ((s, dir) => {
      val wrapped = when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("<html><body><h1>T</h1><p>"), col("text"),
          lit("</p><div class=\"x\">ad</div></body></html>")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .withColumn("raw", wrapped)
        .withColumn("stripped", graft.text.Web.stripTags(col("raw")))
        .select(col("doc_id"),
          (pmod(col("doc_id"), lit(4)) === 0).as("had_markup"),
          (length(col("raw")) - length(col("stripped"))).as("markup_chars"),
          length(col("stripped")).as("stripped_chars"))
        .orderBy(col("doc_id").asc)
    }),

    // URL canonicalization dedup: five consecutive doc ids share one
    // logical page behind host-case / tracking-query / fragment
    // variants; the canonicalizer (lower host, strip leading "www.",
    // drop query + fragment) must collapse each group to ONE canonical
    // URL. The parser is the engine's codegen `parse_url`; the oracle
    // states the canonical form and group sizes CLOSED FORM from the
    // generation rule (within a group every raw variant is distinct —
    // ids differ mod 2/3/7 inside a 5-run — so n_variants = n_docs).
    "q_url_dedup" -> ((s, dir) => {
      val url = concat(
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("HTTPS://WWW.Example.COM")).otherwise(lit("https://example.com")),
        lit("/p/"), expr("doc_id div 5").cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("?utm_source=feed&utm_campaign=x"))
          .otherwise(concat(lit("?sess="), pmod(col("doc_id"), lit(7)).cast("string"))),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("#top")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canonical", graft.text.Web.canonicalUrl(col("url")))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_variants"),
          min(col("doc_id")).as("keep_doc"))
        .orderBy(col("canonical").asc)
    }),

    // Blocked fuzzy match: edit-distance histogram of part-name pairs
    // within (brand, size) blocks. The blocking key bounds the join —
    // distance runs per block pair, never all-pairs — and the output is
    // the per-distance pair count (scale-stable: the histogram exists
    // at every SF, where any fixed pair-level threshold is empty at one
    // SF and unbounded at another). d = 0 rows are exact name dupes;
    // the low-d tail is the fuzzy-merge candidate set.
    "q_fuzzy_match" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"))
      val a = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("key_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("key_b"), col("p_name").as("name_b"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("key_a") < col("key_b"))
        .select(levenshtein(col("name_a"), col("name_b")).as("dist"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("dist").asc)
    }),

    // Near-dup graph degree profile: how many verified near-dup
    // neighbors each doc has, histogrammed. Reads the memoized pairs
    // frame (built once per session+dir, shared with q_dedup_minhash /
    // q_dedup_apply / q_dedup_clusters), so the marginal cost is two
    // key-sized aggregates.
    "q_graph_degree" -> ((s, dir) => {
      val pairs = Chains.MinhashPairs(s, dir)
      pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("degree").asc)
    }))

  val oracle: Map[String, String] = Map(
    // Closed form from the injection rule: stripping recovers "T" +
    // text + "ad" for wrapped docs (the tag chars count is the fixed
    // template overhead), the text itself otherwise.
    "q_html_strip" ->
      s"""SELECT doc_id,
         |  doc_id % 4 = 0 AS had_markup,
         |  CAST(CASE WHEN doc_id % 4 = 0 THEN $MarkupChars ELSE 0 END
         |    AS INTEGER) AS markup_chars,
         |  CAST(length(text) + CASE WHEN doc_id % 4 = 0
         |    THEN $WrapperTextChars ELSE 0 END AS INTEGER) AS stripped_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Canonical form and group sizes restated from the generation rule
    // (ids grouped by doc_id // 5; see the query comment for why every
    // raw variant inside a group is distinct).
    "q_url_dedup" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS k FROM documents)
        |SELECT 'https://example.com/p/' || CAST(k AS VARCHAR) AS canonical,
        |  count(*) AS n_docs, count(*) AS n_variants,
        |  min(doc_id) AS keep_doc
        |FROM g GROUP BY k ORDER BY canonical""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  count(*) AS n_pairs
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_degree" ->
      s"""WITH pairs AS (${Extensions.minhashPairsSql}),
         |deg AS (
         |  SELECT doc_id, count(*) AS degree FROM (
         |    SELECT id_a AS doc_id FROM pairs
         |    UNION ALL SELECT id_b FROM pairs)
         |  GROUP BY doc_id)
         |SELECT degree, count(*) AS n_docs FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin)
}
