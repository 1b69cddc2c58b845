package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.Text
import org.apache.spark.sql.functions._

/** Training-data-pipeline extension operators (the BASELINE.json
  * north star): text analysis, dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), embedding similarity search. All hashes are md5-based
  * so the DuckDB oracle reproduces them exactly; shingle/token pipelines
  * follow the parity rules documented in graft.text.Text.
  */
object Extensions {

  // MinHash/LSH parameters shared by the query and its oracle.
  private[queries] val ShingleLen = 3
  private[queries] val NumHashes = 12
  private[queries] val Bands = 4
  private[queries] val JaccThreshold = 0.8
  // Blocking for the pairwise ops (shared with Extensions2's
  // q_semantic_dedup so the two cannot drift).
  private[graft] val CosThreshold = 0.35

  /** Probe-set size for EVERY brute-force/recall query (the `vec_id <
    * AnnProbes` filter): defined ONCE so the Spark probe filters and the
    * interpolated `bruteRankedSql` literal cannot drift at a distance
    * (ADVICE, round 14 — Breadth141.RecallProbes aliases this). */
  private[graft] val AnnProbes = 10

  /** DuckDB expression mirrors of graft.text.Text (kept adjacent to their
    * Scala twins — drift between the two IS the bug class the oracle
    * catches). */
  private[queries] def sqlNorm(c: String) =
    s"regexp_replace(lower(trim($c)), '\\s+', ' ', 'g')"
  private[queries] def sqlTokens(c: String) =
    s"regexp_split_to_array(${sqlNorm(c)}, ' ')"
  // word n-gram shingles with duplicates; <n tokens → one whole-doc shingle
  private def sqlShingles(c: String, n: Int) =
    s"""list_transform(range(1, greatest(len(${sqlTokens(c)}) - ${n - 2}, 2)),
       | i -> array_to_string(list_slice(${sqlTokens(c)}, i, i + ${n - 1}), ' '))""".stripMargin
  private[queries] def sqlShingleSet(c: String, n: Int) = s"list_distinct(${sqlShingles(c, n)})"

  val defs: Map[String, Q] = Map(
    // ---- text analysis --------------------------------------------------
    "q_text_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
          col("doc_id"),
          length(t).as("len_chars"),
          Text.nTokens(t).as("n_tokens"),
          size(array_distinct(Text.tokens(t))).as("n_distinct_tokens"),
          Text.bpeishTokenCount(t).as("n_bpeish_tokens"))
        .orderBy(col("doc_id").asc)
    }),

    "q_text_quality" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
          col("doc_id"),
          round(Text.stopwordRatio(t), 4).as("stopword_ratio"),
          round(Text.punctRatio(t), 4).as("punct_ratio"),
          round(Text.distinctTokenRatio(t), 4).as("distinct_ratio"),
          round(Text.qualityScore(t), 4).as("quality"))
        .orderBy(col("doc_id").asc)
    }),

    "q_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir).select(
          col("doc_id"), col("lang"),
          Text.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id").asc)
    }),

    // Winnowing (rolling-hash) fingerprints: k-gram hashes → min per
    // sliding window → distinct set; order-insensitive aggregates of the
    // set keep the output scalar for the hash compare.
    "q_winnow" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__hs", graft.text.Text.gramHashes(col("text"), k = 8))
        .withColumn("__fps", graft.text.Text.winnowFromHashes(col("__hs"), w = 8))
        .select(col("doc_id"),
          size(col("__fps")).as("n_fps"),
          array_min(col("__fps")).as("min_fp"),
          array_max(col("__fps")).as("max_fp"))
        .orderBy(col("doc_id").asc)
    }),

    // Content fingerprint + exact dedup annotation (hash-groupBy — the
    // 100 TB-scale exact-dedup primitive: shuffles 32-byte keys, never text).
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDups(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "fp", "canonical_id", "group_size", "is_dup")
        .orderBy(col("doc_id").asc)
    }),

    // MinHash + LSH near-dup pairs, exact-Jaccard verified (shared
    // materialized intermediate — see verifiedPairs).
    "q_dedup_minhash" -> ((s, dir) => {
      Chains.MinhashPairs(s, dir).orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // Sketch-error audit: the signature-ESTIMATED Jaccard (matching
    // signature components / K — what a signatures-only pipeline would
    // act on) against the exact verified Jaccard, per near-dup pair.
    // This is the measurement that decides whether K is big enough to
    // skip the exact-verify pass at scale; with K=12 the estimate is
    // coarse (granularity 1/12), which is exactly what the err column
    // shows. All arithmetic is identical-operand (integer match count /
    // constant; difference of the two doubles) — bit-exact unrounded.
    "q_minhash_est" -> ((s, dir) => {
      val sigs = Chains.MinhashSigs(s, dir)
      val sa = sigs.select(col("doc_id").as("id_a") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sigs.select(col("doc_id").as("id_b") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"b$i")): _*)
      val matches = (0 until NumHashes)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      Chains.MinhashPairs(s, dir)
        .join(sa, Seq("id_a")).join(sb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard").as("exact_j"),
          (matches.cast("double") / lit(NumHashes.toDouble)).as("est_j"))
        .withColumn("err", col("est_j") - col("exact_j"))
        .orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // Pairwise near-dups → duplicate CLUSTERS (connected components via
    // min-label propagation). The query keeps only members of nontrivial
    // clusters, so it reads the graph-nodes-only clusterMembers frame —
    // singletons (the corpus-sized rejoin clusterIds adds) would be
    // filtered right back out.
    "q_dedup_clusters" -> ((s, dir) => {
      Chains.DupClusters(s, dir)
        .filter(col("cluster_id") =!= col("doc_id")) // cluster minima drop too
        .orderBy(col("doc_id").asc)
    }),

    // Probe-vs-corpus exact n-gram Jaccard via inverted shingle index
    // (graft.dedup.Dedup.jaccardProbeAll) — same results as the pairwise
    // definition the oracle states, minus never-materialized 0-overlap
    // pairs (threshold > 0 makes that a pure optimization).
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.jaccardProbeAll(Tables.documents(s, dir), "doc_id", "text",
          ShingleLen, probeMax = 20, minJ = 0.03)
        .orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // SimHash values + hamming near-dup pairs blocked by source.
    // maxHamming 8 of 64 bits: 9 pigeonhole bands of ~7 bits each →
    // in-block collision fraction ≈ 9/128 ≈ 0.07 (the 32-bit form's
    // 7 × ≤5-bit bands collided at ≈ 0.31 — measured quadratic-dominant
    // at sf1). At true warehouse scale the knob is the same: keep d
    // small so bands stay wide (Manku's production setting is d=3 →
    // 4 × 16-bit bands, fraction 6·10⁻⁵).
    // Adaptive entry: the combination-banding block count is derived
    // from the corpus size (Dedup.simhashOperatingPoint), so the d-knob
    // prose above is CODE — the verified pair set is operating-point-
    // invariant, the oracle stays the all-pairs definition.
    "q_simhash" -> ((s, dir) => {
      Dedup.simhashNearDupsAdaptive(Tables.documents(s, dir), "doc_id",
          "text", "source", maxHamming = 8)
        .orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // The PRODUCTION operating point of the same operator: Manku's d=3
    // → 4 pigeonhole bands of 16 bits each, in-block collision fraction
    // ≈ 4/2¹⁶ ≈ 6·10⁻⁵ — the knob that keeps candidate volume linear at
    // fixed band count as the corpus grows (d=8's 7-bit bands were the
    // one measured super-linear cost curve at sf1; same code path, just
    // the tighter hamming bound wide-band blocking is designed for).
    // Exact for its bound: every hamming-≤3 pair is found (pigeonhole),
    // so the d=8→d=3 "recall trade" is precisely the pairs with hamming
    // 4..8 — a threshold choice, not a lost-pair risk.
    "q_simhash_d3" -> ((s, dir) => {
      Dedup.simhashNearDupsAdaptive(Tables.documents(s, dir), "doc_id",
          "text", "source", maxHamming = 3)
        .orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // Quality-threshold filtering — the filter step a pipeline runs after
    // scoring: keep documents at or above the global median quality.
    // Threshold and scores are bit-identical across engines (same
    // arithmetic), so the boundary comparison is stable. The scored frame
    // is persisted: the text pipeline runs ONCE, feeding both the
    // threshold aggregate and the filter side. Exact `percentile` here is
    // the oracle form for small SF; the 100 TB path is
    // qualityFilterScaled below (approx_percentile — fixed-size sketch,
    // no full-value buffering; equality at tight accuracy pinned in
    // ExtensionsSpec).
    "q_quality_filter" -> ((s, dir) => {
      val q = graft.text.Text.qualityScore(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), q.as("quality"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val threshold = scored.agg(expr("percentile(quality, 0.5)").as("__thr"))
      scored.crossJoin(broadcast(threshold))
        .filter(col("quality") >= col("__thr"))
        .select(col("doc_id"), col("lang"), round(col("quality"), 4).as("quality"))
        .orderBy(col("doc_id").asc)
    }),

    // Deterministic stratified sampling: fixed fraction per language via
    // key arithmetic, not RNG — reproducible on any cluster, any run.
    "q_stratified_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) === 0) // every 5th doc per stream
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang").asc)
    }),

    // ---- similarity search ---------------------------------------------
    // Brute-force cosine top-5 for 10 probe vectors (ANN ground truth).
    "q_embed_topk" -> ((s, dir) => {
      Chains.BruteTopK(s, dir).orderBy(col("probe_id").asc, col("rank").asc)
    }),

    // Embedding-cosine near-dup pairs within label blocks (shared
    // materialized intermediate — see embedNearDupPairs).
    "q_embed_neardup" -> ((s, dir) => {
      Chains.EmbedPairs(s, dir).orderBy(col("id_a").asc, col("id_b").asc)
    }),

    // LSH-bucketed ANN (the scale path), emitted as a per-probe recall
    // report vs the in-query brute-force ground truth so the driver
    // oracle checks it (the q_approx_distinct bound-assertion pattern —
    // closes the last rows-only gap from round 2). 16 tables (one
    // OR-amplification rung above the spec's 8-table recall floor) holds
    // per-probe recall at >= 4/5 on the gate SFs with the asserted bound
    // at 3/5.
    "q_embed_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < AnnProbes)
      val ann = Similarity.lshTopK(probes, emb, k = 5,
        numPlanes = 4, numTables = 16)
      Similarity.recallReport(ann, Chains.BruteTopK(s, dir), minHits = 3)
        .orderBy(col("probe_id").asc)
    }),

    // IVF ANN (deterministic Lloyd-trained cells, nProbe search) — same
    // recall-report shape and bound as the LSH query; nProbe=6 of 16
    // cells holds per-probe recall at >= 4/5 on the gate SFs.
    "q_embed_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < AnnProbes)
      val centroids = graft.sim.Ivf.trainCentroids(emb, k = 16, iters = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index = graft.sim.Ivf.buildIndex(emb, centroids)
      val ann = graft.sim.Ivf.ivfTopK(probes, index, centroids,
        nProbe = 6, k = 5)
      Similarity.recallReport(ann, Chains.BruteTopK(s, dir), minHits = 3)
        .orderBy(col("probe_id").asc)
    }),

    // ---- multimodal (stub decode, real plumbing; deterministic
    // synthetic blobs make both aggregates SQL-statable in closed form).
    // Binary dedup over media payloads. The md5 fingerprint itself is an
    // implementation detail DuckDB can't reproduce on constructed blobs,
    // so the oracle-facing columns are the dedup OUTCOME — canonical id,
    // group size, dup flag — whose closed form over the synthetic corpus
    // (payload identity = media_id mod 100) the md5 grouping must land on
    // exactly. Byte-level fp behavior stays pinned in MultimodalSpec.
    "q_media_dedup" -> ((s, _) => {
      graft.multimodal.Multimodal.payloadDedup(
          graft.multimodal.Multimodal.syntheticMedia(s, 300))
        .select("media_id", "canonical_id", "group_size", "is_dup")
        .orderBy(col("media_id").asc)
    }),

    "q_media_meta" -> ((s, _) => {
      val decoded = graft.multimodal.Multimodal.decodeMeta(
        graft.multimodal.Multimodal.syntheticMedia(s, 300))
      decoded.toDF().groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          round(avg("width"), 2).as("avg_w"),
          round(avg("height"), 2).as("avg_h"),
          sum("n_frames").as("total_frames"),
          sum("payload_len").as("total_payload"))
        .orderBy(col("kind").asc)
    }))

  /** Scale path of q_quality_filter: identical pipeline with the median
    * from `approx_percentile` (a bounded-memory KLL-style sketch with
    * mergeable partials) instead of exact `percentile` (a
    * TypedImperativeAggregate that buffers EVERY value — an OOM at
    * 100 TB). `accuracy` trades sketch size for error; at the default
    * 10000 the threshold is exact on corpora below ~10k docs (pinned
    * equal to the exact form in ExtensionsSpec). */
  def qualityFilterScaled(docs: org.apache.spark.sql.DataFrame,
                          accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    val q = graft.text.Text.qualityScore(col("text"))
    val scored = docs.select(col("doc_id"), col("lang"), q.as("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val threshold = scored.agg(
      expr(s"approx_percentile(quality, 0.5, $accuracy)").as("__thr"))
    scored.crossJoin(broadcast(threshold))
      .filter(col("quality") >= col("__thr"))
      .select(col("doc_id"), col("lang"), round(col("quality"), 4).as("quality"))
      .orderBy(col("doc_id").asc)
  }

  // ---- oracle SQL -------------------------------------------------------

  private val minhashSigCols = (0 until NumHashes)
    .map(i => s"min(h1 + $i * h2) AS h$i").mkString(",\n    ")
  private val bandSelects = (0 until Bands).map { b =>
    val cols = (b * (NumHashes / Bands) until (b + 1) * (NumHashes / Bands))
      .map(i => s"h$i").mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band_idx, md5($cols) AS band_key FROM sigs"
  }.mkString("\n  UNION ALL\n  ")

  // 64-bit simhash in the two 32-bit token-hash halves (hvh = md5 hex
  // 1..8 → bits 32..63, hvl = hex 9..16 → bits 0..31): DuckDB's `<<`
  // overflow-checks, so the halves are never combined into one shifted
  // value — each bit sum reads its half directly, and the final value is
  // a sum of disjoint-bit CASE terms (bit 63's term spelled
  // `-9223372036854775807 - 1`; adding it cannot overflow).
  private val simhashBitSums = ((0 until 32)
    .map(j => s"sum(CASE WHEN (hvl >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j") ++
    (32 until 64)
      .map(j => s"sum(CASE WHEN (hvh >> ${j - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"))
    .mkString(",\n    ")
  private val simhashValue = (0 until 64)
    .map(j => s"CASE WHEN b$j > 0 THEN ${
      if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
    } ELSE 0 END")
    .mkString(" + ")

  /** The source-blocked simhash near-dup oracle at hamming bound `d` —
    * shared by q_simhash (d=8) and q_simhash_d3 (the Manku production
    * point): the banding is an exact pigeonhole prefilter, so the
    * oracle is the plain all-pairs self-join at the same bound. */
  private def simhashOracleSql(d: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
       |h AS (SELECT doc_id,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hvh,
       |  ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hvl FROM toks),
       |bits AS (
       |  SELECT doc_id,
       |    $simhashBitSums
       |  FROM h GROUP BY doc_id),
       |sims AS (SELECT doc_id, $simhashValue AS simhash FROM bits),
       |joined AS (SELECT s.doc_id, d.source, s.simhash FROM sims s
       |  JOIN documents d USING (doc_id))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM joined a JOIN joined b
       |  ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $d
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-dup pairs as one (nestable) WITH-chain — the SQL
    * twin of `embedNearDupPairs`, shared by the q_embed_neardup oracle
    * and Extensions2's q_semantic_dedup oracle. */
  private[queries] val embedPairsSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= $CosThreshold""".stripMargin

  /** Brute-force cosine top-k ranking as a WITH-chain (through the
    * `ranked` CTE) — shared by the q_embed_topk oracle and the two ANN
    * recall oracles so the ground-truth definition cannot drift. */
  private[queries] val bruteRankedSql: String =
    s"""WITH probes AS (SELECT vec_id AS probe_id,
      |    CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id < $AnnProbes),
      |corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT probe_id, vec_id AS neighbor_id,
      |    round(list_dot_product(pv, cv)
      |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
      |  FROM probes CROSS JOIN corpus
      |  WHERE vec_id <> probe_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM scored)""".stripMargin

  /** Shared oracle for both ANN queries (Similarity.recallReport output):
    * per-probe true-top-5 stats from the brute ranking + the literal
    * recall bound. */
  private val annRecallOracleSql: String =
    s"""$bruteRankedSql
      |SELECT probe_id, count(*) AS n_true,
      |  max(CASE WHEN rank = 1 THEN neighbor_id END) AS best_neighbor_id,
      |  max(CASE WHEN rank = 1 THEN cos END) AS best_cos,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM ranked WHERE rank <= 5
      |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** The MinHash CTE chain (shingles → hashes → signatures → bands →
    * candidates → exact-Jaccard `verified`) WITHOUT the leading WITH or
    * a final SELECT, so consumers can append their own CTEs over `sigs`
    * / `verified` (q_minhash_est) while `minhashPairsSql` below stays
    * the canonical pairs query. One definition — the parameter sets
    * cannot drift between consumers. */
  private[queries] val minhashCtes: String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, unnest(${sqlShingleSet("text", ShingleLen)}) AS sh
       |  FROM documents),
       |hm AS (SELECT doc_id, md5(sh) AS m FROM sh),
       |hh AS (SELECT doc_id,
       |    ('0x' || substr(m, 1, 15))::BIGINT AS h1,
       |    (('0x' || substr(m, 17, 15))::BIGINT % ${Dedup.KMod}) AS h2
       |  FROM hm),
       |sigs AS (
       |  SELECT doc_id,
       |    $minhashSigCols
       |  FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, ${sqlShingleSet("text", ShingleLen)} AS s FROM documents),
       |verified AS (
       |  SELECT id_a, id_b,
       |    round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
       |      / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 4) AS jaccard
       |  FROM cands JOIN sets sa ON sa.doc_id = id_a
       |             JOIN sets sb ON sb.doc_id = id_b)""".stripMargin

  /** Verified MinHash near-dup pairs as one (nestable) WITH-chain — the
    * SQL twin of `verifiedPairs`, shared by the q_dedup_minhash oracle
    * and the recursive-closure q_dedup_clusters oracle. */
  private[queries] val minhashPairsSql: String =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, jaccard FROM verified
       |WHERE jaccard >= $JaccThreshold""".stripMargin

  /** The langId heuristic as a WITH-chain body ending in
    * `pred(doc_id, lang, pred_lang)` — the SQL twin of `Text.langId`,
    * shared by the q_lang_id oracle and the wave-59 classifier-eval
    * oracles so the heuristic cannot drift. */
  private[queries] val langPredSql: String = {
    val markers = Text.langMarkers.toSeq.sortBy(_._1)
    val hitExprs = markers.map { case (code, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($inList))) AS hits_$code"
    }.mkString(",\n    ")
    val maxExpr = markers.map { case (code, _) => s"hits_$code" }
      .mkString("greatest(", ", ", ")")
    val cascade = markers.map { case (code, _) =>
      s"WHEN hits_$code = mx THEN '$code'"
    }.mkString(" ")
    s"""lt AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents),
       |lh AS (SELECT doc_id, lang, $hitExprs FROM lt),
       |lm AS (SELECT *, $maxExpr AS mx FROM lh),
       |pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN mx > 0 THEN (CASE $cascade END) ELSE 'und' END AS pred_lang
       |  FROM lm)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS len_chars,
         |  CAST(len(${sqlTokens("text")}) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(${sqlTokens("text")})) AS INTEGER) AS n_distinct_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpeish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents)
         |SELECT doc_id,
         |  round(len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','is','in','to','it')))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |  round((length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS punct_ratio,
         |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS distinct_ratio,
         |  round(least(len(toks)::DOUBLE / 100.0, 1.0)
         |    * (1.0 - (length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / greatest(length(text), 1))
         |    * (len(list_distinct(toks))::DOUBLE / len(toks)), 4) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH $langPredSql
         |SELECT doc_id, lang, pred_lang FROM pred
         |ORDER BY doc_id""".stripMargin,

    "q_winnow" ->
      s"""WITH t AS (SELECT doc_id, ${sqlNorm("text")} AS s FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(length(s) - 7, 1) + 1),
         |    i -> substr(s, i, 8)) AS grams FROM t),
         |h AS (SELECT doc_id,
         |  list_transform(grams, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |  FROM g),
         |f AS (SELECT doc_id, list_distinct(
         |  list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
         |    i -> list_aggregate(hs[i:i+7], 'min'))) AS fps FROM h)
         |SELECT doc_id,
         |  CAST(len(fps) AS INTEGER) AS n_fps,
         |  list_aggregate(fps, 'min') AS min_fp,
         |  list_aggregate(fps, 'max') AS max_fp
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_quality_filter" -> {
      val qExpr =
        s"""least(len(${sqlTokens("text")})::DOUBLE / 100.0, 1.0)
           | * (1.0 - (length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / greatest(length(text), 1))
           | * (len(list_distinct(${sqlTokens("text")}))::DOUBLE / len(${sqlTokens("text")}))""".stripMargin
      s"""WITH scored AS (SELECT doc_id, lang, ($qExpr) AS quality FROM documents)
         |SELECT doc_id, lang, round(quality, 4) AS quality
         |FROM scored
         |WHERE quality >= (SELECT quantile_cont(quality, 0.5) FROM scored)
         |ORDER BY doc_id""".stripMargin
    },

    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents WHERE doc_id % 5 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH fp AS (SELECT doc_id, md5(${sqlNorm("text")}) AS fp FROM documents),
         |canon AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
         |  FROM fp GROUP BY fp)
         |SELECT f.doc_id, f.fp, c.canonical_id, c.group_size,
         |  CAST(f.doc_id <> c.canonical_id AS INTEGER) AS is_dup
         |FROM fp f JOIN canon c USING (fp) ORDER BY f.doc_id""".stripMargin,

    "q_dedup_minhash" -> (minhashPairsSql + " ORDER BY id_a, id_b"),

    "q_minhash_est" -> {
      val matchSum = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         |vp AS (
         |  SELECT id_a, id_b, jaccard FROM verified
         |  WHERE jaccard >= $JaccThreshold)
         |SELECT vp.id_a, vp.id_b, vp.jaccard AS exact_j,
         |  CAST($matchSum AS DOUBLE) / ${NumHashes.toDouble} AS est_j,
         |  CAST($matchSum AS DOUBLE) / ${NumHashes.toDouble} - vp.jaccard AS err
         |FROM vp JOIN sigs sa ON sa.doc_id = vp.id_a
         |        JOIN sigs sb ON sb.doc_id = vp.id_b
         |ORDER BY vp.id_a, vp.id_b""".stripMargin
    },

    // dup clusters = transitive closure of the verified pairs, stated as
    // a recursive CTE over the SAME pairs chain — the oracle computes the
    // EXACT fixpoint, so a hash match also proves the Spark side's
    // bounded label propagation converged on this corpus.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src)
         |SELECT doc_id, least(m, doc_id) AS cluster_id FROM labels
         |WHERE least(m, doc_id) <> doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH sets AS (SELECT doc_id, ${sqlShingleSet("text", ShingleLen)} AS s FROM documents),
         |cands AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |  WHERE a.doc_id < 20)
         |SELECT id_a, id_b,
         |  round(len(list_filter(sa, x -> list_contains(sb, x)))::DOUBLE
         |    / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4) AS jaccard
         |FROM cands
         |WHERE round(len(list_filter(sa, x -> list_contains(sb, x)))::DOUBLE
         |    / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4) >= 0.03
         |ORDER BY id_a, id_b""".stripMargin,

    "q_simhash" -> simhashOracleSql(8),
    "q_simhash_d3" -> simhashOracleSql(3),

    "q_embed_topk" ->
      s"""$bruteRankedSql
        |SELECT probe_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // ANN recall oracles: every column except recall_ok is an exact
    // brute-force derivation the oracle computes independently; recall_ok
    // asserts |ann ∩ true top-5| >= 3 per probe, which the oracle states
    // as literal true (measured per-probe minimum at the gate SFs is
    // 4/5 for both index configurations — one hit of margin).
    "q_embed_ann_lsh" -> annRecallOracleSql,
    "q_embed_ann_ivf" -> annRecallOracleSql,

    "q_embed_neardup" -> (embedPairsSql + " ORDER BY id_a, id_b"),

    // The synthetic media corpus is a pure function of media_id
    // (graft.multimodal.Multimodal.syntheticMedia): payloads repeat every
    // 100 ids, so with 300 blobs every payload group is {s, s+100, s+200}
    // — canonical id = id mod 100, group size 3, dup iff id >= 100.
    "q_media_dedup" ->
      """SELECT id AS media_id,
        |  CAST(id % 100 AS BIGINT) AS canonical_id,
        |  CAST(3 AS BIGINT) AS group_size,
        |  CAST(CASE WHEN id >= 100 THEN 1 ELSE 0 END AS INTEGER) AS is_dup
        |FROM range(300) t(id) ORDER BY media_id""".stripMargin,

    // The per-kind metadata aggregate is likewise SQL-statable from a
    // generated id range — no parquet table needed, only the same
    // closed-form header fields.
    "q_media_meta" ->
      """WITH m AS (
        |  SELECT id,
        |    CASE CAST(id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    64 + (id % 8) * 32 AS width,
        |    64 + (id % 5) * 32 AS height,
        |    CASE WHEN id % 3 = 2 THEN 24 + (id % 10) * 12 ELSE 1 END AS n_frames,
        |    128 + ((id % 100) % 7) * 64 AS payload_len
        |  FROM range(300) t(id))
        |SELECT kind, count(*) AS n,
        |  round(avg(width), 2) AS avg_w,
        |  round(avg(height), 2) AS avg_h,
        |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |  CAST(sum(payload_len) AS BIGINT) AS total_payload
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin)
}
