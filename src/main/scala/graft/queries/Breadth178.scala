package graft.queries

import graft.Tables
import graft.store.Memo
import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-seventy-ninth wave — four corpus/retrieval DIAGNOSTICS the
  * pipeline tier still lacked, each reading an already-materialized
  * intermediate so the marginal cost is metadata-sized:
  *
  *  - **q_good_turing**: the frequency-of-frequencies table with
  *    Good–Turing adjusted counts r* = (r+1)·N_{r+1}/N_r for r ≤ 8,
  *    over 3-token SHINGLE document frequencies — the unit with a real
  *    long tail in any corpus (this one's word vocabulary is 31 types,
  *    all frequent — word-level GT is degenerate by construction, and
  *    a 0-row output would pass the differential vacuously). The
  *    classical estimate of how much mass the corpus's rare n-grams
  *    deserve (smoothing / contamination-screen sizing input).
  *  - **q_unseen_mass**: the GT unseen mass P₀ = N₁/N over the same
  *    shingle-df counts, plus the hapax share of the shingle
  *    vocabulary — the one-row "how incomplete is this corpus's
  *    n-gram inventory" gauge (the expected rate of NEVER-seen
  *    shingles in the next crawl increment).
  *  - **q_rbo_pq**: rank-biased overlap (Webber et al.) between the PQ
  *    ADC top-5 ranking and the exact brute-force top-5, per probe —
  *    recall@k says WHETHER the right neighbors appear; RBO says
  *    whether they appear in the right ORDER, weighted toward rank 1.
  *  - **q_lsh_power**: the LSH S-curve 1−(1−s^r)^b for the house
  *    (r = 3 rows, b = 4 bands) evaluated against the OBSERVED
  *    probe-pair Jaccard histogram — per similarity bucket: how many
  *    real pairs live there and how many banding would catch. The
  *    design-tool answer to "are 4 bands enough for THIS corpus".
  *
  * Exact-parity discipline: Good–Turing is integer counts with one
  * identical-operand double division per emitted ratio. RBO terms are
  * evaluated entirely in int64 — p = 3/4 keeps p^(d−1) rational with
  * dyadic denominator, so t_d = 3^(d−1)·ov_d·1e9 div (4^(d−1)·d) is
  * exact integer arithmetic in both engines, summed order-free and
  * scaled once by (1−p)/(1−p⁵) = 256/781. The S-curve is the same
  * left-associated multiplication chain in both engines (no pow()).
  *
  * Scale shape: q_good_turing/q_unseen_mass are one shingle explode +
  * two hash aggregates (the exact-dedup shuffle shape — 32-byte-ish
  * keys, map-side partial counts, never text); q_rbo_pq joins two
  * |probes|·5 shortlists; q_lsh_power reuses the inverted-index probe
  * Jaccard (work ∝ matching postings) plus a 20-row math grid.
  */
object Breadth178 {

  private[graft] val GtMaxR = 8
  /** RBO persistence p = 3/4 (exact dyadic — p^(d−1) stays rational
    * with power-of-two denominator, so the per-depth terms are exact
    * int64 arithmetic; 0.9 would drag libm pow() into the oracle). */
  private[graft] val RboDepth = 5

  /** Frequency-of-frequencies with GT adjusted counts (internal). */
  private[graft] def goodTuring(tokenCounts: DataFrame): DataFrame = {
    val fof = tokenCounts.groupBy(col("true_n").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    fof.join(nxt, Seq("r"), "left")
      .filter(col("r") <= GtMaxR)
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        when(coalesce(col("n_next"), lit(0L)) === 0, lit(null))
          .otherwise(((col("r") + 1) * col("n_next")).cast("double") /
            col("n_r").cast("double")).as("r_star"))
      .orderBy(col("r").asc)
  }

  /** One-row unseen-mass gauge (internal). */
  private[graft] def unseenMass(tokenCounts: DataFrame): DataFrame =
    tokenCounts.agg(
        sum(col("true_n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("true_n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("n_tokens"), col("vocab"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("p_unseen"),
        (col("n_hapax").cast("double") / col("vocab").cast("double"))
          .as("hapax_share"))

  /** Truncated, normalized RBO between two rank-5 lists per probe
    * (internal). `exact` and `approx` both carry (probe_id, rank ≤ 5,
    * neighbor_id). */
  private[graft] def rbo(exact: DataFrame, approx: DataFrame): DataFrame = {
    val s = exact.sparkSession
    val e = exact.select(col("probe_id"), col("neighbor_id"),
      col("rank").cast("long").as("__re"))
    val a = approx.select(col("probe_id"), col("neighbor_id"),
      col("rank").cast("long").as("__ra"))
    // (probe, neighbor) appearing in BOTH lists, with both ranks — the
    // pair contributes to every depth d >= max(re, ra)
    val both = e.join(a, Seq("probe_id", "neighbor_id"))
      .select(col("probe_id"), greatest(col("__re"), col("__ra")).as("__dm"))
    // depth grid with 3^(d-1) / 4^(d-1) precomputed — integer lookup,
    // never pow() (libm drift); the VALUES table mirrors the oracle's
    val grid = s.sql(
      "SELECT * FROM VALUES (1L,1L,1L),(2L,3L,4L),(3L,9L,16L)," +
        "(4L,27L,64L),(5L,81L,256L) AS t(d, p3, p4)")
    val probes = e.select(col("probe_id")).distinct()
    val ov = probes.crossJoin(grid)
      .join(both, Seq("probe_id"), "left")
      .groupBy(col("probe_id"), col("d"), col("p3"), col("p4"))
      .agg(sum(when(col("__dm").isNotNull && col("__dm") <= col("d"), 1L)
        .otherwise(0L)).as("__ov"))
    // t_d = p^(d-1) * (ov_d / d) * 1e9 as EXACT integer arithmetic
    val terms = ov.withColumn("__t",
      expr("(p3 * __ov * 1000000000L) div (p4 * d)"))
    terms.groupBy(col("probe_id"))
      .agg(max(when(col("d") === 1, col("__ov"))).as("top1_agree"),
        max(when(col("d") === RboDepth, col("__ov"))).as("ov5"),
        sum(col("__t")).as("__st"))
      // (1-p)/(1-p^5) = (1/4)/(781/1024) = 256/781
      .select(col("probe_id"), col("top1_agree"), col("ov5"),
        (col("__st").cast("double") * lit(256.0) / lit(781.0) /
          lit(1.0e9)).as("rbo"))
      .orderBy(col("probe_id").asc)
  }

  /** S-curve vs observed probe-pair Jaccard histogram (internal). */
  private[graft] def lshPower(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // the inverted-index probe-vs-corpus Jaccard sample (same op +
    // constants as q_ngram_jaccard: 3-token shingles, 20 probes)
    val pairs = Dedup.jaccardProbeAll(docs, "doc_id", "text",
      shingleLen = 3, probeMax = 20, minJ = 0.03)
    val hist = pairs
      .withColumn("k", least(floor(col("jaccard") * 20.0).cast("int"), lit(19)))
      .groupBy(col("k")).agg(count(lit(1)).as("n_pairs"))
    val grid = s.range(20).select(col("id").cast("int").as("k"))
    grid.join(hist, Seq("k"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("s_lo", col("k").cast("double") / lit(20.0))
      // p = 1 - (1 - s^3)^4, both engines as the same left-associated
      // multiplication chain — no pow()
      .withColumn("__s3", col("s_lo") * col("s_lo") * col("s_lo"))
      .withColumn("__q", lit(1.0) - col("__s3"))
      .withColumn("p_collide",
        lit(1.0) - col("__q") * col("__q") * col("__q") * col("__q"))
      .withColumn("expected_caught",
        col("n_pairs").cast("double") * col("p_collide"))
      .select(col("k"), col("s_lo"), col("n_pairs"), col("p_collide"),
        col("expected_caught"))
      .orderBy(col("k").asc)
  }

  /** Frequent sequential patterns (GSP / PrefixSpan-lite) over each
    * user's EARLY JOURNEY — the first 8 events by (ts, event_id).
    * Support = users whose prefix contains the pattern as a
    * subsequence (gaps allowed); frequent = support ≥ 10% of users
    * (scale-invariant, cross-multiplied). Level-wise apriori: length-
    * (k+1) candidates come only from frequent length-k patterns (the
    * subsequence-support apriori property makes the pruning lossless),
    * so candidate volume at scale is |frequent_k|·|T| — never a blind
    * |T|^L blowup; the per-user prefix is 8 tokens by construction, so
    * the match scan is users × candidates over bounded strings. */
  /** Injective escape of an event-type token into the pattern-safe
    * alphabet: '~'->'~t' first (so the escape itself is safe), then the
    * LIKE metacharacters '%'->'~p', '_'->'~u' and the sequence
    * delimiters '|'->'~b', '>'->'~g'. Identity on tokens free of those
    * five characters (every token in the corpus), so pattern displays
    * are unchanged in the normal case — while a pathological type can
    * no longer corrupt LIKE matching or token boundaries, a bug class
    * the differential could not catch because the oracle shares the
    * construction. Patterns and journey strings live entirely in the
    * ENCODED domain (the '>'-separated `pattern` column too), so the
    * streaming screen rebuilds LIKE templates from mined patterns
    * without re-encoding. Shared: Column form here, plain-Scala twin
    * [[encodeTokScala]] for the streaming JourneyProcessor, SQL twin
    * [[encodeTokSql]] for the oracle. */
  private[graft] def encodeTok(c: Column): Column =
    replace(replace(replace(replace(replace(
      c, lit("~"), lit("~t")), lit("%"), lit("~p")), lit("_"), lit("~u")),
      lit("|"), lit("~b")), lit(">"), lit("~g"))

  private[graft] def encodeTokScala(s: String): String =
    s.replace("~", "~t").replace("%", "~p").replace("_", "~u")
      .replace("|", "~b").replace(">", "~g")

  private[graft] def encodeTokSql(c: String): String =
    s"replace(replace(replace(replace(replace($c, '~', '~t'), " +
      s"'%', '~p'), '_', '~u'), '|', '~b'), '>', '~g')"

  private[graft] def seqPatterns(events: DataFrame): DataFrame = {
    val PrefixLen = 8
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    // '|type|' per event, concatenated: every token carries its own
    // delimiters so adjacent tokens keep a pipe for the NEXT wildcard
    // to anchor on ('%|a|%|b|%' must match the a,b-adjacent sequence)
    val seqsPlan = events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= PrefixLen)
      .groupBy(col("user_id"))
      .agg(concat_ws("", sort_array(collect_list(
        struct(col("__rn"),
          concat(lit("|"), encodeTok(col("event_type")), lit("|"))
          .as("__tok")))).getField("__tok")).as("seq"))
    // three level passes + the user count read this frame — write it
    // through the parquet memo store (NOT persist: the public
    // Graft.seqPatterns facade would leak one cached frame per call in
    // a long-lived session, and a store-backed frame survives the
    // harness storage sweep by construction). PLAN-KEYED memo, not a
    // bare Memo.write (ADVICE, round 14): the bare write
    // created a fresh un-memoized parquet dir per call — unbounded
    // temp-disk growth plus a blocking write per call.
    val seqs = Memo(events, "seq_prefix8") { seqsPlan }
    val nUsers = seqs.select(count(lit(1)).as("__nu"))
    def frequent(cands: DataFrame): DataFrame =
      seqs.crossJoin(broadcast(cands))
        .filter(expr("seq LIKE pat"))
        .groupBy(col("pat"), col("pattern"), col("len"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nUsers))
        .filter(col("support") * 10 >= col("__nu"))
        .select(col("pat"), col("pattern"), col("len"), col("support"))
    val types = events.select(encodeTok(col("event_type")).as("t")).distinct()
    val c1 = types.select(
      concat(lit("%|"), col("t"), lit("|%")).as("pat"),
      col("t").as("pattern"), lit(1).as("len"))
    val f1 = frequent(c1)
    val c2 = f1.select(col("pattern").as("__a"))
      .crossJoin(types)
      .select(concat(lit("%|"), col("__a"), lit("|%|"), col("t"), lit("|%")).as("pat"),
        concat(col("__a"), lit(">"), col("t")).as("pattern"), lit(2).as("len"))
    val f2 = frequent(c2)
    val c3 = f2.select(col("pattern").as("__ab"))
      .crossJoin(types)
      .select(concat(lit("%|"), regexp_replace(col("__ab"), lit(">"), lit("|%|")),
          lit("|%|"), col("t"), lit("|%")).as("pat"),
        concat(col("__ab"), lit(">"), col("t")).as("pattern"), lit(3).as("len"))
    val f3 = frequent(c3)
    f1.unionByName(f2).unionByName(f3)
      .select(col("pattern"), col("len"), col("support"))
      .orderBy(col("len").asc, col("support").desc, col("pattern").asc)
  }

  /** Shingle-type document-frequency counts: (shingle, true_n = number
    * of docs containing it). The GT species unit. */
  private[graft] def shingleDf(docs: DataFrame): DataFrame =
    docs.select(explode(graft.text.Text.shingleSet(col("text"), 3)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("true_n"))

  val defs: Map[String, Q] = Map(
    "q_good_turing" -> ((s, dir) =>
      goodTuring(shingleDf(Tables.documents(s, dir)))),
    "q_unseen_mass" -> ((s, dir) =>
      unseenMass(shingleDf(Tables.documents(s, dir)))),
    "q_rbo_pq" -> ((s, dir) => rbo(
      Chains.BruteTopK(s, dir).select("probe_id", "rank", "neighbor_id"),
      Chains.PqTopK(s, dir).filter(col("rank") <= RboDepth)
        .select("probe_id", "rank", "neighbor_id"))),
    "q_lsh_power" -> ((s, dir) => lshPower(Tables.documents(s, dir))),
    "q_seq_patterns" -> ((s, dir) => seqPatterns(Tables.events(s, dir))))

  /** Shingle-df CTE (no leading WITH), shared by the GT pair. */
  private def TcSql: String =
    s"""sh AS (SELECT unnest(${Extensions.sqlShingleSet("text", 3)}) AS s
       |  FROM documents),
       |tc AS (SELECT s, CAST(count(*) AS BIGINT) AS n
       |  FROM sh GROUP BY s)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_good_turing" ->
      s"""WITH $TcSql,
         |fof AS (SELECT n AS r, CAST(count(*) AS BIGINT) AS n_r
         |  FROM tc GROUP BY n)
         |SELECT f.r, f.n_r,
         |  CAST(COALESCE(g.n_r, 0) AS BIGINT) AS n_next,
         |  CASE WHEN COALESCE(g.n_r, 0) = 0 THEN NULL
         |    ELSE CAST((f.r + 1) * g.n_r AS DOUBLE) / CAST(f.n_r AS DOUBLE)
         |  END AS r_star
         |FROM fof f LEFT JOIN fof g ON g.r = f.r + 1
         |WHERE f.r <= $GtMaxR
         |ORDER BY f.r""".stripMargin,

    "q_unseen_mass" ->
      s"""WITH $TcSql
         |SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE) AS p_unseen,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS hapax_share
         |FROM tc""".stripMargin,

    "q_rbo_pq" ->
      s"""${Extensions.bruteRankedSql},
         |${Breadth121.PqSql},
         |ex AS (SELECT probe_id, neighbor_id, CAST(rank AS BIGINT) AS re
         |  FROM ranked WHERE rank <= $RboDepth),
         |ap AS (SELECT probe_id, neighbor_id, CAST(rank AS BIGINT) AS ra
         |  FROM pqranked WHERE rank <= $RboDepth),
         |bo AS (
         |  SELECT e.probe_id, greatest(e.re, a.ra) AS dm
         |  FROM ex e JOIN ap a
         |    ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id),
         |grid AS (SELECT * FROM (VALUES (1, 1, 1), (2, 3, 4), (3, 9, 16),
         |  (4, 27, 64), (5, 81, 256)) AS t(d, p3, p4)),
         |pr AS (SELECT DISTINCT probe_id FROM ex),
         |ov AS (
         |  SELECT pr.probe_id, g.d, g.p3, g.p4,
         |    CAST(sum(CASE WHEN bo.dm IS NOT NULL AND bo.dm <= g.d
         |      THEN 1 ELSE 0 END) AS BIGINT) AS ovd
         |  FROM pr CROSS JOIN grid g
         |  LEFT JOIN bo ON bo.probe_id = pr.probe_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT probe_id,
         |  CAST(max(CASE WHEN d = 1 THEN ovd END) AS BIGINT) AS top1_agree,
         |  CAST(max(CASE WHEN d = $RboDepth THEN ovd END) AS BIGINT) AS ov5,
         |  CAST(sum((p3 * ovd * 1000000000) // (p4 * d)) AS DOUBLE)
         |    * 256.0 / 781.0 / 1.0e9 AS rbo
         |FROM ov GROUP BY probe_id
         |ORDER BY probe_id""".stripMargin,

    "q_lsh_power" ->
      s"""WITH sets AS (SELECT doc_id,
         |    ${Extensions.sqlShingleSet("text", 3)} AS s FROM documents),
         |cands AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |  WHERE a.doc_id < 20),
         |jac AS (
         |  SELECT round(len(list_filter(sa, x -> list_contains(sb, x)))::DOUBLE
         |    / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4) AS j
         |  FROM cands),
         |hist AS (
         |  SELECT least(CAST(floor(j * 20.0) AS INTEGER), 19) AS k,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM jac WHERE j >= 0.03 GROUP BY 1),
         |grid AS (SELECT CAST(unnest(range(0, 20)) AS INTEGER) AS k)
         |SELECT g.k, CAST(g.k AS DOUBLE) / 20.0 AS s_lo,
         |  CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  1.0 - (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0)) AS p_collide,
         |  CAST(COALESCE(h.n_pairs, 0) AS DOUBLE) *
         |    (1.0 - (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))
         |    * (1.0 - (CAST(g.k AS DOUBLE) / 20.0) * (CAST(g.k AS DOUBLE) / 20.0)
         |      * (CAST(g.k AS DOUBLE) / 20.0))) AS expected_caught
         |FROM grid g LEFT JOIN hist h ON h.k = g.k
         |ORDER BY g.k""".stripMargin,

    "q_seq_patterns" ->
      s"""WITH ordered AS (
        |  SELECT user_id, ${encodeTokSql("event_type")} AS __etok,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |seqs AS (
        |  SELECT user_id,
        |    string_agg('|' || __etok || '|', '' ORDER BY rn) AS seq
        |  FROM ordered WHERE rn <= 8 GROUP BY user_id),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seqs),
        |t AS (SELECT DISTINCT ${encodeTokSql("event_type")} AS a FROM events),
        |p1 AS (
        |  SELECT a AS pattern, 1 AS len, '%|' || a || '|%' AS pat FROM t),
        |p2 AS (
        |  SELECT x.a || '>' || y.a AS pattern, 2 AS len,
        |    '%|' || x.a || '|%|' || y.a || '|%' AS pat
        |  FROM t x CROSS JOIN t y),
        |p3 AS (
        |  SELECT x.a || '>' || y.a || '>' || z.a AS pattern, 3 AS len,
        |    '%|' || x.a || '|%|' || y.a || '|%|' || z.a || '|%' AS pat
        |  FROM t x CROSS JOIN t y CROSS JOIN t z),
        |cands AS (
        |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3),
        |sup AS (
        |  SELECT c.pattern, c.len, CAST(count(*) AS BIGINT) AS support
        |  FROM cands c JOIN seqs s ON s.seq LIKE c.pat
        |  GROUP BY 1, 2)
        |SELECT pattern, CAST(len AS INTEGER) AS len, support
        |FROM sup CROSS JOIN nu
        |WHERE support * 10 >= nu.n
        |ORDER BY len, support DESC, pattern""".stripMargin)
}
