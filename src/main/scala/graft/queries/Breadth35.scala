package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Thirty-fifth wave — classification and tuning-curve roll-ups over
  * already-pinned machinery:
  *
  *  - **Elder impulse system**: per-bar green/red/blue classes from
  *    the JOINT direction of the EMA-13 midline and the MACD
  *    histogram — one fold carrying both recurrences, comparisons on
  *    identically-computed doubles (a classification emit, the first
  *    string-label indicator);
  *  - **dedup threshold sensitivity**: the near-dup pair count and
  *    affected-doc count at each candidate Jaccard threshold — the
  *    tuning curve a data engineer reads before fixing the dedup
  *    cutoff, computed over the SHARED memoized pair chain (never
  *    re-verifying pairs per threshold);
  *  - **cluster mixture**: vectors per k-means cluster with corpus
  *    share — the balance report the mixture sampler consumes,
  *    over the deterministic q_kmeans assignment.
  *
  * Exact-parity discipline: impulse compares recurrence doubles both
  * engines compute bit-identically (the pinned q_macd/q_elder_ray
  * algebra) — comparisons, never new arithmetic; the sensitivity
  * counts are integers over the 4-dp-rounded verified Jaccard with
  * thresholds written as division expressions; shares are one
  * terminal division.
  *
  * Scale shape: impulse is one bar-grid fold (O(1) state); the
  * sensitivity curve is |pairs|×|thresholds| (the pair table is the
  * vanishing dedup fraction of the corpus; thresholds broadcast);
  * the mixture is a K-sized aggregate over the assignment.
  */
object Breadth35 {

  /** The sensitivity curve's candidate cutoffs — all at or above the
    * chain's own verification threshold (0.8), so the memoized pair
    * table covers every curve point. */
  private[graft] val SensThresholds = Seq(0.80, 0.85, 0.90, 0.95, 0.99)

  /** Impulse accumulator: EMA-13 + the MACD trio (the q_elder_ray and
    * q_macd recurrences verbatim, one fold). */
  private[graft] case class ImpulseAcc(e13: Double, e12: Double,
                                       e26: Double, sig: Double)

  /** One impulse step + the emitted class: green when BOTH the EMA-13
    * and the MACD histogram rise vs the prior bar, red when both
    * fall, blue otherwise (including the seed bar and any flat
    * component). */
  private[graft] def impulseStep(st: Option[ImpulseAcc],
                                 c: Long): (ImpulseAcc, String) = st match {
    case None =>
      (ImpulseAcc(c.toDouble, c.toDouble, c.toDouble, 0.0), "blue")
    case Some(a) =>
      val e13 = Breadth28.ElderA * c + (1.0 - Breadth28.ElderA) * a.e13
      val e12 = Breadth19.A12 * c + (1.0 - Breadth19.A12) * a.e12
      val e26 = Breadth19.A26 * c + (1.0 - Breadth19.A26) * a.e26
      val sig = Breadth19.A9 * (e12 - e26) + (1.0 - Breadth19.A9) * a.sig
      val hist = e12 - e26 - sig
      val phist = a.e12 - a.e26 - a.sig
      val cls =
        if (e13 > a.e13 && hist > phist) "green"
        else if (e13 < a.e13 && hist < phist) "red"
        else "blue"
      (ImpulseAcc(e13, e12, e26, sig), cls)
  }

  /** Elder impulse per key over the daily bars — one Recurrence fold
    * emitting the class label (plus the two slopes' carriers for
    * inspection). */
  private[graft] def elderImpulse(df: DataFrame, keyCol: String, tsCol: String,
                                  valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[ImpulseAcc], b: graft.ops.Bar) => impulseStep(st, b.close)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("impulse"))
    }

  /** Near-dup threshold sensitivity over the shared verified-pair
    * chain: per candidate threshold, the surviving pair count and the
    * distinct docs those pairs touch. Zero-pair thresholds report
    * zeros (the curve's tail is part of the answer). */
  private[graft] def dedupSensitivity(s: org.apache.spark.sql.SparkSession,
                                      dir: String): DataFrame = {
    val pairs = Chains.MinhashPairs(s, dir)
    val ths = SensThresholds
      .foldLeft(Seq.empty[Column])((acc, t) => acc :+ lit(t))
    val tdf = s.range(1)
      .select(explode(array(ths: _*)).as("threshold"))
    val hit = pairs.crossJoin(broadcast(tdf))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = hit.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("id")).as("n_docs"))
    tdf.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Cluster mixture over the deterministic k-means assignment: size
    * and corpus share per cluster (one terminal division). */
  private[graft] def clusterMixture(s: org.apache.spark.sql.SparkSession,
                                    dir: String): DataFrame = {
    val a = Extensions12.kmeansAssign(Tables.embeddings(s, dir))
    val total = a.agg(count(lit(1)).as("__n"))
    a.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(total))
      .select(col("cluster"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("__n").cast("double"))
          .as("share"))
  }

  val defs: Map[String, Q] = Map(
    // Elder impulse: joint EMA-13 / MACD-histogram direction classes.
    "q_elder_impulse" -> ((s, dir) =>
      elderImpulse(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Dedup tuning curve: pairs and affected docs per threshold.
    "q_dedup_sensitivity" -> ((s, dir) =>
      dedupSensitivity(s, dir).orderBy(col("threshold").asc)),

    // k-means cluster balance report.
    "q_cluster_mixture" -> ((s, dir) =>
      clusterMixture(s, dir).orderBy(col("cluster").asc)))

  /** Close-only bars + per-key bar index. */
  private val closeBarsIdxSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close
      |  FROM (
      |    SELECT user_id, day,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  private def sqlThresholdValues: String =
    SensThresholds.map { t =>
      val cents = math.round(t * 100).toInt
      s"(${cents}.0/100.0)"
    }.mkString("(VALUES ", ", ", ") th(threshold)")

  val oracle: Map[String, String] = Map(
    "q_elder_impulse" ->
      s"""WITH RECURSIVE $closeBarsIdxSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS e13, CAST(close AS DOUBLE) AS e12,
         |    CAST(close AS DOUBLE) AS e26, CAST(0.0 AS DOUBLE) AS sig,
         |    'blue' AS impulse
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT user_id, day, close, i, e13n, e12n, e26n, sgnl,
         |    CASE WHEN e13n > e13 AND (e12n - e26n - sgnl) > (e12 - e26 - sig)
         |        THEN 'green'
         |      WHEN e13n < e13 AND (e12n - e26n - sgnl) < (e12 - e26 - sig)
         |        THEN 'red'
         |      ELSE 'blue' END
         |  FROM (
         |    SELECT *, (2.0/10.0) * (e12n - e26n) + (1.0 - 2.0/10.0) * sig
         |        AS sgnl
         |    FROM (
         |      SELECT b.user_id, b.day, b.close, b.i,
         |        r.e13, r.e12, r.e26, r.sig,
         |        (2.0/14.0) * CAST(b.close AS DOUBLE)
         |          + (1.0 - 2.0/14.0) * r.e13 AS e13n,
         |        (2.0/13.0) * CAST(b.close AS DOUBLE)
         |          + (1.0 - 2.0/13.0) * r.e12 AS e12n,
         |        (2.0/27.0) * CAST(b.close AS DOUBLE)
         |          + (1.0 - 2.0/27.0) * r.e26 AS e26n
         |      FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)))
         |SELECT user_id, day, close AS close_cents, impulse
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_dedup_sensitivity" ->
      s"""WITH ${Extensions.minhashCtes},
         |p AS (SELECT id_a, id_b, jaccard FROM verified
         |      WHERE jaccard >= (80.0/100.0)),
         |th AS (SELECT CAST(threshold AS DOUBLE) AS threshold
         |       FROM $sqlThresholdValues),
         |hit AS (
         |  SELECT th.threshold, p.id_a, p.id_b
         |  FROM p CROSS JOIN th WHERE p.jaccard >= th.threshold),
         |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM hit GROUP BY threshold),
         |nd AS (
         |  SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |  FROM (
         |    SELECT threshold, id_a AS id FROM hit
         |    UNION ALL SELECT threshold, id_b FROM hit)
         |  GROUP BY threshold)
         |SELECT th.threshold,
         |  coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(nd.n_docs, 0) AS n_docs
         |FROM th LEFT JOIN np USING (threshold)
         |        LEFT JOIN nd USING (threshold)
         |ORDER BY th.threshold""".stripMargin,

    "q_cluster_mixture" ->
      s"""WITH ${Extensions12.kmeansCtes}
         |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS DOUBLE)
         |    / CAST((SELECT count(*) FROM a2) AS DOUBLE) AS share
         |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin)
}
