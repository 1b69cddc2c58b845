package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Thirty-fourth wave — the composite indicator tier:
  *
  *  - **Connors RSI**: the mean of THREE component scores per bar —
  *    Wilder RSI(3) on closes, Wilder RSI(2) on the signed streak
  *    series, and the percent-rank of the 1-day return against the
  *    trailing 100 returns. Three recurrences plus a 100-return ring
  *    fold as ONE pass with a single composite accumulator — the
  *    combinator's composability demonstration;
  *  - tokenizer fertility (BPE-ish subword count over whitespace word
  *    count per doc) — the tokenizer-budget diagnostic a training
  *    pipeline reads before picking a vocab.
  *
  * Exact-parity discipline: both small-period Wilder RSIs keep the
  * integer warm-up sums / float recurrence of the q_rsi_wilder
  * discipline; the percent-rank is an integer COUNT over a
  * 100-element ring of returns (each return one division, compared —
  * never summed); the ring SKIPS undefined returns (non-positive
  * previous close — one exists in the sf0.1 bars) identically in the
  * fold and in the oracle's list-carrying recursion. Fertility is an
  * integer count ratio.
  *
  * Scale shape: one bar-grid fold per key with O(1)+O(100) state;
  * fertility is a map-only projection.
  */
object Breadth34 {

  private[graft] val CrsiN1 = 3 // close RSI period
  private[graft] val CrsiN2 = 2 // streak RSI period
  private[graft] val CrsiPr = 100 // percent-rank lookback

  /** One Wilder sub-accumulator (the q_rsi_wilder shape at period n). */
  private[graft] case class Wil(sg: Long, sl: Long,
                                ag: Option[Double], al: Option[Double])

  /** One Wilder step at period `n`, diff index `j` (1-based count of
    * diffs seen INCLUDING this one). */
  private[graft] def wilStep(w: Wil, d: Long, j: Long, n: Int): Wil = {
    val g = math.max(d, 0L)
    val l = math.max(-d, 0L)
    val sg = w.sg + g
    val sl = w.sl + l
    if (j < n) Wil(sg, sl, None, None)
    else if (j == n)
      Wil(sg, sl, Some(sg.toDouble / n.toDouble), Some(sl.toDouble / n.toDouble))
    else
      Wil(sg, sl,
        Some((w.ag.get * (n - 1).toDouble + g.toDouble) / n.toDouble),
        Some((w.al.get * (n - 1).toDouble + l.toDouble) / n.toDouble))
  }

  /** RSI readout: None during warm-up, 100 on a zero loss average. */
  private[graft] def rsiOut(w: Wil): Option[Double] = w.al match {
    case None => None
    case Some(0.0) => Some(100.0)
    case Some(al) => Some(100.0 - 100.0 / (1.0 + w.ag.get / al))
  }

  /** The composite Connors accumulator: previous close, streak, both
    * Wilder states, and the trailing ≤100 valid returns (oldest
    * first; undefined returns — non-positive previous close — are
    * SKIPPED, never stored). */
  private[graft] case class CrsiAcc(pc: Long, streak: Long,
                                    w3: Wil, w2: Wil,
                                    ring: Seq[Double],
                                    rsi3: Option[Double],
                                    rsi2: Option[Double],
                                    pr: Option[Double])

  /** One Connors step at 0-based bar index `i` (diff count = i). */
  private[graft] def crsiStep(st: Option[CrsiAcc], c: Long,
                              i: Int): CrsiAcc = st match {
    case None =>
      CrsiAcc(c, 0L, Wil(0L, 0L, None, None), Wil(0L, 0L, None, None),
        Seq.empty, None, None, None)
    case Some(a) =>
      val d = c - a.pc
      val j = i.toLong
      val w3 = wilStep(a.w3, d, j, CrsiN1)
      val s = Breadth33.streakStep(a.streak, c, a.pc)
      val w2 = wilStep(a.w2, s - a.streak, j, CrsiN2)
      val roc = if (a.pc > 0) Some(d.toDouble / a.pc.toDouble) else None
      val pr = roc match {
        case Some(r) if a.ring.length == CrsiPr =>
          Some(a.ring.count(_ < r).toDouble)
        case _ => None
      }
      val ring = roc match {
        case Some(r) => (a.ring :+ r).takeRight(CrsiPr)
        case None => a.ring
      }
      CrsiAcc(c, s, w3, w2, ring, rsiOut(w3), rsiOut(w2), pr)
  }

  /** Connors RSI per key: (RSI3(close) + RSI2(streak) + PctRank₁₀₀)/3,
    * scored only when all three components exist — one indexed fold
    * over the memoized bar arrays, O(1)+O(100) state per key. */
  private[graft] def connorsRsi(df: DataFrame, keyCol: String, tsCol: String,
                                valCol: String, tieBreak: String): DataFrame = {
    val loop = graft.ops.Recurrence.foldUdfIndexed {
      (st: Option[CrsiAcc], b: graft.ops.Bar, i: Int) =>
        val a = crsiStep(st, b.close, i)
        (a, (a.streak, a.rsi3, a.rsi2, a.pr,
          (a.rsi3, a.rsi2, a.pr) match {
            case (Some(x), Some(y), Some(z)) => Some((x + y + z) / 3.0)
            case _ => None
          }))
    }
    graft.ops.Recurrence.barArrays(df, keyCol, tsCol, valCol, tieBreak)
      .withColumn("__s",
        loop.apply(graft.ops.Recurrence.foldInputs(col("__bars")): _*))
      .select(col(keyCol), explode(zip_with(col("__bars"), col("__s"),
        (b, s) => struct(b.getField("day").as("day"),
          b.getField("close").as("close_cents"),
          s.getField("_1").as("streak"),
          s.getField("_2").as("rsi3"),
          s.getField("_3").as("rsi2_streak"),
          s.getField("_4").as("pct_rank"),
          s.getField("_5").as("crsi")))).as("r"))
      .select(col(keyCol), col("r.*"))
  }

  /** Tokenizer fertility per doc: BPE-ish subword count over
    * whitespace word count (both integers, one division; wordless
    * docs unscored), with the doc's language tag for downstream
    * mixture roll-ups. */
  private[graft] def fertility(docs: DataFrame): DataFrame = {
    val words = graft.text.Text.nTokens(col("text")).cast("long")
    val sub = graft.text.Text.bpeishTokenCount(col("text")).cast("long")
    docs.select(col("doc_id"), col("lang"),
      words.as("n_words"), sub.as("n_subwords"),
      when(words > 0, sub.cast("double") / words.cast("double"))
        .as("fertility"))
  }

  val defs: Map[String, Q] = Map(
    // Connors RSI: three-component composite, one fold.
    "q_connors_rsi" -> ((s, dir) =>
      connorsRsi(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Tokenizer fertility: subwords per word, per doc.
    "q_fertility" -> ((s, dir) =>
      fertility(Tables.documents(s, dir)).orderBy(col("doc_id").asc)))

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

  val oracle: Map[String, String] = Map(
    // The recursion carries BOTH Wilder states, the streak, and the
    // ≤100-element return ring (a DOUBLE[] column; undefined returns
    // skipped — the fold's rule). Derived step values build up through
    // the q_psar nested-subquery pattern; RSI readouts and the
    // composite derive in a post-recursion CTE.
    "q_connors_rsi" ->
      s"""WITH RECURSIVE $closeBarsIdxSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(0 AS BIGINT) AS streak,
         |    CAST(0 AS BIGINT) AS sg3, CAST(0 AS BIGINT) AS sl3,
         |    CAST(NULL AS DOUBLE) AS ag3, CAST(NULL AS DOUBLE) AS al3,
         |    CAST(0 AS BIGINT) AS sg2, CAST(0 AS BIGINT) AS sl2,
         |    CAST(NULL AS DOUBLE) AS ag2, CAST(NULL AS DOUBLE) AS al2,
         |    CAST([] AS DOUBLE[]) AS ring,
         |    CAST(NULL AS DOUBLE) AS pr
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT user_id, day, close, i, ns,
         |    sg3 + g3, sl3 + l3,
         |    CASE WHEN j < $CrsiN1 THEN NULL
         |      WHEN j = $CrsiN1
         |        THEN CAST(sg3 + g3 AS DOUBLE) / ${CrsiN1.toDouble}
         |      ELSE (ag3 * ${(CrsiN1 - 1).toDouble} + CAST(g3 AS DOUBLE))
         |        / ${CrsiN1.toDouble} END,
         |    CASE WHEN j < $CrsiN1 THEN NULL
         |      WHEN j = $CrsiN1
         |        THEN CAST(sl3 + l3 AS DOUBLE) / ${CrsiN1.toDouble}
         |      ELSE (al3 * ${(CrsiN1 - 1).toDouble} + CAST(l3 AS DOUBLE))
         |        / ${CrsiN1.toDouble} END,
         |    sg2 + g2, sl2 + l2,
         |    CASE WHEN j < $CrsiN2 THEN NULL
         |      WHEN j = $CrsiN2
         |        THEN CAST(sg2 + g2 AS DOUBLE) / ${CrsiN2.toDouble}
         |      ELSE (ag2 * ${(CrsiN2 - 1).toDouble} + CAST(g2 AS DOUBLE))
         |        / ${CrsiN2.toDouble} END,
         |    CASE WHEN j < $CrsiN2 THEN NULL
         |      WHEN j = $CrsiN2
         |        THEN CAST(sl2 + l2 AS DOUBLE) / ${CrsiN2.toDouble}
         |      ELSE (al2 * ${(CrsiN2 - 1).toDouble} + CAST(l2 AS DOUBLE))
         |        / ${CrsiN2.toDouble} END,
         |    CASE WHEN roc IS NULL THEN ring
         |      ELSE list_slice(list_append(ring, roc),
         |        greatest(len(ring) + 2 - $CrsiPr, 1), len(ring) + 1) END,
         |    CASE WHEN roc IS NOT NULL AND len(ring) = $CrsiPr
         |      THEN CAST(len(list_filter(ring, x -> x < roc)) AS DOUBLE) END
         |  FROM (
         |    SELECT *,
         |      greatest(d, 0) AS g3, greatest(-d, 0) AS l3,
         |      ns - streak AS ds,
         |      greatest(ns - streak, 0) AS g2,
         |      greatest(-(ns - streak), 0) AS l2,
         |      CASE WHEN pc > 0 THEN CAST(d AS DOUBLE) / CAST(pc AS DOUBLE) END
         |        AS roc
         |    FROM (
         |      SELECT b.user_id, b.day, b.close, b.i,
         |        b.i - 1 AS j, b.close - r.close AS d, r.close AS pc,
         |        r.streak,
         |        CASE WHEN b.close > r.close
         |            THEN CASE WHEN r.streak > 0 THEN r.streak + 1 ELSE 1 END
         |          WHEN b.close < r.close
         |            THEN CASE WHEN r.streak < 0 THEN r.streak - 1 ELSE -1 END
         |          ELSE 0 END AS ns,
         |        r.sg3, r.sl3, r.ag3, r.al3,
         |        r.sg2, r.sl2, r.ag2, r.al2, r.ring
         |      FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1))),
         |sc AS (
         |  SELECT user_id, day, close, streak, pr,
         |    CASE WHEN al3 IS NULL THEN NULL WHEN al3 = 0.0 THEN 100.0
         |      ELSE 100.0 - 100.0 / (1.0 + ag3 / al3) END AS rsi3,
         |    CASE WHEN al2 IS NULL THEN NULL WHEN al2 = 0.0 THEN 100.0
         |      ELSE 100.0 - 100.0 / (1.0 + ag2 / al2) END AS rsi2
         |  FROM r)
         |SELECT user_id, day, close AS close_cents, streak,
         |  rsi3, rsi2 AS rsi2_streak, pr AS pct_rank,
         |  CASE WHEN rsi3 IS NOT NULL AND rsi2 IS NOT NULL AND pr IS NOT NULL
         |    THEN (rsi3 + rsi2 + pr) / 3.0 END AS crsi
         |FROM sc ORDER BY user_id, day""".stripMargin,

    "q_fertility" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(${Extensions.sqlTokens("text")}) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS BIGINT) AS n_subwords,
         |  CASE WHEN len(${Extensions.sqlTokens("text")}) > 0
         |    THEN CAST(len(regexp_extract_all(lower(text),
         |        '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS DOUBLE)
         |      / CAST(len(${Extensions.sqlTokens("text")}) AS DOUBLE)
         |  END AS fertility
         |FROM documents ORDER BY doc_id""".stripMargin)
}
