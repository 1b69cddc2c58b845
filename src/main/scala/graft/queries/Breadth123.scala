package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-twenty-fourth wave — a corpus-dedup diagnostic and a
  * clamped-accumulator recurrence:
  *
  *  - **q_dup_ngram_coverage**: per document, the fraction of its
  *    5-gram positions whose gram occurs ≥2 times in the WHOLE corpus
  *    — the "duplicate n-gram fraction" a training-data pipeline
  *    tracks to decide whether span-level dedup is worth running
  *    (document-level dedup misses exactly this mass). Inverted-list
  *    shape: one posexplode, grams by window lead, one |grams|-bounded
  *    count join — never doc×doc.
  *  - **q_clamped_balance**: per key, the running balance of day moves
  *    clamped at zero — b_t = max(0, b_{t-1} + Δclose_t), the
  *    inventory/withdrawal semantics. The clamp makes it a true
  *    recurrence (no window frame or prefix-sum rewrite expresses it):
  *    all-integer fold on the shared combinator and a recursive-CTE
  *    oracle.
  *
  * Scale shape: grams partial-aggregate map-side and the gram count
  * table is |distinct grams|-bounded; the balance fold is the memoized
  * bar grid + O(L) per key. */
object Breadth123 {

  /** Per-document duplicate-5-gram coverage. */
  private[graft] def dupNgramCoverage(docs: DataFrame, idCol: String,
                                      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(graft.text.Text.tokens(col(textCol)))
        .as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos").asc)
    // concat (not concat_ws) so a missing tail token nulls the gram —
    // the oracle's || NULL propagation
    val grams = toks
      .withColumn("__g", concat(
        col("__tok"), lit(" "), lead(col("__tok"), 1).over(w),
        lit(" "), lead(col("__tok"), 2).over(w),
        lit(" "), lead(col("__tok"), 3).over(w),
        lit(" "), lead(col("__tok"), 4).over(w)))
      .filter(col("__g").isNotNull)
      .select(col(idCol), col("__g"))
    val gc = grams.groupBy(col("__g")).agg(count(lit(1)).as("__c"))
    val per = grams.join(gc, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_coverage"))
      .orderBy(col(idCol).asc)
  }

  /** Clamp accumulator: previous close + clamped balance, O(1) per
    * key. */
  private[graft] case class ClampAcc(prevClose: Long, bal: Long)

  /** One clamped-balance step of the batch fold.
    * The first bar opens flat (balance 0, no move). */
  private[graft] def clampStep(st: Option[ClampAcc], c: Long): ClampAcc =
    st match {
      case None => ClampAcc(c, 0L)
      case Some(a) => ClampAcc(c, math.max(0L, a.bal + (c - a.prevClose)))
    }

  /** Zero-clamped running balance of day moves per key. */
  private[graft] def clampedBalance(df: DataFrame, keyCol: String,
                                    tsCol: String, valCol: String,
                                    tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[ClampAcc], b: graft.ops.Bar) =>
        val a = clampStep(st, b.close)
        (a, a.bal)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("balance"))
    }

  val defs: Map[String, Q] = Map(
    "q_dup_ngram_coverage" -> ((s, dir) =>
      dupNgramCoverage(Tables.documents(s, dir), "doc_id", "text")),
    "q_clamped_balance" -> ((s, dir) =>
      clampedBalance(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  private val NbSql =
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
    "q_dup_ngram_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      AS tok,
        |    unnest(range(1, len(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      + 1)) AS pos
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id,
        |      tok || ' ' || lead(tok, 1) OVER w || ' '
        |        || lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w
        |        || ' ' || lead(tok, 4) OVER w AS g
        |    FROM tok
        |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |  WHERE g IS NOT NULL),
        |gc AS (SELECT g, CAST(count(*) AS BIGINT) AS c
        |  FROM grams GROUP BY 1),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM grams JOIN gc USING (g)
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(per.n_grams, 0) AS n_grams,
        |  COALESCE(per.n_dup, 0) AS n_dup,
        |  CASE WHEN COALESCE(per.n_grams, 0) > 0 THEN
        |    CAST(per.n_dup AS DOUBLE) / CAST(per.n_grams AS DOUBLE)
        |  END AS dup_coverage
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_clamped_balance" ->
      s"""WITH RECURSIVE $NbSql,
         |r AS (
         |  SELECT user_id, day, close, i, CAST(0 AS BIGINT) AS bal
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    greatest(CAST(0 AS BIGINT), r.bal + (b.close - r.close))
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents, bal AS balance
         |FROM r ORDER BY user_id, day""".stripMargin)
}
