package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hundred-thirty-first wave — **q_page_hinkley**: the Page–Hinkley
  * drift detector over each key's daily close series — THE online
  * change alarm ML-serving pipelines run against feature/score
  * streams. Running state per key: count, sum (for the running mean),
  * the cumulative deviation m_t = m_{t−1} + (x_t − mean_t − δ), its
  * running minimum, and the absorbing alarm flag for
  * m_t − min m > λ. δ = 0.5 and λ = 500 cent units are binary-exact
  * doubles; every step is the same IEEE operand order in the fold and
  * the oracle's recursive CTE, so the unrounded doubles hash-match (the
  * q_kalman precedent).
  *
  * Scale shape: the memoized bar grid + one O(L) fold per key. */
object Breadth130 {

  /** Binary-exact detector constants (cent units). */
  private[graft] val PhDelta = 0.5
  private[graft] val PhLambda = 500.0

  /** Page–Hinkley accumulator, O(1) per key. */
  private[graft] case class PhAcc(n: Long, sum: Long, m: Double,
                                  minM: Double, alarmed: Boolean)

  /** One Page–Hinkley step of the batch fold. */
  private[graft] def phStep(st: Option[PhAcc], c: Long): PhAcc = {
    val prev = st.getOrElse(PhAcc(0L, 0L, 0.0, 0.0, alarmed = false))
    val n = prev.n + 1
    val sum = prev.sum + c
    val mean = sum.toDouble / n.toDouble
    val m = prev.m + (c.toDouble - mean - PhDelta)
    val minM = math.min(prev.minM, m)
    PhAcc(n, sum, m, minM, prev.alarmed || (m - minM > PhLambda))
  }

  /** Per-bar PH statistic + alarm per key. */
  private[graft] def pageHinkley(df: DataFrame, keyCol: String,
                                 tsCol: String, valCol: String,
                                 tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[PhAcc], b: graft.ops.Bar) =>
        val a = phStep(st, b.close)
        (a, (a.m, a.m - a.minM, a.alarmed))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("_1").as("ph_m"), s.getField("_2").as("ph_stat"),
        s.getField("_3").as("alarmed"))
    }

  val defs: Map[String, Q] = Map(
    "q_page_hinkley" -> ((s, dir) =>
      pageHinkley(Tables.events(s, dir), "user_id", "ts", "value",
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
    "q_page_hinkley" ->
      s"""WITH RECURSIVE $NbSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(1 AS BIGINT) AS n, close AS s,
         |    (CAST(close AS DOUBLE)
         |      - (CAST(close AS DOUBLE) / CAST(1 AS DOUBLE)) - 0.5) AS m,
         |    least(CAST(0.0 AS DOUBLE),
         |      (CAST(close AS DOUBLE)
         |        - (CAST(close AS DOUBLE) / CAST(1 AS DOUBLE)) - 0.5))
         |      AS minm,
         |    ((CAST(close AS DOUBLE)
         |        - (CAST(close AS DOUBLE) / CAST(1 AS DOUBLE)) - 0.5)
         |      - least(CAST(0.0 AS DOUBLE),
         |        (CAST(close AS DOUBLE)
         |          - (CAST(close AS DOUBLE) / CAST(1 AS DOUBLE)) - 0.5))
         |      > 500.0) AS alarmed
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    r.n + 1, r.s + b.close,
         |    r.m + (CAST(b.close AS DOUBLE)
         |      - (CAST(r.s + b.close AS DOUBLE)
         |        / CAST(r.n + 1 AS DOUBLE)) - 0.5),
         |    least(r.minm, r.m + (CAST(b.close AS DOUBLE)
         |      - (CAST(r.s + b.close AS DOUBLE)
         |        / CAST(r.n + 1 AS DOUBLE)) - 0.5)),
         |    r.alarmed OR ((r.m + (CAST(b.close AS DOUBLE)
         |        - (CAST(r.s + b.close AS DOUBLE)
         |          / CAST(r.n + 1 AS DOUBLE)) - 0.5))
         |      - least(r.minm, r.m + (CAST(b.close AS DOUBLE)
         |        - (CAST(r.s + b.close AS DOUBLE)
         |          / CAST(r.n + 1 AS DOUBLE)) - 0.5)) > 500.0)
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  m AS ph_m, m - minm AS ph_stat, alarmed
         |FROM r ORDER BY user_id, day""".stripMargin)
}
