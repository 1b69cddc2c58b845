package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-forty-eighth wave — Wald's SEQUENTIAL PROBABILITY RATIO
  * TEST over the event streams: the always-valid sequential decision
  * rule an experimentation platform runs instead of a fixed-horizon
  * test. Per event_type stream (ordered by ts, event_id), the
  * Bernoulli outcome x = (cents mod 4 = 0) (the deterministic ~25%
  * conversion surrogate) accumulates the log-likelihood ratio of
  * H₁: p = 0.35 against H₀: p = 0.25; the stream decides at the first
  * crossing of ±ln(19) (α = β = 0.05) and reports where and how it
  * decided.
  *
  * Exact-parity discipline: the two LLR increments and the boundary
  * are INTEGER micro-nat constants computed once in Scala
  * (floor(1e6·ln(·))) and interpolated into BOTH the engine plan and
  * the oracle SQL — no libm call runs inside either engine, so the
  * cumulative LLR is an exact integer prefix sum over a total order
  * and the first-crossing index is deterministic. Int64 headroom:
  * |llr| ≤ 336472·n — wraps past n ≈ 2.7e13 observations per stream.
  *
  * Scale shape: one window prefix-sum partitioned by stream key (the
  * per-experiment key at production scale — thousands of concurrent
  * experiments shard naturally), one min-index aggregate, one join
  * back on (stream, index) for the crossing row. Nothing global: the
  * decision is per-key state O(1).
  */
object Breadth147 {

  private[graft] val P0 = 0.25
  private[graft] val P1 = 0.35
  /** floor(1e6·ln(p1/p0)) — the success increment in micro-nats. */
  private[graft] val IncSucc: Long =
    math.floor(1.0e6 * math.log(P1 / P0)).toLong
  /** floor(1e6·ln((1−p1)/(1−p0))) — the failure increment. */
  private[graft] val IncFail: Long =
    math.floor(1.0e6 * math.log((1.0 - P1) / (1.0 - P0))).toLong
  /** floor(1e6·ln((1−β)/α)) at α = β = 0.05 → ln 19. */
  private[graft] val BoundQ: Long =
    math.floor(1.0e6 * math.log(19.0)).toLong

  /** Per-stream LLR trajectory rows (stream, k, x, llr). */
  private[graft] def sprtPath(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    events.select(col("event_type"),
        col("ts"), col("event_id"),
        when(floor(col("value") * 100 + lit(0.5)).cast("long") % 4 === 0,
          1L).otherwise(0L).as("x"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("llr", sum(
        when(col("x") === 1L, lit(IncSucc)).otherwise(lit(IncFail)))
        .over(run))
      .select(col("event_type"), col("k"), col("x"), col("llr"))
  }

  /** The per-stream decision table. `continue` streams report the
    * final state with n_at_decision = −1. */
  private[graft] def sprt(events: DataFrame): DataFrame = {
    val path = sprtPath(events)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = path.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_obs"), sum(col("x")).as("n_success"))
    val firstCross = path
      .filter(col("llr") >= BoundQ || col("llr") <= -BoundQ)
      .groupBy(col("event_type")).agg(min(col("k")).as("__kd"))
      .select(col("event_type").as("__et"), col("__kd"))
    val crossRow = path.join(firstCross,
        path("event_type") === col("__et") && path("k") === col("__kd"))
      .select(col("__et").as("event_type"), col("__kd"),
        col("llr").as("__llrd"))
    totals.join(crossRow, Seq("event_type"), "left")
      .select(col("event_type"), col("n_obs"), col("n_success"),
        (col("n_success").cast("double") / col("n_obs").cast("double"))
          .as("p_hat"),
        when(col("__kd").isNull, "continue")
          .when(col("__llrd") >= BoundQ, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        coalesce(col("__kd"), lit(-1L)).as("n_at_decision"),
        coalesce(col("__llrd"), lit(0L)).as("llr_at_decision"))
      .orderBy(col("event_type").asc)
  }

  /** The audit head: the first 20 trajectory rows of every stream. */
  private[graft] def sprtHead(events: DataFrame): DataFrame =
    sprtPath(events).filter(col("k") <= 20)
      .select(col("event_type"), col("k"), col("x"), col("llr"))
      .orderBy(col("event_type").asc, col("k").asc)

  val defs: Map[String, Q] = Map(
    "q_sprt" -> ((s, dir) => sprt(Tables.events(s, dir))),
    "q_sprt_head" -> ((s, dir) => sprtHead(Tables.events(s, dir))))

  /** Trajectory CTE chain (no leading WITH), shared. */
  private val PathSql: String =
    s"""base AS (
       |  SELECT event_type, ts, event_id,
       |    CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) % 4 = 0
       |      THEN 1 ELSE 0 END AS x
       |  FROM events),
       |path AS (
       |  SELECT event_type,
       |    CAST(row_number() OVER w AS BIGINT) AS k, x,
       |    CAST(sum(CASE WHEN x = 1 THEN $IncSucc ELSE $IncFail END)
       |      OVER w AS BIGINT) AS llr
       |  FROM base
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sprt" ->
      s"""WITH $PathSql,
         |tot AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
         |    CAST(sum(x) AS BIGINT) AS n_success
         |  FROM path GROUP BY event_type),
         |fc AS (
         |  SELECT event_type, CAST(min(k) AS BIGINT) AS kd
         |  FROM path WHERE llr >= $BoundQ OR llr <= -$BoundQ
         |  GROUP BY event_type),
         |cr AS (
         |  SELECT f.event_type, f.kd, p.llr AS llrd
         |  FROM fc f JOIN path p ON f.event_type = p.event_type
         |    AND f.kd = p.k)
         |SELECT t.event_type, t.n_obs, t.n_success,
         |  CAST(t.n_success AS DOUBLE) / CAST(t.n_obs AS DOUBLE) AS p_hat,
         |  CASE WHEN c.kd IS NULL THEN 'continue'
         |    WHEN c.llrd >= $BoundQ THEN 'accept_h1'
         |    ELSE 'accept_h0' END AS decision,
         |  coalesce(c.kd, -1) AS n_at_decision,
         |  coalesce(c.llrd, 0) AS llr_at_decision
         |FROM tot t LEFT JOIN cr c ON t.event_type = c.event_type
         |ORDER BY t.event_type""".stripMargin,

    "q_sprt_head" ->
      s"""WITH $PathSql
         |SELECT event_type, k, x, llr
         |FROM path WHERE k <= 20
         |ORDER BY event_type, k""".stripMargin)
}
