package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Eleventh relational wave — distribution-level screens over the tick
  * stream: change-point detection, concentration, and drift. These are
  * the monitoring queries a price feed grows once per-row screens
  * (z-score, MAD, Benford) exist: "did this series' LEVEL shift?", "is
  * volume concentrating into few keys?", "did the whole distribution
  * move between cohorts?".
  *
  * Float discipline: every statistic is computed in an INTEGER domain —
  * values quantize to cents via `floor(v·100 + 0.5)` (floor is exact on
  * the identical double product in both engines, unlike a raw
  * double→int cast, which truncates in Spark but rounds in DuckDB) —
  * and the single final division uses identical operands. Integer
  * addition commutes exactly, so no window fold order can move a bit.
  */
object Breadth11 {

  /** CUSUM range per key: with c_i the ordered cent series and
    * T = Σc, the mean-centered prefix sum is s_i = Σ_{j≤i} c_j − i·T/n;
    * scaling by n keeps it integer: S_i = n·Σ_{j≤i} c_j − i·T. The
    * range max(S) − min(S), divided once by n·100, is the classic
    * change-point statistic: a level shift mid-series makes the walk
    * drift far from zero, stationary noise keeps the range small.
    * One window shuffle on the key; running sums are integer (exact in
    * any engine). Int64 headroom: |S| ≤ 2n·|Σc| — at 10⁶ ticks/key of
    * 10⁶-cent prices that is ~2·10¹⁸, the int64 edge; re-center cents
    * per key before scaling if a deployment exceeds it. */
  private[graft] def cusumRange(df: DataFrame, keyCol: String, valCol: String,
                                ordCols: Seq[Column]): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wfull = Window.partitionBy(col(keyCol))
    df.withColumn("__c", cents(col(valCol)))
      .withColumn("__cum", sum(col("__c")).over(run))
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__n", count(lit(1)).over(wfull))
      .withColumn("__tot", sum(col("__c")).over(wfull))
      .withColumn("__s", col("__n") * col("__cum") - col("__i") * col("__tot"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        ((max(col("__s")) - min(col("__s"))).cast("double") /
          (max(col("__n")) * lit(100L)).cast("double")).as("cusum_range"))
  }

  /** Gini concentration over per-key integer volumes x_(1) ≤ … ≤ x_(n)
    * (ties broken by key for a total order): G = (2·Σk·x_(k) − (n+1)·Σx)
    * / (n·Σx). Integer end to end, ONE division. The rank window is a
    * single partition — over the |keys|-sized per-key aggregate, not
    * data rows, the same altitude as a compaction plan.
    *
    * Int64 headroom: the rank-weighted sum Σk·x_(k) is bounded by
    * n_keys² · max per-key cent total; at 10⁶ keys that leaves
    * ~9·10⁶ cents (~\$90k) of per-key volume before 2⁶³ — beyond which
    * non-ANSI Spark wraps silently while DuckDB raises. Mitigation at
    * that scale: re-base each x to (x − min x) before ranking — Gini is
    * NOT shift-invariant, so re-base only the Σk·x term algebraically:
    * Σk·(x−m) = Σk·x − m·n(n+1)/2, computed in two narrower sums and
    * recombined in the final double expression. */
  private[graft] def giniConcentration(df: DataFrame, keyCol: String,
                                       valCol: String): DataFrame = {
    val per = df.groupBy(col(keyCol)).agg(sum(cents(col(valCol))).as("__x"))
    val w = Window.orderBy(col("__x").asc, col(keyCol).asc)
    per.withColumn("__k", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__x")).as("total_cents"),
        ((lit(2L) * sum(col("__k") * col("__x")) -
          (count(lit(1)) + lit(1L)) * sum(col("__x"))).cast("double") /
          (count(lit(1)) * sum(col("__x"))).cast("double")).as("gini"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between cohorts g=0
    * and g=1: D = max_v |F₀(v) − F₁(v)| over the pooled cent values.
    * Cross-multiplied to stay integer — |c₀·n₁ − c₁·n₀| with cumulative
    * counts c_g — then ONE division by n₀·n₁. The scan aggregates to the
    * |distinct cents|-sized value histogram first (bounded by the price
    * domain, not the row count), so the ECDF window is small. */
  private[graft] def ksDrift(df: DataFrame, valCol: String,
                             groupFlag: Column): DataFrame = {
    val hist = df.select(cents(col(valCol)).as("__v"), groupFlag.as("__g"))
      .groupBy(col("__v"))
      .agg(count(when(col("__g") === 0, 1)).as("__d0"),
        count(when(col("__g") === 1, 1)).as("__d1"))
    val run = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist.withColumn("__c0", sum(col("__d0")).over(run))
      .withColumn("__c1", sum(col("__d1")).over(run))
      .withColumn("__n0", sum(col("__d0")).over(all))
      .withColumn("__n1", sum(col("__d1")).over(all))
      .agg(max(col("__n0")).as("n0"), max(col("__n1")).as("n1"),
        (max(abs(col("__c0") * col("__n1") - col("__c1") * col("__n0"))).cast("double") /
          (max(col("__n0")) * max(col("__n1"))).cast("double")).as("ks_stat"))
  }

  val defs: Map[String, Q] = Map(
    // CUSUM change-point screen per price series: range of the
    // mean-centered prefix-sum walk. A feed whose level stepped (new
    // listing tier, decimal-shift bug) scores far above stationary keys.
    "q_cusum" -> ((s, dir) =>
      cusumRange(Tables.events(s, dir), "user_id", "value",
        Seq(col("ts").asc, col("event_id").asc))
        .orderBy(col("user_id").asc)),

    // Volume-concentration report: one-row Gini over per-key volume.
    "q_gini" -> ((s, dir) =>
      giniConcentration(Tables.events(s, dir), "user_id", "value")),

    // Distribution drift between the two deterministic user cohorts
    // (user_id parity — the reproducible A/B split): two-sample KS over
    // cent-quantized values.
    "q_ks_drift" -> ((s, dir) =>
      ksDrift(Tables.events(s, dir), "value", pmod(col("user_id"), lit(2)))))

  val oracle: Map[String, String] = Map(
    "q_cusum" ->
      """WITH c AS (
        |  SELECT user_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cts,
        |    ts, event_id
        |  FROM events),
        |w AS (
        |  SELECT user_id, cts,
        |    sum(cts) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(cts) OVER (PARTITION BY user_id) AS tot
        |  FROM c),
        |s AS (SELECT user_id, n, n * cum - i * tot AS sc FROM w)
        |SELECT user_id, count(*) AS n_ticks,
        |  CAST(max(sc) - min(sc) AS DOUBLE) / CAST(max(n) * 100 AS DOUBLE) AS cusum_range
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_gini" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS k
        |  FROM per)
        |SELECT count(*) AS n_keys, CAST(sum(x) AS BIGINT) AS total_cents,
        |  CAST(2 * sum(k * x) - (count(*) + 1) * sum(x) AS DOUBLE)
        |    / CAST(count(*) * sum(x) AS DOUBLE) AS gini
        |FROM r""".stripMargin,

    "q_ks_drift" ->
      """WITH h AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS d0,
        |    count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS d1
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT
        |    sum(d0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0,
        |    sum(d1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    sum(d0) OVER () AS n0, sum(d1) OVER () AS n1
        |  FROM h)
        |SELECT CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
        |  CAST(max(abs(c0 * n1 - c1 * n0)) AS DOUBLE)
        |    / CAST(max(n0) * max(n1) AS DOUBLE) AS ks_stat
        |FROM e""".stripMargin)
}
