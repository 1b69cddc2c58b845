package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hundred-nineteenth wave — state-space smoothing and elastic series
  * alignment, the two time-series shapes the recurrence/indicator tier
  * did not yet cover:
  *
  *  - **q_kalman**: the 1-D local-level Kalman filter per key over the
  *    daily close series (process noise Q = 4, observation noise
  *    R = 64, both in cent² — binary-exact double constants). Seeded at
  *    the first close with P₀ = R; every later bar runs
  *    predict-update: P⁻ = P + Q, K = P⁻/(P⁻ + R),
  *    x ← x + K·(z − x), P ← (1 − K)·P⁻. The fold is the shared
  *    Recurrence combinator; the oracle's recursive CTE repeats the
  *    SAME IEEE operand order, so the unrounded doubles hash-match
  *    bit-exactly (the q_holt_winters precedent).
  *  - **q_dtw_market**: dynamic-time-warping distance from each key's
  *    close series to the MARKET series (the per-day rank-exact lower
  *    median close across keys) — "which keys move like the market,
  *    allowing elastic time shifts". ALL-INTEGER: costs are |cent
  *    diffs|, the DP carries integer sums, so the distance is exact on
  *    both engines. The oracle replicates the DP by anti-diagonal
  *    recursion (diagonal k depends only on diagonals k−1, k−2 — each
  *    a bounded list column in the recursive CTE, vectorized per
  *    diagonal with list_transform).
  *
  * Scale shape: Kalman is the memoized bar grid + one O(L) fold per
  * key (calendar-bounded L). DTW per key is O(n·m) with m = |days| —
  * calendar-bounded on both axes, so the quadratic never touches data
  * volume; the market series rides as ONE broadcast row. At long
  * horizons the Sakoe–Chiba band (`dtwBanded`) caps each row's DP width
  * at Θ(band); the calendar-scale query runs it at band = max(n, m),
  * the exact full-DP point (equivalence + monotonicity pinned in
  * Wave124Spec). */
object Breadth118 {

  /** Binary-exact noise constants (cent² units). */
  private[graft] val KalmanQ = 4.0
  private[graft] val KalmanR = 64.0

  /** Kalman accumulator: posterior mean (cents), posterior variance,
    * and this step's gain, O(1) per key. */
  private[graft] case class KalmanAcc(x: Double, p: Double, k: Double)

  /** One local-level Kalman step of the batch fold. The first bar seeds
    * x = z, P = R (gain 1 by convention: the seed IS the observation). */
  private[graft] def kalmanStep(st: Option[KalmanAcc], c: Long): KalmanAcc =
    st match {
      case None => KalmanAcc(c.toDouble, KalmanR, 1.0)
      case Some(a) =>
        val pp = a.p + KalmanQ
        val k = pp / (pp + KalmanR)
        KalmanAcc(a.x + k * (c.toDouble - a.x), (1.0 - k) * pp, k)
    }

  /** Filtered level (price domain) + gain per bar per key. */
  private[graft] def kalman(df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[KalmanAcc], b: graft.ops.Bar) =>
        val a = kalmanStep(st, b.close)
        (a, (a.x / 100.0, a.k))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("_1").as("kalman"), s.getField("_2").as("gain"))
    }

  /** Sentinel for "no warping path within the band". */
  private[graft] val DtwInf = Long.MaxValue / 4

  /** Sakoe–Chiba-banded O(n·band) DTW over two integer series with |·|
    * cell cost — executor-local, one call per key. Cells with
    * |i − j| > band are +∞; band ≥ max(n, m) degenerates to the full
    * O(n·m) DP bit-exactly (pinned in Wave124Spec, with the monotone
    * distance-growth property as the band narrows — a band is a PATH
    * RESTRICTION, so banded distance can only be ≥ the full one).
    * Border convention: c(0,0) = 0, other borders +∞, so
    * c(1,1) = d(1,1). Returns DtwInf when |n − m| > band (no monotone
    * path can end at (n, m) inside the band).
    *
    * The production knob the calendar-scale queries didn't need: at
    * horizon L days the full DP is Θ(L²) per key; band w caps it at
    * Θ(L·w), and for market alignment w ≈ a few weeks bounds how far
    * time may warp — wider is semantically meaningless drift. */
  private[graft] def dtwBanded(a: Seq[Long], b: Seq[Long],
                               band: Long): Long = {
    val n = a.length; val m = b.length
    if (math.abs(n - m) > band) return DtwInf
    if (n == 0 || m == 0) return if (n == m) 0L else DtwInf
    var prev = Array.fill(m + 1)(DtwInf)
    prev(0) = 0L
    var cur = Array.fill(m + 1)(DtwInf)
    var i = 1
    while (i <= n) {
      val jLo = math.max(1L, i - band).toInt
      val jHi = math.min(m.toLong, i + band).toInt
      var j = jLo
      while (j <= jHi) {
        val d = math.abs(a(i - 1) - b(j - 1))
        val best = math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        // out-of-band neighbours hold ≥ DtwInf from the row fill; keep
        // the sentinel saturated instead of accumulating d past it
        cur(j) = if (best >= DtwInf) DtwInf else d + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, DtwInf)
      prev(0) = DtwInf // only row 0 opens from the (0,0) corner
      i += 1
    }
    prev(m)
  }

  /** The banded DP as a UDF; q_dtw_market calls it at band = max(n, m)
    * (the exact full-DP point — calendar horizons are band-free). */
  private[graft] val dtwUdf =
    udf { (a: Seq[Long], b: Seq[Long], band: Long) => dtwBanded(a, b, band) }

  /** DTW distance of each key's day-close series to the market's
    * per-day lower-median close series. */
  private[graft] def dtwMarket(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame = {
    val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
    // rank-exact per-day lower median of the key cross-section
    val vc = bars.groupBy(col("day"), col("close").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col("day")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(col("day"))
    val med = vc
      .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(all))
      .withColumn("__k", shiftright(col("__n") + 1L, 1))
      .groupBy(col("day"))
      .agg(max(when(col("__k") > col("__pre") &&
        col("__k") <= col("__pre") + col("__cnt"), col("__v"))).as("__mv"))
    val bseq = med.groupBy()
      .agg(sort_array(collect_list(struct(col("day"), col("__mv"))))
        .as("__bs"))
      .select(transform(col("__bs"), _.getField("__mv")).as("__b"),
        size(col("__bs")).cast("long").as("m_bars"))
    val aseq = bars.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("close"))))
        .as("__as"))
      .select(col(keyCol), transform(col("__as"), _.getField("close")).as("__a"),
        size(col("__as")).cast("long").as("n_bars"))
    aseq.crossJoin(broadcast(bseq))
      .withColumn("dtw", dtwUdf(col("__a"), col("__b"),
        greatest(col("n_bars"), col("m_bars"))))
      .select(col(keyCol), col("n_bars"), col("m_bars"), col("dtw"),
        (col("dtw").cast("double") /
          (col("n_bars") + col("m_bars")).cast("double")).as("dtw_norm"))
      .orderBy(col(keyCol).asc)
  }

  val defs: Map[String, Q] = Map(
    "q_kalman" -> ((s, dir) =>
      kalman(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),
    "q_dtw_market" -> ((s, dir) =>
      dtwMarket(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  /** The per-key indexed close-bar chain (the Breadth28 nb shape). */
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
    "q_kalman" ->
      s"""WITH RECURSIVE $NbSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS x, CAST(64.0 AS DOUBLE) AS p,
         |    CAST(1.0 AS DOUBLE) AS k
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    r.x + ((r.p + 4.0) / ((r.p + 4.0) + 64.0))
         |      * (CAST(b.close AS DOUBLE) - r.x),
         |    (1.0 - ((r.p + 4.0) / ((r.p + 4.0) + 64.0))) * (r.p + 4.0),
         |    (r.p + 4.0) / ((r.p + 4.0) + 64.0)
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  x / 100.0 AS kalman, k AS gain
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_dtw_market" ->
      s"""WITH RECURSIVE $NbSql,
         |vc AS (
         |  SELECT day, close AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM bars GROUP BY 1, 2),
         |rk AS (
         |  SELECT day, v, cnt,
         |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY day ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pre,
         |    CAST(sum(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
         |  FROM vc),
         |med AS (
         |  SELECT day, CAST(max(CASE WHEN (n + 1) // 2 > pre
         |    AND (n + 1) // 2 <= pre + cnt THEN v END) AS BIGINT) AS mv
         |  FROM rk GROUP BY 1),
         |bseq AS (
         |  SELECT list(mv ORDER BY day) AS b,
         |    CAST(count(*) AS BIGINT) AS m FROM med),
         |aseq AS (
         |  SELECT user_id, list(close ORDER BY day) AS a,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM bars GROUP BY 1),
         |ab AS (SELECT user_id, a, n, b, m FROM aseq, bseq),
         |dp AS (
         |  SELECT user_id, n, m, a, b, CAST(1 AS BIGINT) AS k,
         |    CAST([] AS BIGINT[]) AS prev2,
         |    [abs(a[1] - b[1])] AS prev
         |  FROM ab
         |  UNION ALL
         |  SELECT user_id, n, m, a, b, k + 1,
         |    prev,
         |    list_transform(
         |      generate_series(greatest(1, k + 2 - m), least(k + 1, n)),
         |      i -> abs(a[i] - b[k + 2 - i]) + least(
         |        CASE WHEN i - 1 >= greatest(1, k + 1 - m)
         |               AND i - 1 <= least(k, n)
         |             THEN prev[i - 1 - greatest(1, k + 1 - m) + 1]
         |             ELSE 4611686018427387904 END,
         |        CASE WHEN i >= greatest(1, k + 1 - m)
         |               AND i <= least(k, n)
         |             THEN prev[i - greatest(1, k + 1 - m) + 1]
         |             ELSE 4611686018427387904 END,
         |        CASE WHEN i - 1 >= greatest(1, k - m)
         |               AND i - 1 <= least(k - 1, n)
         |             THEN prev2[i - 1 - greatest(1, k - m) + 1]
         |             ELSE 4611686018427387904 END))
         |  FROM dp WHERE k + 1 <= n + m - 1)
         |SELECT user_id, n AS n_bars, m AS m_bars,
         |  CAST(prev[1] AS BIGINT) AS dtw,
         |  CAST(CAST(prev[1] AS BIGINT) AS DOUBLE)
         |    / CAST(n + m AS DOUBLE) AS dtw_norm
         |FROM dp WHERE k = n + m - 1
         |ORDER BY user_id""".stripMargin)
}
