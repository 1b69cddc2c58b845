package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Twenty-second wave — ADX, Wilder's directional movement system: the
  * trend-STRENGTH gauge a charting dashboard pairs with the Donchian /
  * Keltner breakout channels (is this breakout a trend or chop?). The
  * deepest recurrence in the engine: three Wilder-smoothed series
  * (+DM, −DM, TR) feed DX, and ADX is a SECOND Wilder smoothing over
  * the DX series — a recurrence of a recurrence.
  *
  * Definitions (period n = 3 here; bars are the tie-safe daily cent
  * bars):
  *   up = H_t − H_{t−1}, dn = L_{t−1} − L_t
  *   +DM = up if up > dn and up > 0 else 0   (integer cents)
  *   −DM = dn if dn > up and dn > 0 else 0
  *   TR  = max(H−L, |H−prevC|, |L−prevC|)
  *   Wilder smoothing, house convention (q_rsi_wilder / q_keltner):
  *   simple mean of the first n values as the seed, (prev·(n−1) + x)/n
  *   after, null during warm-up.
  *   DI± = 100·avg±DM/avgTR (null when avgTR = 0)
  *   DX  = 100·|avg+DM − avg−DM| / (avg+DM + avg−DM)  — the avgTR
  *         CANCELS between DI difference and DI sum, so DX needs no
  *         TR at all (Wilder's own identity); undefined (null, and not
  *         counted toward ADX warm-up) when both averages are 0.
  *   ADX = Wilder smoothing of the DX SERIES, seeded with the simple
  *         mean of the first n defined DX values.
  *
  * Exact parity: +DM/−DM/TR and their warm-up sums are integers; the
  * smoothed averages and the DX float sum accumulate in DAY ORDER with
  * the same IEEE expression and operand order in all three engines —
  * the batch fold (one Scala step function) and the DuckDB oracle's
  * two chained recursive CTEs (the DMI recurrence, then
  * the ADX recurrence over its dx rows) — so the driver compare is
  * bit-for-bit.
  *
  * Scale shape: identical to q_ema/q_keltner — one groupBy shuffle to
  * per-key day-bar arrays (calendar-bounded length), one O(L)
  * executor-local fold per key, no other shuffle. At 10⁶ keys × 10 y
  * this is 3.7k-element arrays per key, the measured-flat sf1 curve of
  * wave 19.
  */
object Breadth22 {

  private[graft] val AdxN = 3

  /** The full per-bar accumulator, OUTPUTS INCLUDED (outDx is this
    * bar's DX or None — ADX is only emitted on DX-defined bars, exactly
    * the oracle's left-join shape). O(1) per key. */
  private[graft] case class AdxAcc(
      lastH: Long, lastL: Long, lastC: Long,
      j: Long, spdm: Long, smdm: Long, str: Long,
      apdm: Option[Double], amdm: Option[Double], atr: Option[Double],
      k: Long, sdx: Double, adx: Option[Double],
      outDx: Option[Double])

  /** One keyed step of the ADX array fold. */
  private[graft] def adxStep(st: Option[AdxAcc], h: Long, l: Long,
                             c: Long): AdxAcc = {
    val n = AdxN
    st match {
      case None =>
        AdxAcc(h, l, c, 0L, 0L, 0L, 0L, None, None, None, 0L, 0.0, None, None)
      case Some(a) =>
        val up = h - a.lastH
        val dn = a.lastL - l
        val pdm = if (up > dn && up > 0) up else 0L
        val mdm = if (dn > up && dn > 0) dn else 0L
        val tr = math.max(h - l, math.max(math.abs(h - a.lastC),
          math.abs(l - a.lastC)))
        val j = a.j + 1
        val spdm = a.spdm + pdm
        val smdm = a.smdm + mdm
        val str = a.str + tr
        val (apdm, amdm, atr) =
          if (j < n) (None, None, None)
          else if (j == n)
            (Some(spdm.toDouble / 3.0), Some(smdm.toDouble / 3.0),
              Some(str.toDouble / 3.0))
          else
            (Some((a.apdm.get * 2.0 + pdm.toDouble) / 3.0),
              Some((a.amdm.get * 2.0 + mdm.toDouble) / 3.0),
              Some((a.atr.get * 2.0 + tr.toDouble) / 3.0))
        val dxDefined = apdm.isDefined && apdm.get + amdm.get > 0
        if (!dxDefined)
          AdxAcc(h, l, c, j, spdm, smdm, str, apdm, amdm, atr,
            a.k, a.sdx, a.adx, None)
        else {
          val dx = 100.0 * math.abs(apdm.get - amdm.get) / (apdm.get + amdm.get)
          val k = a.k + 1
          val sdx = if (k == 1) dx else a.sdx + dx
          val adx =
            if (k < n) None
            else if (k == n) Some(sdx / 3.0)
            else Some((a.adx.get * 2.0 + dx) / 3.0)
          AdxAcc(h, l, c, j, spdm, smdm, str, apdm, amdm, atr,
            k, sdx, adx, Some(dx))
        }
    }
  }

  /** The four emitted values of an accumulator: DI± when avgTR > 0, this
    * bar's DX, and ADX only on DX-defined bars. */
  private[graft] def adxOut(a: AdxAcc)
      : (Option[Double], Option[Double], Option[Double], Option[Double]) = {
    val scored = a.atr.exists(_ > 0)
    (if (scored) Some(100.0 * a.apdm.get / a.atr.get) else None,
      if (scored) Some(100.0 * a.amdm.get / a.atr.get) else None,
      a.outDx,
      if (a.outDx.isDefined) a.adx else None)
  }

  private[graft] case class AdxRow(di_plus: Option[Double],
                                   di_minus: Option[Double],
                                   dx: Option[Double], adx: Option[Double])

  /** ADX series per key over daily bars: one row per bar (warm-up rows
    * all-null), O(L) fold per key over the collected bar array. */
  private[graft] def adxSeries(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[AdxAcc], b: graft.ops.Bar) =>
        val a = adxStep(st, b.high, b.low, b.close)
        val (dip, dim, dx, adx) = adxOut(a)
        (a, AdxRow(dip, dim, dx, adx))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        s.getField("di_plus").as("di_plus"),
        s.getField("di_minus").as("di_minus"),
        s.getField("dx").as("dx"),
        s.getField("adx").as("adx"))
    }

  val defs: Map[String, Q] = Map(
    // Wilder directional movement system: DI+/DI−, DX, ADX(3).
    "q_adx" -> ((s, dir) =>
      adxSeries(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** Tie-safe daily cent bars + per-key bar index (the Breadth19
    * prefix). */
  private val barsSql =
    """t AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
      |  FROM events),
      |bars AS (
      |  SELECT user_id, day, max(cl) AS close, max(c) AS high, min(c) AS low
      |  FROM (
      |    SELECT user_id, day, c,
      |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
      |    FROM t)
      |  GROUP BY user_id, day),
      |nb AS (
      |  SELECT user_id, day, close, high, low,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
      |  FROM bars)""".stripMargin

  /** The +DM / −DM / TR step expressions against the previous CTE row
    * `a` and the joined bar `b` (repeated inline where the recursive
    * term needs them — the q_macd oracle's spell-it-out discipline). */
  private val pdmSql =
    "CASE WHEN b.high - a.high > a.low - b.low AND b.high - a.high > 0 THEN b.high - a.high ELSE 0 END"
  private val mdmSql =
    "CASE WHEN a.low - b.low > b.high - a.high AND a.low - b.low > 0 THEN a.low - b.low ELSE 0 END"
  private val trSql =
    "greatest(b.high - b.low, abs(b.high - a.close), abs(b.low - a.close))"

  val oracle: Map[String, String] = Map(
    "q_adx" ->
      s"""WITH RECURSIVE $barsSql,
         |dmi AS (
         |  SELECT user_id, day, close, high, low, i,
         |    CAST(0 AS BIGINT) AS j,
         |    CAST(0 AS BIGINT) AS spdm, CAST(0 AS BIGINT) AS smdm,
         |    CAST(0 AS BIGINT) AS str,
         |    CAST(NULL AS DOUBLE) AS apdm, CAST(NULL AS DOUBLE) AS amdm,
         |    CAST(NULL AS DOUBLE) AS atr
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.high, b.low, b.i,
         |    a.j + 1,
         |    a.spdm + $pdmSql,
         |    a.smdm + $mdmSql,
         |    a.str + $trSql,
         |    CASE WHEN a.j + 1 < 3 THEN NULL
         |      WHEN a.j + 1 = 3 THEN CAST(a.spdm + $pdmSql AS DOUBLE) / 3.0
         |      ELSE (a.apdm * 2.0 + CAST($pdmSql AS DOUBLE)) / 3.0 END,
         |    CASE WHEN a.j + 1 < 3 THEN NULL
         |      WHEN a.j + 1 = 3 THEN CAST(a.smdm + $mdmSql AS DOUBLE) / 3.0
         |      ELSE (a.amdm * 2.0 + CAST($mdmSql AS DOUBLE)) / 3.0 END,
         |    CASE WHEN a.j + 1 < 3 THEN NULL
         |      WHEN a.j + 1 = 3 THEN CAST(a.str + $trSql AS DOUBLE) / 3.0
         |      ELSE (a.atr * 2.0 + CAST($trSql AS DOUBLE)) / 3.0 END
         |  FROM dmi a JOIN nb b ON b.user_id = a.user_id AND b.i = a.i + 1),
         |dxr AS (
         |  SELECT user_id, day, apdm, amdm, atr,
         |    CASE WHEN apdm IS NOT NULL AND apdm + amdm > 0
         |      THEN 100.0 * abs(apdm - amdm) / (apdm + amdm) END AS dx
         |  FROM dmi),
         |dxi AS (
         |  SELECT user_id, day, dx,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS k
         |  FROM dxr WHERE dx IS NOT NULL),
         |adxr AS (
         |  SELECT user_id, day, dx, k, dx AS sdx, CAST(NULL AS DOUBLE) AS adx
         |  FROM dxi WHERE k = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.dx, b.k, a.sdx + b.dx,
         |    CASE WHEN b.k < 3 THEN NULL
         |      WHEN b.k = 3 THEN (a.sdx + b.dx) / 3.0
         |      ELSE (a.adx * 2.0 + b.dx) / 3.0 END
         |  FROM adxr a JOIN dxi b ON b.user_id = a.user_id AND b.k = a.k + 1)
         |SELECT d.user_id, d.day,
         |  CASE WHEN d.atr IS NOT NULL AND d.atr > 0
         |    THEN 100.0 * d.apdm / d.atr END AS di_plus,
         |  CASE WHEN d.atr IS NOT NULL AND d.atr > 0
         |    THEN 100.0 * d.amdm / d.atr END AS di_minus,
         |  d.dx, x.adx
         |FROM dxr d LEFT JOIN adxr x
         |  ON d.user_id = x.user_id AND d.day = x.day
         |ORDER BY d.user_id, d.day""".stripMargin)
}
