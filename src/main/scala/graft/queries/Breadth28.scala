package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twenty-eighth wave — adaptive/smoothed momentum completions, the
  * last row of the classic indicator menu (reference renders raw
  * history only, `frontend/src/App.js:464-571`):
  *
  *  - NVI/PVI (Fosback's negative/positive volume indices — the
  *    multiplicative recurrence driven by volume DIRECTION);
  *  - TRIX (triple-EMA rate of change);
  *  - KAMA (Kaufman's adaptive MA — the recurrence whose smoothing
  *    coefficient is itself a windowed efficiency ratio);
  *  - mass index (EMA-ratio of bar ranges, window-summed).
  *
  * Exact-parity discipline: every recurrence folds in day order with
  * the SAME IEEE expression and operand order as the recursive-CTE
  * oracle (the Breadth19 discipline; alphas written as division
  * expressions in SQL — the DECIMAL-literal lesson). KAMA's
  * efficiency ratio is an INTEGER quotient (|C_t − C_{t−w}| over the
  * window's Σ|Δ|, both integer cents — one division per bar, computed
  * identically in the fold and in the oracle's window CTE); the mass
  * index quantizes the per-bar EMA ratio to integer 1e-8 units by one
  * identical-operand float expression, then window-sums integers
  * (order-free) with one terminal division.
  *
  * Scale shape: one groupBy to the |keys|·|days| bar table, one
  * executor-local O(L) fold per key (EMA-family shape; KAMA's state
  * is an O(w) close ring, constant per key), and for the mass index
  * one additional key window over the folded ratio rows.
  */
object Breadth28 {

  private[graft] val TrixN = 5
  private[graft] val TrixA = 2.0 / (TrixN + 1.0)
  private[graft] val KamaW = 5
  private[graft] val KamaFastA = 2.0 / 3.0
  private[graft] val KamaSlowA = 2.0 / 11.0
  private[graft] val MassEmaN = 5
  private[graft] val MassEmaA = 2.0 / (MassEmaN + 1.0)
  private[graft] val MassW = 7
  private[graft] val DemaN = 10
  private[graft] val DemaA = 2.0 / (DemaN + 1.0)

  /** NVI/PVI accumulator, O(1) per key. */
  private[graft] case class NviAcc(prevClose: Long, prevVol: Long,
                                   nvi: Double, pvi: Double)

  /** One NVI/PVI step of the batch fold. Both
    * indices seed at 1000; on a volume DOWN day the NVI multiplies by
    * (1 + roc), on a volume UP day the PVI does; equal volume moves
    * neither. roc = (C_t − C_{t−1})/C_{t−1} in the cents domain; a
    * NON-POSITIVE previous close (zero-valued ticks exist in the
    * testdata; `<= 0` rather than `== 0` so a hypothetical negative
    * close takes the same freeze branch as the oracle's `close > 0`
    * guard) leaves roc undefined — both indices freeze, same stance
    * as a volume tie. */
  private[graft] def nviStep(st: Option[NviAcc], c: Long, v: Long): NviAcc =
    st match {
      case None => NviAcc(c, v, 1000.0, 1000.0)
      case Some(a) if a.prevClose <= 0L => NviAcc(c, v, a.nvi, a.pvi)
      case Some(a) =>
        val roc = (c - a.prevClose).toDouble / a.prevClose.toDouble
        val nvi = if (v < a.prevVol) a.nvi * (1.0 + roc) else a.nvi
        val pvi = if (v > a.prevVol) a.pvi * (1.0 + roc) else a.pvi
        NviAcc(c, v, nvi, pvi)
    }

  /** TRIX accumulator: the three EMA stages + the previous e3. */
  private[graft] case class TrixAcc(e1: Double, e2: Double, e3: Double,
                                    prevE3: Double)

  /** One TRIX step — all three EMAs seed at the first close; the
    * emitted rate-of-change (e3/e3_prev − 1, as (e3−prev)/prev) is
    * None on the seed bar. */
  private[graft] def trixStep(st: Option[TrixAcc], c: Long): TrixAcc =
    st match {
      case None => TrixAcc(c.toDouble, c.toDouble, c.toDouble, c.toDouble)
      case Some(a) =>
        val e1 = TrixA * c + (1.0 - TrixA) * a.e1
        val e2 = TrixA * e1 + (1.0 - TrixA) * a.e2
        val e3 = TrixA * e2 + (1.0 - TrixA) * a.e3
        TrixAcc(e1, e2, e3, a.e3)
    }

  /** None on the seed bar AND on a zero previous e3 (an all-zero close
    * history — the rate of change is undefined there). */
  private[graft] def trixOut(st: Option[TrixAcc], a: TrixAcc): Option[Double] =
    if (st.isEmpty || a.prevE3 == 0.0) None
    else Some((a.e3 - a.prevE3) / a.prevE3)

  /** KAMA accumulator: the trailing ≤w closes (oldest first) and the
    * current KAMA (None until the first full window seeds it). */
  private[graft] case class KamaAcc(ring: Seq[Long], kama: Option[Double])

  /** One KAMA step. Until w+1 closes exist there is no full-window
    * efficiency ratio; the FIRST full-window bar seeds KAMA at its
    * close. After that: ER = |C_t − C_{t−w}| / Σ|Δ| (integer cents,
    * one division; a flat window scores ER 0 → the slow coefficient),
    * SC = (ER·(α_f − α_s) + α_s)², KAMA += SC·(C − KAMA). */
  private[graft] def kamaStep(st: Option[KamaAcc], c: Long): KamaAcc = {
    val prev = st.getOrElse(KamaAcc(Nil, None))
    val ring = (prev.ring :+ c).takeRight(KamaW + 1)
    val kama =
      if (ring.length <= KamaW) None
      else prev.kama match {
        case None => Some(c.toDouble)
        case Some(k) =>
          val num = math.abs(c - ring.head)
          val den = ring.sliding(2).map(p => math.abs(p(1) - p(0))).sum
          val er = if (den > 0) num.toDouble / den.toDouble else 0.0
          val sc = {
            val s = er * (KamaFastA - KamaSlowA) + KamaSlowA
            s * s
          }
          Some(k + sc * (c.toDouble - k))
      }
    KamaAcc(ring, kama)
  }

  /** DEMA accumulator: the two chained EMA stages, O(1) per key. */
  private[graft] case class DemaAcc(e1: Double, e2: Double)

  /** One DEMA step of the batch fold. Both stages
    * seed at the first close; e2 smooths the SAME step's new e1 (the
    * TRIX chaining convention). DEMA = 2·e1 − e2 at emit. */
  private[graft] def demaStep(st: Option[DemaAcc], c: Long): DemaAcc =
    st match {
      case None => DemaAcc(c.toDouble, c.toDouble)
      case Some(a) =>
        val e1 = DemaA * c + (1.0 - DemaA) * a.e1
        DemaAcc(e1, DemaA * e1 + (1.0 - DemaA) * a.e2)
    }

  /** DEMA(10) per key — Mulloy's lag-compensated double EMA, the
    * combinator's new-indicator demonstration: one step function
    * (`demaStep`) + one emit struct. Emitted in the
    * price domain (one terminal /100, mirrored by the oracle). */
  private[graft] def dema(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[DemaAcc], b: graft.ops.Bar) =>
        val a = demaStep(st, b.close)
        (a, (2.0 * a.e1 - a.e2) / 100.0)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("dema"))
    }

  /** PPO accumulator: the MACD fast/slow EMA pair (PPO(12,26) shares
    * Breadth19's alphas). */
  private[graft] case class PpoAcc(e12: Double, e26: Double)

  /** One PPO step — both EMAs seed at the first close. */
  private[graft] def ppoStep(st: Option[PpoAcc], c: Long): PpoAcc =
    st match {
      case None => PpoAcc(c.toDouble, c.toDouble)
      case Some(a) => PpoAcc(
        Breadth19.A12 * c + (1.0 - Breadth19.A12) * a.e12,
        Breadth19.A26 * c + (1.0 - Breadth19.A26) * a.e26)
    }

  /** Percentage price oscillator per key: 100·(EMA12 − EMA26)/EMA26 —
    * MACD's scale-free sibling (comparable across price levels, the
    * screener normalization). Null while the slow EMA is 0 (an all-zero
    * close prefix — the ratio is undefined there). */
  private[graft] def ppo(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[PpoAcc], b: graft.ops.Bar) =>
        val a = ppoStep(st, b.close)
        (a, if (a.e26 != 0.0) Some(100.0 * (a.e12 - a.e26) / a.e26)
            else None)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("ppo"))
    }

  private[graft] val ElderA = 2.0 / 14.0

  /** Elder Ray per key: EMA-13 midline with bull power (H − EMA) and
    * bear power (L − EMA) — the trend-strength decomposition over the
    * same bar grid; one EMA fold, high/low read at emit. */
  private[graft] def elderRay(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[Double], b: graft.ops.Bar) =>
        val e = st match {
          case None => b.close.toDouble
          case Some(p) => ElderA * b.close + (1.0 - ElderA) * p
        }
        (e, e)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        (s / lit(100.0)).as("ema13"),
        ((b.getField("high").cast("double") - s) / lit(100.0))
          .as("bull_power"),
        ((b.getField("low").cast("double") - s) / lit(100.0))
          .as("bear_power"))
    }

  /** NVI + PVI per key over volume-carrying daily bars — one
    * Recurrence.series fold (volume-joined: no-quantity days drop). */
  private[graft] def nviPvi(df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String,
                            qtyJsonField: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak,
        Some(qtyJsonField)) { (st: Option[NviAcc], b: graft.ops.Bar) =>
      val a = nviStep(st, b.close, b.vol)
      (a, (a.nvi, a.pvi))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("_1").as("nvi"), s.getField("_2").as("pvi"))
    }

  /** TRIX per key (triple-EMA rate of change; null on the seed bar). */
  private[graft] def trix(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[TrixAcc], b: graft.ops.Bar) =>
        val a = trixStep(st, b.close)
        (a, (a.e3, trixOut(st, a)))
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"),
        s.getField("_1").as("e3"), s.getField("_2").as("trix"))
    }

  /** KAMA per key (adaptive MA; null during the w-bar warm-up). */
  private[graft] def kama(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, tieBreak: String): DataFrame =
    graft.ops.Recurrence.series(df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[KamaAcc], b: graft.ops.Bar) =>
        val a = kamaStep(st, b.close)
        (a, a.kama)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("kama"))
    }
      .filter(col("kama").isNotNull)
      .select(col(keyCol), col("day"), col("close_cents"),
        (col("kama") / lit(100.0)).as("kama"))

  /** Mass index per key: EMA(range) over EMA(EMA(range)), the per-bar
    * ratio quantized to integer 1e-8 units, window-summed over
    * `MassW` bars (full windows only; an all-doji EMA pair scores 0 —
    * e2 can only be 0 when every range is 0). The EMA pair is one
    * Recurrence fold (e2 reads the SAME step's new e1); the window sum
    * rides on the emitted quanta. */
  /** One mass-index EMA-pair step over a bar's range, emitting the
    * 1e-8-quantized ratio. */
  private[graft] def massRatioStep(st: Option[(Double, Double)],
                                   high: Long, low: Long)
      : ((Double, Double), Long) = {
    val rng = (high - low).toDouble
    val (e1, e2) = st match {
      case None => (rng, rng)
      case Some((p1, p2)) =>
        val n1 = MassEmaA * rng + (1.0 - MassEmaA) * p1
        (n1, MassEmaA * n1 + (1.0 - MassEmaA) * p2)
    }
    ((e1, e2), if (e2 > 0) math.floor(1.0e8 * e1 / e2).toLong else 0L)
  }

  private[graft] def massIndex(df: DataFrame, keyCol: String, tsCol: String,
                               valCol: String, tieBreak: String): DataFrame = {
    val folded = graft.ops.Recurrence.series(
        df, keyCol, tsCol, valCol, tieBreak) {
      (st: Option[(Double, Double)], b: graft.ops.Bar) =>
        massRatioStep(st, b.high, b.low)
    } { (b, s) =>
      struct(b.getField("day").as("day"),
        b.getField("close").as("close_cents"), s.as("ratio_q"))
    }
    val f = Window.partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(-(MassW - 1), 0)
    folded.withColumn("__n", count(lit(1)).over(f))
      .withColumn("__sum", sum(col("ratio_q")).over(f))
      .filter(col("__n") === MassW)
      .select(col(keyCol), col("day"), col("close_cents"),
        col("__sum").as("sum_ratio_q"),
        (col("__sum").cast("double") / lit(1.0e8)).as("mass_index"))
  }

  val defs: Map[String, Q] = Map(
    // Fosback NVI/PVI: volume-direction-gated multiplicative indices.
    "q_nvi_pvi" -> ((s, dir) =>
      nviPvi(Tables.events(s, dir), "user_id", "ts", "value", "event_id",
        "k")
        .orderBy(col("user_id").asc, col("day").asc)),

    // DEMA(10): Mulloy's lag-compensated double EMA.
    "q_dema" -> ((s, dir) =>
      dema(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // PPO(12,26): MACD normalized to the slow EMA (scale-free).
    "q_ppo" -> ((s, dir) =>
      ppo(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Elder Ray: EMA-13 mid + bull/bear power.
    "q_elder_ray" -> ((s, dir) =>
      elderRay(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // TRIX: triple-EMA rate of change.
    "q_trix" -> ((s, dir) =>
      trix(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // KAMA: efficiency-ratio-adaptive moving average.
    "q_kama" -> ((s, dir) =>
      kama(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)),

    // Mass index: window-summed EMA-ratio of bar ranges.
    "q_mass_index" -> ((s, dir) =>
      massIndex(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)))

  /** Close-only bars + per-key bar index (the Breadth19 oracle shape). */
  private val closeBarsSql =
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
    "q_nvi_pvi" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id, props
         |  FROM events),
         |bars AS (
         |  SELECT user_id, day, max(cl) AS close
         |  FROM (
         |    SELECT user_id, day,
         |      last_value(c) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
         |    FROM t)
         |  GROUP BY user_id, day),
         |vols AS (
         |  SELECT user_id, day,
         |    CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS v
         |  FROM t GROUP BY user_id, day),
         |nb AS (
         |  SELECT b.user_id, b.day, b.close, v.v,
         |    CAST(row_number() OVER (PARTITION BY b.user_id ORDER BY b.day) AS BIGINT) AS i
         |  FROM bars b JOIN vols v ON b.user_id = v.user_id AND b.day = v.day
         |  WHERE v.v IS NOT NULL),
         |r AS (
         |  SELECT user_id, day, close, v, i,
         |    CAST(1000.0 AS DOUBLE) AS nvi, CAST(1000.0 AS DOUBLE) AS pvi
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.v, b.i,
         |    CASE WHEN b.v < r.v AND r.close > 0
         |      THEN r.nvi * (1.0 + CAST(b.close - r.close AS DOUBLE)
         |        / CAST(r.close AS DOUBLE))
         |      ELSE r.nvi END,
         |    CASE WHEN b.v > r.v AND r.close > 0
         |      THEN r.pvi * (1.0 + CAST(b.close - r.close AS DOUBLE)
         |        / CAST(r.close AS DOUBLE))
         |      ELSE r.pvi END
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents, nvi, pvi
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_ppo" ->
      s"""WITH RECURSIVE $closeBarsSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS e12, CAST(close AS DOUBLE) AS e26
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/13.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/13.0) * r.e12,
         |    (2.0/27.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/27.0) * r.e26
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  CASE WHEN e26 <> 0 THEN 100.0 * (e12 - e26) / e26 END AS ppo
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_elder_ray" ->
      s"""WITH RECURSIVE t AS (
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
         |  FROM bars),
         |r AS (
         |  SELECT user_id, day, close, high, low, i,
         |    CAST(close AS DOUBLE) AS e
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.high, b.low, b.i,
         |    (2.0/14.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/14.0) * r.e
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  e / 100.0 AS ema13,
         |  (CAST(high AS DOUBLE) - e) / 100.0 AS bull_power,
         |  (CAST(low AS DOUBLE) - e) / 100.0 AS bear_power
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_dema" ->
      s"""WITH RECURSIVE $closeBarsSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS e1, CAST(close AS DOUBLE) AS e2
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/11.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/11.0) * r.e1,
         |    (2.0/11.0) * ((2.0/11.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/11.0) * r.e1)
         |      + (1.0 - 2.0/11.0) * r.e2
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  (2.0 * e1 - e2) / 100.0 AS dema
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_trix" ->
      s"""WITH RECURSIVE $closeBarsSql,
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(close AS DOUBLE) AS e1, CAST(close AS DOUBLE) AS e2,
         |    CAST(close AS DOUBLE) AS e3, CAST(close AS DOUBLE) AS pe3,
         |    CAST(NULL AS DOUBLE) AS trix
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/6.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1,
         |    (2.0/6.0) * ((2.0/6.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1)
         |      + (1.0 - 2.0/6.0) * r.e2,
         |    (2.0/6.0) * ((2.0/6.0) * ((2.0/6.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1)
         |      + (1.0 - 2.0/6.0) * r.e2) + (1.0 - 2.0/6.0) * r.e3,
         |    r.e3,
         |    CASE WHEN r.e3 <> 0 THEN
         |      (((2.0/6.0) * ((2.0/6.0) * ((2.0/6.0) * CAST(b.close AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1)
         |        + (1.0 - 2.0/6.0) * r.e2) + (1.0 - 2.0/6.0) * r.e3) - r.e3) / r.e3
         |    END
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents, e3, trix
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_kama" ->
      s"""WITH RECURSIVE $closeBarsSql,
         |er AS (
         |  SELECT user_id, day, close, i,
         |    abs(close - lag(close, $KamaW) OVER w) AS num,
         |    CAST(sum(abs(close - pc)) OVER
         |      (PARTITION BY user_id ORDER BY i
         |       ROWS BETWEEN ${KamaW - 1} PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS den
         |  FROM (
         |    SELECT user_id, day, close, i,
         |      lag(close) OVER (PARTITION BY user_id ORDER BY i) AS pc
         |    FROM nb)
         |  WINDOW w AS (PARTITION BY user_id ORDER BY i)),
         |r AS (
         |  SELECT user_id, day, close, i, CAST(close AS DOUBLE) AS kama
         |  FROM er WHERE i = ${KamaW + 1}
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    r.kama +
         |      ((CASE WHEN b.den > 0
         |          THEN CAST(b.num AS DOUBLE) / CAST(b.den AS DOUBLE)
         |          ELSE 0.0 END) * (2.0/3.0 - 2.0/11.0) + 2.0/11.0)
         |      * ((CASE WHEN b.den > 0
         |          THEN CAST(b.num AS DOUBLE) / CAST(b.den AS DOUBLE)
         |          ELSE 0.0 END) * (2.0/3.0 - 2.0/11.0) + 2.0/11.0)
         |      * (CAST(b.close AS DOUBLE) - r.kama)
         |  FROM r JOIN er b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, day, close AS close_cents,
         |  kama / 100.0 AS kama
         |FROM r ORDER BY user_id, day""".stripMargin,

    "q_mass_index" ->
      s"""WITH RECURSIVE t AS (
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
         |  SELECT user_id, day, close, high - low AS rng,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
         |  FROM bars),
         |r AS (
         |  SELECT user_id, day, close, i,
         |    CAST(rng AS DOUBLE) AS e1, CAST(rng AS DOUBLE) AS e2
         |  FROM nb WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.day, b.close, b.i,
         |    (2.0/6.0) * CAST(b.rng AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1,
         |    (2.0/6.0) * ((2.0/6.0) * CAST(b.rng AS DOUBLE) + (1.0 - 2.0/6.0) * r.e1)
         |      + (1.0 - 2.0/6.0) * r.e2
         |  FROM r JOIN nb b ON b.user_id = r.user_id AND b.i = r.i + 1),
         |q AS (
         |  SELECT user_id, day, close,
         |    CASE WHEN e2 > 0
         |      THEN CAST(floor(1.0e8 * e1 / e2) AS BIGINT) ELSE 0 END AS rq
         |  FROM r),
         |w AS (
         |  SELECT user_id, day, close,
         |    count(*) OVER f AS n, CAST(sum(rq) OVER f AS BIGINT) AS srq
         |  FROM q
         |  WINDOW f AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN ${MassW - 1} PRECEDING AND CURRENT ROW))
         |SELECT user_id, day, close AS close_cents, srq AS sum_ratio_q,
         |  CAST(srq AS DOUBLE) / 1.0e8 AS mass_index
         |FROM w WHERE n = $MassW ORDER BY user_id, day""".stripMargin)
}
