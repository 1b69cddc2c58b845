package graft.streaming

import java.util.concurrent.CompletionException

import graft.ops.Latest
import graft.queries.{Breadth22, Breadth23, Breadth24, Breadth27, Breadth28,
  Breadth30, Breadth31, Breadth33, Breadth34, Breadth35, Breadth44, Breadth45,
  Breadth52, Breadth69, Breadth85, Breadth99, Breadth118, Breadth123, Breadth130,
  Breadth146, Breadth147, Breadth178}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Row shape shared by the typed stateful operators. ts is LocalDateTime
  * so the encoder maps to TIMESTAMP_NTZ — composing with `eventSchema`
  * (a java.sql.Timestamp field would encode LTZ and fail the up-cast). */
case class EventRow(event_id: Long, ts: java.time.LocalDateTime, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Per-key state of the incremental latest-snapshot operator. */
case class LatestState(maxTsMicros: Long, eventId: Long, value: Double)

/** Per-key state of the schema-generic latest-snapshot operator: the
  * full latest event row plus its pre-extracted µs timestamp (the tie
  * key, so stale probes compare without re-deriving it). */
case class LatestRowState(maxTsMicros: Long, row: EventRow)

/** Per-key state of the streaming z-score screen: the trailing ≤6 values
  * in timeline order — O(frame) per key, the whole point of the bounded
  * ROWS-frame design (q_rolling_zscore's batch form). */
case class ZBuf(vals: Seq[Double])

/** A scored event from the streaming z-score screen. `z` is None when
  * the trailing window has zero variance (matches the batch form's
  * null). */
case class ZScored(user_id: Long, event_id: Long, value: Double,
                   mean_prev: Double, z: Option[Double])

/** Per-key state of the streaming early-journey screen: the first ≤8
  * event-type tokens in (ts, event_id) order, each already wrapped in
  * its own '|' delimiters (the exact string the batch seqPatterns
  * prefix build produces) — bounded at 8, O(1) per key thereafter. */
case class JourneyBuf(toks: Seq[String])

/** Per-key journey snapshot emitted whenever the prefix GROWS (update
  * stream): once n_events reaches 8 the journey is frozen and further
  * events emit nothing. The final snapshot per key is exactly the batch
  * `Breadth178.seqPatterns` prefix row. */
case class JourneySnap(user_id: Long, n_events: Int, seq: String)

/** Per-key state of the streaming drawdown tracker: prefix peak, worst
  * drawdown so far, tick count — O(1) per key (the running-max window of
  * the batch form collapsed to scalar state). */
case class DrawdownAcc(peak: Double, maxDd: Option[Double], nTicks: Long)

/** Per-key drawdown snapshot emitted each micro-batch (update stream).
  * `max_drawdown` is None until the key has seen a positive peak — the
  * batch form's unscored-zero-peak null. */
case class DrawdownSnap(user_id: Long, n_ticks: Long, peak: Double,
                        max_drawdown: Option[Double])

/** Per-key state of the streaming feed-health tripwire: last tick's
  * integer cents and µs, worst move and longest silence so far — O(1)
  * per key (the lag window of the batch form collapsed to one row). */
case class TickHealthAcc(lastCents: Long, lastUs: Long,
                         maxMove: Option[Long], maxGap: Option[Long],
                         nTicks: Long)

/** Per-key feed-health snapshot (update stream); fields mirror the batch
  * q_tick_health row — None until the key has two ticks. */
case class TickHealthSnap(user_id: Long, n_ticks: Long,
                          max_move_cents: Option[Long],
                          longest_gap_us: Option[Long])

/** Per-key state of the streaming realized-volatility fold: last tick's
  * integer cents + the exact integer sum of squared moves — O(1) per key
  * (the lag window and sum of the batch form collapsed to one row). */
case class RealizedVolAcc(lastCents: Long, sumSq: Long, nMoves: Long,
                          nTicks: Long)

/** Per-key realized-volatility snapshot (update stream); fields mirror
  * the batch q_realized_vol row — None until the key has a move. */
case class RealizedVolSnap(user_id: Long, n_ticks: Long, n_moves: Long,
                           sq_move_cents2: Option[Long],
                           realized_vol: Option[Double])

/** Per-key state of the streaming best-trade fold: prefix-min cents +
  * best profit so far — O(1) per key (q_best_trade's prefix-min window
  * collapsed to scalar state). */
case class BestTradeAcc(minCents: Long, bestCents: Long, nTicks: Long)

/** ≤w-deep integer-cent buffer behind the streaming Bollinger screen —
  * the batch form's bounded ROWS frame held verbatim in the state
  * store. */
case class BollBuf(cents: Seq[Long])

/** One scored tick from the live Bollinger screen (append stream);
  * mirrors the batch q_bollinger row. */
case class BollScored(user_id: Long, event_id: Long, value: Double,
                      mid: Double, band: Double,
                      breakout_up: Boolean, breakout_dn: Boolean)

/** Per-key best-trade snapshot (update stream); mirrors the batch
  * q_best_trade row. */
case class BestTradeSnap(user_id: Long, n_ticks: Long,
                         best_trade_cents: Long)

/** A keyed day bar: the bar twins fold their rows per user in day
  * order. */
trait DayBar {
  def user_id: Long
  def day: java.time.LocalDate
}

/** One finalized day bar — the input row of the EMA-family recurrence
  * twins (the batch forms fold day bars, so their streams consume the
  * bar stream, not raw ticks). LocalDate encodes as DATE. */
case class BarRow(user_id: Long, day: java.time.LocalDate, close_cents: Long)
    extends DayBar

/** Per-key state of the streaming EMA/MACD fold: the four recurrence
  * values — O(1) per key, the whole reason EMA wants a stream (no
  * window frame expresses EMA_{t-1}; the state store holds it). */
case class EmaMacdAcc(e20: Double, e12: Double, e26: Double, sig: Double,
                      nBars: Long)

/** One scored bar from the live EMA/MACD screen (append stream);
  * price-domain values, bit-equal to the batch q_ema / q_macd rows. */
case class EmaMacdScored(user_id: Long, day: java.time.LocalDate,
                         close_cents: Long, ema20: Double, macd: Double,
                         macd_signal: Double, hist: Double)

/** Per-key state of the streaming Wilder-RSI fold: previous close,
  * exact integer warm-up sums, and the two smoothed averages. */
case class WilderAcc(lastCents: Long, sg: Long, sl: Long,
                     ag: Option[Double], al: Option[Double], nBars: Long)

/** Per-key state of the streaming Roll-spread fold: last cents, last
  * diff, and the integer serial-covariance sums — O(1) per key (the
  * batch form's two lag windows collapsed to two remembered values). */
case class RollAcc(lastCents: Long, lastDiff: Option[Long], nPairs: Long,
                   sx: Long, sy: Long, sxy: Long)

/** Per-key Roll-spread snapshot (update stream); mirrors the batch
  * q_roll_spread row — spread None until serial covariance is
  * negative. */
case class RollSnap(user_id: Long, n_pairs: Long, serial_cov_num: Long,
                    roll_spread: Option[Double])

/** Per-key state of the streaming daily-Sharpe fold over finalized day
  * bars: previous close + the two integer moment sums. */
case class SharpeAcc(lastClose: Long, nDays: Long, sx: Long, sxx: Long)

/** One running-Sharpe row per bar (append stream); the value after the
  * LAST bar equals the batch q_sharpe row. */
case class SharpeScored(user_id: Long, day: java.time.LocalDate,
                        n_days: Long, sharpe_daily: Option[Double])

/** One finalized OHLC day bar — the input row of the recurrence twins
  * that need the full bar (ADX directional movement reads high/low, not
  * just close). */
case class OhlcBarRow(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, high_cents: Long, low_cents: Long) extends DayBar

/** One scored bar from the live ADX screen (append stream): DI± when
  * the smoothed TR is positive, this bar's DX, ADX on DX-defined bars —
  * all None during warm-up, bit-equal to the batch q_adx row. */
case class AdxScored(user_id: Long, day: java.time.LocalDate,
                     di_plus: Option[Double], di_minus: Option[Double],
                     dx: Option[Double], adx: Option[Double])

/** One scored bar from the live TSI screen (append stream); None on the
  * first bar and for flat histories — the batch q_tsi null. */
case class TsiScored(user_id: Long, day: java.time.LocalDate,
                     close_cents: Long, tsi: Option[Double])

/** One scored bar from the live Supertrend screen (append stream); all
  * None during the ATR warm-up (the batch form DROPS those rows — filter
  * on atr.isDefined to align row sets). */
case class SupertrendScored(user_id: Long, day: java.time.LocalDate,
                            close_cents: Long, atr: Option[Double],
                            band_upper: Option[Double],
                            band_lower: Option[Double],
                            trend: Option[String],
                            supertrend: Option[Double])

/** One finalized daily OHLC bar WITH open — the Heikin-Ashi recurrence
  * is the one screen whose state needs the bar's first tick too. */
case class Ohlc4BarRow(user_id: Long, day: java.time.LocalDate,
                       open_cents: Long, high_cents: Long, low_cents: Long,
                       close_cents: Long) extends DayBar

/** One smoothed candle from the live Heikin-Ashi screen (append
  * stream); scores from the first bar — no warm-up nulls. */
case class HaScored(user_id: Long, day: java.time.LocalDate,
                    ha_open: Double, ha_high: Double, ha_low: Double,
                    ha_close: Double)

/** One scored bar from the live Wilder-RSI screen (append stream);
  * rsi_wilder is None during the 14-diff warm-up — the batch null. */
case class WilderScored(user_id: Long, day: java.time.LocalDate,
                        close_cents: Long, rsi_wilder: Option[Double])

/** One finalized day bar with its traded volume — the input row of the
  * volume-flow recurrence twins (force index reads close+vol, the
  * ADL/Chaikin oscillator reads high/low/close+vol). */
case class VolBarRow(user_id: Long, day: java.time.LocalDate,
                     high_cents: Long, low_cents: Long, close_cents: Long,
                     vol: Long) extends DayBar

/** One scored bar from the live force-index screen (append stream);
  * None on the seed bar — the batch form drops that row (filter on
  * fi_raw.isDefined to align row sets). */
case class FiScored(user_id: Long, day: java.time.LocalDate,
                    close_cents: Long, fi_raw: Option[Long],
                    fi_ema13: Option[Double])

/** One scored bar from the live ADL/Chaikin screen (append stream);
  * scores from the first bar (osc seeds at 0). */
case class AdlScored(user_id: Long, day: java.time.LocalDate,
                     adl_q: Long, adl: Double, chaikin_osc: Double)

/** One scored bar from the live NVI/PVI screen (append stream); both
  * indices seed at 1000 on the first bar. */
case class NviScored(user_id: Long, day: java.time.LocalDate,
                     close_cents: Long, nvi: Double, pvi: Double)

/** One scored bar from the live TRIX screen (append stream); trix is
  * None on the seed bar — the batch null. */
case class TrixScored28(user_id: Long, day: java.time.LocalDate,
                        close_cents: Long, e3: Double, trix: Option[Double])

/** One scored bar from the live KAMA screen (append stream); kama is
  * None during the w-bar warm-up (the batch form DROPS those rows —
  * filter on kama.isDefined to align row sets). */
case class KamaScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, kama: Option[Double])

/** Mass-index keyed state: the EMA pair + the trailing ≤MassW ratio
  * quanta (the O(w) ring the batch window-sum reads implicitly). */
case class MassAcc28(e1: Double, e2: Double, ring: Seq[Long])

/** One scored bar from the live mass-index screen (append stream) —
  * emitted only once the ratio ring is full, exactly the batch
  * q_mass_index row set. */
case class MassScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, sum_ratio_q: Long,
                      mass_index: Double)

/** One scored bar from the live DEMA screen (append stream) — price
  * domain, like the batch q_dema. */
case class DemaScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, dema: Double)

/** One scored bar from the live PPO screen (append stream); None while
  * the slow EMA is 0 — the batch null. */
case class PpoScored(user_id: Long, day: java.time.LocalDate,
                     close_cents: Long, ppo: Option[Double])

/** One scored bar from the live Kalman local-level screen (append
  * stream) — filtered level in the price domain plus this step's
  * gain, the batch q_kalman columns. */
case class KalmanScored(user_id: Long, day: java.time.LocalDate,
                        close_cents: Long, kalman: Double, gain: Double)

/** One scored bar from the live clamped-balance screen (append
  * stream) — the batch q_clamped_balance columns. */
case class ClampScored(user_id: Long, day: java.time.LocalDate,
                       close_cents: Long, balance: Long)

/** One typed event for the live sequence-match screen. */
case class SeqEvent(user_id: Long, event_id: Long,
                    ts: java.sql.Timestamp, initial: String)

/** The live sequence-match verdict after each micro-batch (update
  * stream): events seen so far and whether `s[^e]*p` has matched. */
case class SeqMatchScored(user_id: Long, seq_len: Long, matched: Boolean,
                          n_late: Long)

/** The live funnel level after each micro-batch (update stream). */
case class FunnelScored(user_id: Long, level: Int, n_late: Long)

/** One scored bar from the live Page–Hinkley drift screen (append
  * stream) — the batch q_page_hinkley columns. */
case class PhScored(user_id: Long, day: java.time.LocalDate,
                    close_cents: Long, ph_m: Double, ph_stat: Double,
                    alarmed: Boolean)

/** One Bernoulli observation for the live SPRT screen. */
case class SprtEvent(stream: String, event_id: Long,
                     ts: java.sql.Timestamp, x: Long)

/** The live SPRT verdict after each observation (append stream) —
  * the batch q_sprt decision columns plus the late-row counter. */
case class SprtScored(stream: String, k: Long, x: Long, llr: Long,
                      decision: String, n_late: Long)

/** Keyed SPRT state: the shared Breadth147 accumulator fields + the
  * bar twins' late-row guard horizon. */
case class SprtState(k: Long, llr: Long, decided: Boolean, kd: Long,
                     llrd: Long, maxTs: Long, nLate: Long)

/** One document for the live AMS F₂ sketch. */
case class AmsDoc(source: String, doc_id: Long, text: String)

/** The per-source AMS sketch snapshot after each micro-batch (update
  * stream): token count + the AmsK sign sums (mergeable by element-
  * wise addition — the batch global sketch is their sum). */
case class AmsSnap(source: String, n_tokens: Long, sums: Seq[Long])

/** Keyed state of the live window funnel: current level, the views
  * not yet paired with a later click (µs), and the open (click,
  * deadline) frontier a future purchase could complete. Both lists
  * are bounded by the events inside one funnel window — a dead anchor
  * (deadline before the newest seen ts) is pruned every batch. */
case class FunnelState(level: Int, pendingViews: Seq[Long],
                       frontier: Seq[(Long, Long)], maxTs: Long,
                       nLate: Long)

/** One scored bar from the live EWMA-volatility screen (append
  * stream); None at a key's first-ever bar — the batch null. */
case class EwmaVolScored(user_id: Long, day: java.time.LocalDate,
                         close_cents: Long, ewma_vol: Option[Double])

/** One scored bar from the live Holt–Winters(7) screen (append
  * stream); fitted is None at a key's first-ever bar — the batch
  * null. */
case class HwScored(user_id: Long, day: java.time.LocalDate,
                    level: Double, trend: Double, seasonal: Double,
                    fitted: Option[Double])

/** One positive-demand day — the input grain of the live Croston
  * screen. */
case class DemandRow(user_id: Long, day: java.time.LocalDate,
                     demand: Long) extends DayBar

/** One scored demand day from the live Croston screen (append
  * stream). */
case class CrostonScored(user_id: Long, day: java.time.LocalDate,
                         demand: Long, z_size: Double, p_interval: Double,
                         forecast: Double)

/** One scored bar from the live rolling-median screen (append
  * stream). */
case class RollMedScored(user_id: Long, day: java.time.LocalDate,
                         close: Double, n_in_window: Long,
                         rolling_median: Double)

/** One scored bar from the live Corwin–Schultz screen (append stream);
  * a key's first bar emits nothing (the batch lag-null row). */
case class CsSpreadScored(user_id: Long, day: java.time.LocalDate,
                          cs_spread: Double)

/** One scored bar from the live VWMA screen (append stream — the
  * existing [[VolBarRow]] is the input grain); None while the
  * window's volume is zero. */
case class VwmaScored(user_id: Long, day: java.time.LocalDate,
                      close: Double, vwma: Option[Double])

/** One scored bar from the live envelope screen (append stream). */
case class EnvScored(user_id: Long, day: java.time.LocalDate,
                     close: Double, sma: Double, upper: Double,
                     lower: Double, above_upper: Boolean,
                     below_lower: Boolean)

/** One scored bar from the live disparity screen (append stream). */
case class DisparityScored(user_id: Long, day: java.time.LocalDate,
                           close: Double, disparity: Double)

/** A full OHLC day bar (open included) — the input grain of the
  * QStick and fractal screens. */
case class FullBarRow(user_id: Long, day: java.time.LocalDate,
                      open_cents: Long, close_cents: Long,
                      high_cents: Long, low_cents: Long) extends DayBar

/** One scored bar from the live QStick screen (append stream); None
  * during the k-bar warm-up — the batch null. */
case class QstickScored(user_id: Long, day: java.time.LocalDate,
                        qstick: Option[Double])

/** One confirmed swing point from the live fractal screen (append
  * stream) — emitted with the batch row's exact shape, two bars after
  * the swing day (the confirmation lag a ±2-bar pattern requires). */
case class FractalScored(user_id: Long, day: java.time.LocalDate,
                         kind: String, level: Long)

/** One scored bar from the live Elder Ray screen (append stream) —
  * price domain, like the batch q_elder_ray. */
case class ElderScored(user_id: Long, day: java.time.LocalDate,
                       close_cents: Long, ema13: Double,
                       bull_power: Double, bear_power: Double)

/** One raw tick for the volume-bucket screens: `seq` is the total
  * arrival order (the batch (ts, event_id) order collapsed to one
  * long). */
case class TickRow(user_id: Long, seq: Long, cents: Long, vol: Long)

/** Volume-bucket fold state: last close (sign source), cumulative
  * volume, the open bucket's id, signed-volume imbalance and volume. */
case class VpinState(prevClose: Option[Long], cum: Long, barId: Long,
                     imb: Long, vol: Long)

/** One COMPLETED volume bucket from the live VPIN screen — emitted when
  * a later tick opens a higher bucket; `imbalance` is |Σ signed vol|,
  * the batch q_vpin per-bar numerator. */
case class VpinBucket(user_id: Long, bar_id: Long, imbalance: Long,
                      vol: Long)

/** One daily bar carrying open and close — the input of sequence-
  * pattern screens (OhlcBarRow's open-bearing sibling). */
case class OcBarRow(user_id: Long, day: java.time.LocalDate,
                    open_cents: Long, close_cents: Long) extends DayBar

/** The last ≤2 bars' (open, close) pairs — the keyed ring a three-bar
  * pattern screen carries (O(1) state per key). */
case class OcPair(o: Long, c: Long)
case class ThreeBarRing(prev: Seq[OcPair])

/** One scored bar from the live three-bar pattern screen (append
  * stream) — the batch q_three_bar_patterns flags. */
case class ThreeBarScored(user_id: Long, day: java.time.LocalDate,
                          three_white_soldiers: Boolean,
                          three_black_crows: Boolean,
                          morning_star: Boolean)

/** One (row, bucket) counter increment of the streaming count-min
  * sketch — a key's arrival fans out to d of these. */
case class CmsIncrement(row: Int, bucket: Long, inc: Long)

/** One live count-min cell: the running counter total, re-emitted
  * whenever a batch touches the cell (append stream — the LAST emit per
  * cell is the current sketch). */
case class CmsCellState(row: Int, bucket: Long, cell: Long)

/** Holt level/trend pair plus the bar's realized forecast error —
  * the fold state AND the emit payload of the live Holt screen (the
  * error reads the PREVIOUS state, so it must ride the state row). */
case class HoltFold(l: Double, t: Double, fcErr: Option[Double])

/** One scored bar from the live Holt trend screen (append stream) —
  * price domain, like the batch q_holt. */
case class HoltScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, level: Double, trend: Double,
                      forecast: Double, fc_err: Option[Double])

/** One scored bar from the live Lo–MacKinlay variance-ratio screen
  * (append stream): the running per-key VR(5) plus the exact counters
  * it derives from — the streaming twin of q_variance_ratio's final
  * per-key aggregate (the last emit per key IS the batch row). */
case class VrScored(user_id: Long, day: java.time.LocalDate,
                    close_cents: Long, n_days: Long, n_windows: Long,
                    vr: Option[Double])

/** One scored bar from the live parabolic-SAR screen (append stream) —
  * price-domain SAR + regime flag, like the batch q_psar. */
case class PsarScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, psar: Double, is_up: Boolean)

/** WMA ring state: the trailing ≤10 closes, oldest first. */
case class WmaRing(closes: Seq[Long])

/** One scored bar from the live streak screen (append stream). */
case class StreakScored(user_id: Long, day: java.time.LocalDate,
                        close_cents: Long, streak: Long)

/** Streak state: previous close + current signed streak. */
case class StreakAcc(pc: Long, streak: Long)

/** Connors streaming state: 0-based bar count + the batch composite
  * accumulator (both Wilder states, streak, the 100-return ring). */
case class CrsiState(n: Long, acc: graft.queries.Breadth34.CrsiAcc)

/** One scored bar from the live Connors RSI screen (append stream) —
  * all three components + the composite, None during each component's
  * own warm-up, like the batch q_connors_rsi row. */
case class CrsiScored(user_id: Long, day: java.time.LocalDate,
                      close_cents: Long, streak: Long,
                      rsi3: Option[Double], rsi2_streak: Option[Double],
                      pct_rank: Option[Double], crsi: Option[Double])

/** Elder-impulse streaming state: the EMA-13 + MACD accumulator plus
  * the class emitted FOR this bar (carried so score() needs no
  * recompute against the previous state). */
case class ImpulseState(acc: graft.queries.Breadth35.ImpulseAcc, cls: String)

/** One classified bar from the live Elder impulse screen. */
case class ImpulseScored(user_id: Long, day: java.time.LocalDate,
                         close_cents: Long, impulse: String)

/** One scored bar from the live WMA(10) screen (append stream); None
  * during the ring warm-up — the batch q_wma's full-window stance. */
case class WmaScored(user_id: Long, day: java.time.LocalDate,
                     close_cents: Long, wma: Option[Double])

/** Croston keyed state: previous demand day + the smoothed pair. */
case class CrostonState(prevDayEpoch: Long, z: Double, p: Double)

/** VWMA ring state: last ≤win (close, vol) pairs in day order. */
case class VwmaRing(closes: Seq[Long], vols: Seq[Long])

/** Close-ring state shared by the envelope and disparity screens. */
case class CloseRing(closes: Seq[Long])

/** Rolling-median ring state: last ≤win closes in day order. */
case class RollMedRing(closes: Seq[Long])

/** Corwin–Schultz keyed state: the previous bar's high/low and its
  * 1e-6-quantized log range. */
case class CsState(prevHigh: Long, prevLow: Long, prevLq: Long)

/** The QStick ring state: last ≤k candle bodies (close − open). */
case class QstickRing(bodies: Seq[Long])

/** The fractal ring state: last ≤5 full bars awaiting confirmation. */
case class FractalRing(days: Seq[Long], highs: Seq[Long], lows: Seq[Long])

/** Structured Streaming layer. The reference is a hand-rolled micro-batch
  * pipeline — fetch every 300 s, append one batch-stamped tick, notify,
  * re-query latest snapshot, broadcast (`etl/crypto_etl.py:150-157`,
  * `api/server.js:166-200`). Structured Streaming formalizes exactly that:
  * trigger → append → `foreachBatch` snapshot → sink callback.
  *
  * Every transform here is a plain DataFrame→DataFrame function, so the
  * SAME code path serves batch backfill and the live stream (tested for
  * parity in StreamingSpec). State discipline for scale: windowed aggs
  * carry watermarks so state is bounded and late data has defined
  * semantics; snapshot maintenance uses `foreachBatch` recomputation over
  * the accumulated store (the reference's own architecture) rather than
  * unbounded `complete`-mode state.
  */
object Streams {

  /** events-shaped schema for file/socket stream sources (FIXTURES.md §B). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Ingest shaping, stream/batch agnostic (the ETL tick's P1–P3/P5:
    * project, validate, normalize key case, coerce). */
  def shapeEvents(df: DataFrame): DataFrame =
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("event_type", lower(col("event_type")))

  /** Tumbling event-time aggregate with bounded state: counts + sums per
    * (window, event_type). On a stream, rows later than `delay` past the
    * max seen event time are dropped and closed windows are emitted
    * (append mode); on a batch frame the same expression just aggregates. */
  def windowedStats(df: DataFrame, width: String, delay: String): DataFrame = {
    val withWm =
      if (df.isStreaming) df.withWatermark("ts", delay) else df
    withWm
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming OHLC bars — the live feed of the dashboard's candlestick
    * aggregation (batch twin: q_ohlc): per (event-time window, key),
    * open/close via min_by/max_by on the totally-ordering (ts, event_id)
    * struct — tie-safe, and an ALGEBRAIC aggregate (partial-merges
    * map-side and in state), unlike a sort-based first/last. Watermark
    * closes bars for append emission; on a batch frame the same
    * expression just aggregates. */
  def streamingOhlc(df: DataFrame, width: String, delay: String): DataFrame = {
    val withWm = if (df.isStreaming) df.withWatermark("ts", delay) else df
    val orderKey = struct(col("ts"), col("event_id"))
    withWm
      .groupBy(window(col("ts"), width), col("user_id"))
      .agg(min_by(col("value"), orderKey).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), orderKey).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("window.start").as("bar_start"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
  }

  /** Streaming dedup-by-key with bounded state — the D1 Map-dedup analog.
    * Keeps the FIRST arrival per (user_id, event_id) within the watermark. */
  def dedupWithinWatermark(df: DataFrame, delay: String): DataFrame =
    df.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_id")

  /** Streaming CONTENT dedup for a document stream: drop any doc whose
    * normalized-content fingerprint (graft.text.Text.fingerprint — the
    * same 32-byte md5 the batch exact-dedup groups on) was already seen
    * within the watermark. State is one fingerprint per distinct content
    * within the lateness horizon — bounded, unlike a grow-forever seen
    * set; exact cross-horizon dedup is the batch job's duty
    * (Dedup.exactDups over the store). The streaming half of the
    * dedup story: batch dedups the corpus, this keeps the live feed
    * clean between batch runs. Requires event-time column `ts`. */
  def streamingContentDedup(docs: DataFrame, textCol: String,
                            delay: String): DataFrame =
    docs.withColumn("__fp", graft.text.Text.fingerprint(col(textCol)))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming NEAR-dup screen for a live document stream — the MinHash
    * rung above `streamingContentDedup`'s exact fingerprints: each live
    * doc's LSH band keys (computed per row, no stateful aggregation —
    * Dedup.withRowwiseMinhashSignatures) join the BATCH corpus band table
    * (stream-static, stateless: the static side is the materialized LSH
    * index the warehouse already keeps for Dedup.minhashNearDups), and
    * band-collision candidates are exact-Jaccard verified against the
    * corpus shingle sets. Emits (idCol, corpus_id, ts, jaccard) matches
    * at or above `threshold`; a pair colliding in several bands dedups in
    * watermark-bounded state. Same shingle/signature/band parameters →
    * identical candidate generation and verification arithmetic as the
    * batch pipeline (parity pinned in StreamingSpec).
    *
    * Both static frames are persisted: a file-backed static side would
    * otherwise recompute signatures for the WHOLE corpus every
    * micro-batch. Refresh cadence = the batch index job's schedule
    * (unpersist + rebuild on corpus change). */
  def streamingMinhashNearDups(live: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String, delay: String,
                               shingleLen: Int = 3, numHashes: Int = 12,
                               bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    val corpusBands = graft.dedup.Dedup.lshBands(
        graft.dedup.Dedup.minhashSignatures(corpus, idCol, textCol, shingleLen, numHashes),
        idCol, bands, rowsPerBand)
      .withColumnRenamed(idCol, "corpus_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusSets = corpus.select(col(idCol).as("corpus_id"),
        graft.text.Text.shingleSet(col(textCol), shingleLen).as("__sh_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = graft.dedup.Dedup.withRowwiseMinhashSignatures(
      live, textCol, shingleLen, numHashes)
    val liveBands = sigs
      .select(col(idCol), col("ts"), col(textCol),
        explode(graft.dedup.Dedup.lshBandStructs(bands, rowsPerBand)).as("__b"))
      .select(col(idCol), col("ts"), col(textCol),
        col("__b.band_idx").as("band_idx"), col("__b.band_key").as("band_key"))
    val cands = liveBands
      .join(corpusBands, Seq("band_idx", "band_key"))
      .filter(col(idCol) =!= col("corpus_id"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(idCol, "corpus_id")
    cands.join(corpusSets, "corpus_id")
      .withColumn("__sh_a", graft.text.Text.shingleSet(col(textCol), shingleLen))
      .withColumn("__inter", size(array_intersect(col("__sh_a"), col("__sh_b"))))
      .withColumn("jaccard", round(col("__inter").cast("double") /
        (size(col("__sh_a")) + size(col("__sh_b")) - col("__inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col("corpus_id"), col("ts"), col("jaccard"))
  }

  /** Streaming SimHash near-dup screen — the hamming-distance sibling of
    * `streamingMinhashNearDups` for when "near" means small token edits
    * rather than shingle overlap: each live doc's 64-bit simhash
    * (per-row fold, stateless — Dedup.withRowwiseSimhash64) band-joins
    * the batch corpus simhash table (pigeonhole: a pair within
    * `maxHamming` shares >= 1 of maxHamming+1 bands), then exact hamming
    * verifies. Emits (idCol, corpus_id, ts, hamming); band multi-hits
    * dedup in watermark-bounded state. Parity with batch
    * `simhashNearDups` pinned in StreamingSpec. */
  def streamingSimhashNearDups(live: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String, delay: String,
                               maxHamming: Int): DataFrame = {
    import graft.dedup.Dedup
    require(maxHamming < 64, "use a batch all-pairs job for degenerate bounds")
    val k = maxHamming + 1
    // not persisted: read exactly once to build corpusBands (which IS
    // the per-micro-batch cache)
    val corpusSims = Dedup.withRowwiseSimhash64(
        corpus.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).as("corpus_id"), col("simhash").as("sim_b"))
    val corpusBands = corpusSims
      .select(col("corpus_id"), col("sim_b"),
        explode(Dedup.simhashBandStructs(col("sim_b"), k)).as("__b"))
      .select(col("corpus_id"), col("sim_b"),
        col("__b.band_idx").as("band_idx"), col("__b.band_val").as("band_val"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val liveSims = Dedup.withRowwiseSimhash64(live, textCol)
    val liveBands = liveSims
      .select(col(idCol), col("ts"), col("simhash").as("sim_a"),
        explode(Dedup.simhashBandStructs(col("simhash"), k)).as("__b"))
      .select(col(idCol), col("ts"), col("sim_a"),
        col("__b.band_idx").as("band_idx"), col("__b.band_val").as("band_val"))
    liveBands
      .join(corpusBands, Seq("band_idx", "band_val"))
      .filter(col(idCol) =!= col("corpus_id"))
      // verify BEFORE the stateful dedup: the hamming test is a per-row
      // xor in the join stage, so only true near-dups (×band
      // multiplicity) enter the watermark-bounded dedup state — never
      // the raw candidate volume
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(idCol, "corpus_id")
      .select(col(idCol), col("corpus_id"), col("ts"), col("hamming"))
  }

  /** Latest-per-key snapshot over an accumulated store — what the
    * reference recomputes and broadcasts on every notify
    * (`api/server.js:166-193`). */
  def latestSnapshot(accumulated: DataFrame): DataFrame =
    Latest.latestPerKeyWindow(accumulated, Seq("user_id"),
        col("ts").desc, col("event_id").desc)
      .orderBy(col("value").desc_nulls_last, col("user_id").asc)

  /** Streaming sessionization: event-time session windows with a gap
    * timeout; watermark bounds the open-session state and closes sessions
    * for append-mode emission. Batch twin: graft.ops.Sessionize. */
  def streamingSessions(df: DataFrame, gap: String, delay: String): DataFrame =
    df.withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Incremental latest-per-key via explicit keyed state
    * (flatMapGroupsWithState) — the §7.4.4 alternative to per-tick
    * recomputation: state is ONE row per key (bounded by |keys|, not by
    * history), and a micro-batch emits only keys whose latest row
    * changed — exactly the delta the reference's WS broadcast needs. */
  def incrementalLatest(ds: Dataset[EventRow]): Dataset[(Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[EventRow], state: GroupState[LatestState]) =>
          latestStep(events, state.getOption) match {
            case Some(cand) =>
              state.update(cand)
              Iterator((user, cand.eventId, cand.value))
            case None => Iterator.empty
          }
      }
  }

  private[streaming] def eventMicros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  /** One keyed step of the incremental latest fold: the batch's max-ts
    * candidate vs the stored state, (ts, event_id) tie discipline —
    * Some(newState) iff the latest row CHANGED. Shared by the
    * flatMapGroupsWithState and transformWithState forms so the two
    * state backends cannot drift semantically. */
  private[streaming] def latestStep(events: Iterator[EventRow],
                                    current: Option[LatestState]): Option[LatestState] =
    events.maxByOption(e => (eventMicros(e.ts), e.event_id)).flatMap { e =>
      val cand = LatestState(eventMicros(e.ts), e.event_id, e.value)
      val newer = current.forall(c =>
        cand.maxTsMicros > c.maxTsMicros ||
          (cand.maxTsMicros == c.maxTsMicros && cand.eventId > c.eventId))
      if (newer) Some(cand) else None
    }

  /** [[latestStep]] carrying the FULL row — the schema-generic twin,
    * identical (ts, event_id) discipline. */
  private[streaming] def latestRowStep(events: Iterator[EventRow],
                                       current: Option[LatestRowState]): Option[LatestRowState] =
    events.maxByOption(e => (eventMicros(e.ts), e.event_id)).flatMap { e =>
      val cand = LatestRowState(eventMicros(e.ts), e)
      val newer = current.forall(c =>
        cand.maxTsMicros > c.maxTsMicros ||
          (cand.maxTsMicros == c.maxTsMicros && e.event_id > c.row.event_id))
      if (newer) Some(cand) else None
    }

  /** The same incremental latest-per-key on Spark 4's
    * `transformWithState` — the state-store-NATIVE snapshot: the latest
    * row per key lives in the (RocksDB) state store, which is exactly
    * the reference's in-memory latest map (`frontend/src/App.js:33,187`)
    * made durable, and each micro-batch emits only the keys whose
    * latest row changed (the WS delta; OutputMode.Update). Recovery is
    * checkpoint-native: a restarted query reloads the keyed state from
    * the state store, no directory fold needed.
    *
    * This COMPLEMENTS the generation-fold snapshot
    * (`startSnapshotStream`) rather than replacing it: generations give
    * an externally readable on-disk snapshot history (time travel,
    * diff, non-Spark consumers); keyed state gives bounded-memory
    * per-key maintenance with state larger than executor heap (RocksDB
    * spills) and no parquet re-scan per tick. StreamingSpec pins the
    * two equal on the same input.
    *
    * Contract: requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state
    * .RocksDBStateStoreProvider`) — transformWithState refuses the
    * HDFS-backed provider, and RocksDB is what a 100 TB deployment
    * runs anyway (incremental checkpointing, off-heap state). */
  def keyedStateLatest(ds: Dataset[EventRow]): Dataset[(Long, Long, Double)] =
    // arrival order: a row replaces the state only if strictly newer, so
    // the fold keeps the batch's first max-(ts, event_id) row, exactly
    // latestStep's maxByOption; the state is unchanged iff its key is
    keyedFold(ds)(_.user_id, OutputMode.Update(), "latest",
        Encoders.product[LatestState], identity)(
      (_, st, e) => (latestStep(Iterator.single(e), st).getOrElse(st.get), Nil),
      (user, start, a) =>
        if (start.exists(s => s.maxTsMicros == a.maxTsMicros &&
          s.eventId == a.eventId)) None
        else Some((user, a.eventId, a.value)))

  /** The SCHEMA-GENERIC form of [[keyedStateLatest]]: per-key state is
    * the ENTIRE latest event row (nested product encoder — RocksDB
    * stores the full-width row natively), and each micro-batch emits the
    * complete changed row, not a projection. This is what lets the
    * keyed-state snapshot REPLACE the generation store for wide-row
    * consumers: the delta stream carries every column the reference's
    * WS push carries (`api/server.js:166-200`), with the same stale-
    * event no-op and (ts, event_id) tie discipline as the narrow form.
    * Same RocksDB-provider contract as [[keyedStateLatest]]. */
  def keyedStateLatestRows(ds: Dataset[EventRow]): Dataset[EventRow] =
    keyedFold(ds)(_.user_id, OutputMode.Update(), "latest_row",
        Encoders.product[LatestRowState], identity)(
      (_, st, e) => (latestRowStep(Iterator.single(e), st).getOrElse(st.get), Nil),
      (_, start, a) =>
        if (start.exists(s => s.maxTsMicros == a.maxTsMicros &&
          s.row.event_id == a.row.event_id)) None
        else Some(a.row))

  /** Stream-static as-of enrichment on the NATIVE merge operator: each
    * live probe row (key, t, …) picks up the latest static fact at or
    * before t — the "value as of t" generalization's streaming twin
    * (the reference's t = now lookup, `api/server.js:67-77`, asked at
    * probe-arrival time). The custom `AsofJoin` logical node rides the
    * streaming probe plan; the micro-batch planner re-plans it per
    * batch through GraftStrategy, so each batch runs the same
    * co-partitioned single-pass merge as the batch form
    * (`AsofJoinExec`) against the static fact side — per-batch cost is
    * O(|batch| + |facts|) merge comparisons with one buffered fact row,
    * and the static side's exchange is reused across batches by the
    * micro-batch planner, not rebuilt. Append-mode safe: one output row
    * per probe row, no stream-side state. Spec-pinned equal to the
    * batch `asOfLookupNative` across a micro-batch split
    * (StreamingSpec). */
  def streamStaticAsof(probes: DataFrame, facts: DataFrame, key: String,
                       tsCol: String, probeTsCol: String,
                       valueCols: Seq[String], tieBreak: String): DataFrame =
    graft.ops.Latest.asOfJoinNativeValues(facts, probes, key, tsCol,
      probeTsCol, valueCols, tieBreak)

  /** Runs `ds`, grouped by `key`, through one [[KeyedFold]] declared by
    * (state name, state encoder, in-batch order, step, emit) — the one
    * `transformWithState` call site. Every twin below is such a
    * declaration; its output mode, state name and state encoder are its
    * checkpoint identity and never change. Same RocksDB-provider
    * requirement as [[keyedStateLatest]]. */
  private def keyedFold[K: TypeTag, I, S, O: TypeTag](ds: Dataset[I])(
      key: I => K, mode: OutputMode, stateName: String, enc: Encoder[S],
      order: Seq[I] => Seq[I])(
      step: (K, Option[S], I) => (S, IterableOnce[O]),
      emit: (K, Option[S], S) => IterableOnce[O] =
        (_: K, _: Option[S], _: S) => Nil): Dataset[O] =
    ds.groupByKey(key)(ExpressionEncoder[K]())
      .transformWithState(new KeyedFold(stateName, enc, order, step, emit),
        TimeMode.None(), mode)(ExpressionEncoder[O]())

  /** The day-bar twins' declaration: keyed by user, bars folded in day
    * order, rows emitted by `step` (append mode). */
  private def barFold[I <: DayBar, S, O: TypeTag](ds: Dataset[I],
      stateName: String, enc: Encoder[S])(
      step: (Long, Option[S], I) => (S, IterableOnce[O])): Dataset[O] =
    keyedFold(ds)(_.user_id, OutputMode.Append(), stateName, enc,
      byDay[I])(step)

  /** In-batch orders: the batch window's (ts, event_id) total order for
    * ticks, the calendar day for bars, (ts, event_id) at timestamp
    * precision for the sequence screens. */
  private def byEvent(rows: Seq[EventRow]): Seq[EventRow] =
    rows.sortBy(e => (eventMicros(e.ts), e.event_id))
  private def byDay[I <: DayBar](rows: Seq[I]): Seq[I] =
    rows.sortBy(_.day.toEpochDay)
  private def bySeqTime(rows: Seq[SeqEvent]): Seq[SeqEvent] =
    rows.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))

  /** µs event time of a sequence-screen row (monotone in [[bySeqTime]]
    * order, so within a sorted batch the running fold horizon equals the
    * batch-start horizon for every row that is not late). */
  private def seqMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Update-mode snapshot twins (drawdown, tick health, best trade,
    * realized vol, Roll spread): ONE scalar accumulator per key, ticks
    * folded in (ts, event_id) order, one refreshed snapshot per touched
    * key per micro-batch. */
  private def tickSnapshot[S, O: TypeTag](ds: Dataset[EventRow],
      stateName: String, enc: Encoder[S])(step: (Option[S], EventRow) => S)(
      snap: (Long, S) => O): Dataset[O] =
    keyedFold(ds)(_.user_id, OutputMode.Update(), stateName, enc, byEvent)(
      (_, st, e) => (step(st, e), Nil), (user, _, a) => Some(snap(user, a)))

  /** Streaming twin of the q_rolling_zscore anomaly screen
    * (`queries.Breadth9.rollingZscore`): each event scored against the 6
    * values before it on its key's timeline, per-key state = the ≤6-deep
    * trailing buffer in the state store. Within a micro-batch rows fold
    * in (ts, event_id) order; across batches the buffer advances in
    * arrival order — identical to the batch form whenever arrival
    * respects the timeline (the same in-order caveat as every trailing
    * screen; late data would need a watermarked reorder buffer).
    * Same RocksDB-provider requirement as [[keyedStateLatest]]. */
  def streamingZscore(ds: Dataset[EventRow]): Dataset[ZScored] =
    keyedFold(ds)(_.user_id, OutputMode.Append(), "zbuf",
        Encoders.product[ZBuf], byEvent) { (_, st, e) =>
      val (next, scored) = zscoreStep(st.fold(Seq.empty[Double])(_.vals), e)
      (ZBuf(next), scored)
    }

  /** Streaming twin of the q_seq_patterns prefix build
    * (`queries.Breadth178.seqPatterns`): per-key state is the first ≤8
    * event-type tokens; each growth emits the current journey string,
    * so the LAST update per key is exactly the batch prefix row. The
    * production shape: mine frequent patterns OFFLINE (the batch
    * query), screen live journeys against them ONLINE
    * ([[journeyMatches]]). Same in-order caveat as every trailing
    * screen, same RocksDB-provider requirement as
    * [[keyedStateLatest]]. */
  def streamingJourney(ds: Dataset[EventRow]): Dataset[JourneySnap] =
    keyedFold(ds)(_.user_id, OutputMode.Update(), "journey",
        Encoders.product[JourneyBuf], byEvent) { (_, st, e) =>
      val b = st.getOrElse(JourneyBuf(Seq.empty))
      if (b.toks.length >= 8) (b, None)
      else {
        // encoded-domain token (Breadth178.encodeTok's plain-Scala twin):
        // journey strings must live in the same alphabet the miner's
        // LIKE patterns are built from
        val next = b.toks :+ ("|" + Breadth178.encodeTokScala(e.event_type) + "|")
        (JourneyBuf(next), Some(JourneySnap(e.user_id, next.length, next.mkString)))
      }
    }

  /** Stream-static screen of journey snapshots against a mined pattern
    * table (`Breadth178.seqPatterns` output: pattern, len, support):
    * emits one row per (journey, matched pattern). The pattern side is
    * metadata-sized (≤ |T|³ rows) and broadcast — per-batch cost is
    * |batch| × |patterns| bounded-string LIKE checks, no state. The
    * LIKE template is rebuilt from the mined `pattern` column with the
    * same per-token delimiters the batch miner uses; `pattern` is in
    * the ENCODED token domain (Breadth178.encodeTok), so the rebuild
    * needs no re-encoding and LIKE metacharacters in raw event types
    * cannot corrupt the screen. */
  def journeyMatches(journeys: DataFrame, patterns: DataFrame): DataFrame = {
    val pat = patterns.select(col("pattern"), col("len"), col("support"),
      concat(lit("%|"),
        regexp_replace(col("pattern"), lit(">"), lit("|%|")),
        lit("|%")).as("__pat"))
    journeys.join(broadcast(pat), expr("seq LIKE __pat"))
      .select(col("user_id"), col("n_events"), col("pattern"), col("len"),
        col("support"))
  }

  /** HALF_UP decimal rounding bit-matched to Spark's `round(col, 4)`
    * (BigDecimal of the double's shortest representation). */
  private[streaming] def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One keyed step of the trailing z-score fold, shared with the spec's
    * reference fold: score (if a full 6-window exists), then push. Mean
    * is summed oldest→newest — the same order the batch window frame
    * accumulates — and stddev is the two-pass sample formula. */
  private[streaming] def zscoreStep(vals: Seq[Double],
                                    e: EventRow): (Seq[Double], Option[ZScored]) = {
    val scored = if (vals.length == 6) {
      val mu = vals.sum / 6
      val sd = math.sqrt(vals.map(v => (v - mu) * (v - mu)).sum / 5)
      Some(ZScored(e.user_id, e.event_id, e.value, round4(mu),
        if (sd > 0) Some(round4((e.value - mu) / sd)) else None))
    } else None
    ((vals :+ e.value).takeRight(6), scored)
  }

  /** Streaming twin of q_drawdown (`queries.Breadth10.drawdownRows` +
    * its per-key aggregate): running prefix peak and worst peak-to-trough
    * loss held as O(1) keyed state; one refreshed (key, n_ticks, peak,
    * max_drawdown) row per touched key per micro-batch (update
    * semantics, like [[keyedStateLatest]]). Same in-order caveat and
    * RocksDB-provider requirement as [[streamingZscore]]. */
  def streamingDrawdown(ds: Dataset[EventRow]): Dataset[DrawdownSnap] =
    tickSnapshot(ds, "dd", Encoders.product[DrawdownAcc])(drawdownStep) {
      (user, a) => DrawdownSnap(user, a.nTicks, a.peak, a.maxDd.map(round4))
    }

  /** Streaming twin of the batch q_tick_health screen: largest
    * single-tick move and longest silent gap as O(1) keyed state on
    * `transformWithState` — the live stuck-feed / fat-finger tripwire.
    * Spec-pinned equal to the batch window form on in-order delivery. */
  def streamingTickHealth(ds: Dataset[EventRow]): Dataset[TickHealthSnap] =
    tickSnapshot(ds, "th", Encoders.product[TickHealthAcc])(tickHealthStep) {
      (user, a) => TickHealthSnap(user, a.nTicks, a.maxMove, a.maxGap)
    }

  /** One keyed step of the feed-health fold: quantize to cents exactly as
    * the batch Column form (`floor(v·100 + 0.5)` on the identical
    * double), diff against the remembered last tick, extend the maxima. */
  private[streaming] def tickHealthStep(st: Option[TickHealthAcc],
                                        e: EventRow): TickHealthAcc = {
    val c = math.floor(e.value * 100.0 + 0.5).toLong
    val us = eventMicros(e.ts)
    st match {
      case None => TickHealthAcc(c, us, None, None, 1L)
      case Some(a) =>
        val move = math.abs(c - a.lastCents)
        val gap = us - a.lastUs
        TickHealthAcc(c, us,
          Some(a.maxMove.fold(move)(math.max(_, move))),
          Some(a.maxGap.fold(gap)(math.max(_, gap))),
          a.nTicks + 1L)
    }
  }

  /** Streaming twin of the batch q_realized_vol aggregate: the exact
    * integer sum of squared cent moves as O(1) keyed state; the float
    * steps (one division, IEEE-exact sqrt) happen only at emit, so the
    * stream and the batch window compute the identical double. */
  def streamingRealizedVol(ds: Dataset[EventRow]): Dataset[RealizedVolSnap] =
    tickSnapshot(ds, "rv", Encoders.product[RealizedVolAcc])(realizedVolStep) {
      (user, a) =>
        val scored = a.nMoves > 0
        RealizedVolSnap(user, a.nTicks, a.nMoves,
          if (scored) Some(a.sumSq) else None,
          if (scored) Some(math.sqrt(a.sumSq.toDouble / a.nMoves.toDouble) / 100.0)
          else None)
    }

  /** One keyed step of the realized-vol fold: cents exactly as the batch
    * Column form, squared move accumulated as an exact integer. */
  private[streaming] def realizedVolStep(st: Option[RealizedVolAcc],
                                         e: EventRow): RealizedVolAcc = {
    val c = math.floor(e.value * 100.0 + 0.5).toLong
    st match {
      case None => RealizedVolAcc(c, 0L, 0L, 1L)
      case Some(a) =>
        val d = c - a.lastCents
        RealizedVolAcc(c, a.sumSq + d * d, a.nMoves + 1L, a.nTicks + 1L)
    }
  }

  /** Streaming twin of the batch q_bollinger screen: the prior-window
    * cent buffer as ≤5-deep keyed state; flags are the same
    * integer-domain test as the batch Column form, so stream and batch
    * agree bit-for-bit (append mode — one scored row per tick with a
    * full prior window). */
  def streamingBollinger(ds: Dataset[EventRow]): Dataset[BollScored] =
    keyedFold(ds)(_.user_id, OutputMode.Append(), "bollbuf",
        Encoders.product[BollBuf], byEvent) { (_, st, e) =>
      val (next, scored) = bollingerStep(st.fold(Seq.empty[Long])(_.cents), e)
      (BollBuf(next), scored)
    }

  /** One keyed step of the Bollinger fold (w=5, k=2 — the q_bollinger
    * parameters): score against the buffered PRIOR window, then push the
    * current cent. Integer decision, identical-operand mid/band. */
  private[streaming] def bollingerStep(vals: Seq[Long],
                                       e: EventRow): (Seq[Long], Option[BollScored]) = {
    val w = 5; val k = 2
    val c = math.floor(e.value * 100.0 + 0.5).toLong
    val scored = if (vals.length == w) {
      val sx = vals.sum
      val sxx = vals.map(v => v * v).sum
      val dev = w * c - sx
      val varn = w * sxx - sx * sx
      val out = dev * dev > k.toLong * k * varn
      Some(BollScored(e.user_id, e.event_id, e.value,
        sx.toDouble / (w * 100.0),
        k.toDouble * math.sqrt(varn.toDouble) / w.toDouble / 100.0,
        dev > 0 && out, dev < 0 && out))
    } else None
    ((vals :+ c).takeRight(w), scored)
  }

  /** Streaming twin of the batch q_best_trade report: prefix-min cents
    * and best profit as O(1) keyed state — the live backtest floor. */
  def streamingBestTrade(ds: Dataset[EventRow]): Dataset[BestTradeSnap] =
    tickSnapshot(ds, "bt", Encoders.product[BestTradeAcc])(bestTradeStep) {
      (user, a) => BestTradeSnap(user, a.nTicks, a.bestCents)
    }

  /** One keyed step of the best-trade fold (integer throughout). */
  private[streaming] def bestTradeStep(st: Option[BestTradeAcc],
                                       e: EventRow): BestTradeAcc = {
    val c = math.floor(e.value * 100.0 + 0.5).toLong
    st match {
      case None => BestTradeAcc(c, 0L, 1L)
      case Some(a) =>
        val m = math.min(a.minCents, c)
        BestTradeAcc(m, math.max(a.bestCents, c - m), a.nTicks + 1L)
    }
  }

  /** Streaming twin of the batch q_ema + q_macd recurrences: the four
    * EMA values as O(1) keyed state over the finalized day-bar stream.
    * Every step is the identical IEEE expression (same operand order) as
    * the batch `aggregate` fold and the DuckDB recursive CTE, so the
    * emitted doubles are bit-equal (append mode — one scored row per
    * bar). The emit expressions are the batch Column fold's verbatim
    * (one terminal /100 per value, `(e12 - e26 - sig)/100` for the
    * histogram — NEVER macd - signal, which differs in the last ulp). */
  def streamingEmaMacd(ds: Dataset[BarRow]): Dataset[EmaMacdScored] =
    barFold(ds, "emamacd", Encoders.product[EmaMacdAcc]) { (user, st, b) =>
      val a = emaMacdStep(st, b.close_cents)
      (a, Some(EmaMacdScored(user, b.day, b.close_cents, a.e20 / 100.0,
        (a.e12 - a.e26) / 100.0, a.sig / 100.0, (a.e12 - a.e26 - a.sig) / 100.0)))
    }

  /** One keyed step of the EMA/MACD fold — the Scala twin of the batch
    * Column fold in graft.queries.Breadth19 (constants shared from
    * there; the signal recurrence reads the SAME step's new fast/slow
    * values, exactly like the recursive CTE). */
  private[graft] def emaMacdStep(st: Option[EmaMacdAcc], closeCents: Long): EmaMacdAcc = {
    import graft.queries.Breadth19.{A12, A20, A26, A9}
    val c = closeCents.toDouble
    st match {
      case None => EmaMacdAcc(c, c, c, 0.0, 1L)
      case Some(a) =>
        val e20 = A20 * c + (1.0 - A20) * a.e20
        val e12 = A12 * c + (1.0 - A12) * a.e12
        val e26 = A26 * c + (1.0 - A26) * a.e26
        val sig = A9 * (e12 - e26) + (1.0 - A9) * a.sig
        EmaMacdAcc(e20, e12, e26, sig, a.nBars + 1L)
    }
  }

  /** Streaming twin of the batch q_rsi_wilder recurrence: previous
    * close + exact integer warm-up sums + the two Wilder averages as
    * O(1) keyed state (append mode — one scored row per bar). */
  def streamingWilderRsi(ds: Dataset[BarRow]): Dataset[WilderScored] =
    barFold(ds, "wilder", Encoders.product[WilderAcc]) { (user, st, b) =>
      val a = wilderStep(st, b.close_cents)
      (a, Some(WilderScored(user, b.day, b.close_cents, wilderRsi(a))))
    }

  /** One keyed step of the Wilder fold — integer gains/losses, the
    * simple-mean seed at the 14th diff, (prev·13 + x)/14 after. */
  private[graft] def wilderStep(st: Option[WilderAcc], closeCents: Long): WilderAcc = {
    val n = graft.queries.Breadth19.RsiN
    st match {
      case None => WilderAcc(closeCents, 0L, 0L, None, None, 1L)
      case Some(a) =>
        val d = closeCents - a.lastCents
        val g = math.max(d, 0L)
        val l = math.max(-d, 0L)
        val j = a.nBars // 1-based diff index of this step
        val sg = a.sg + g
        val sl = a.sl + l
        val (ag, al) =
          if (j < n) (None, None)
          else if (j == n) (Some(sg.toDouble / 14.0), Some(sl.toDouble / 14.0))
          else (Some((a.ag.get * 13.0 + g.toDouble) / 14.0),
            Some((a.al.get * 13.0 + l.toDouble) / 14.0))
        WilderAcc(closeCents, sg, sl, ag, al, a.nBars + 1L)
    }
  }

  /** The scored RSI value of a Wilder accumulator — the batch emit
    * expression verbatim. */
  private[graft] def wilderRsi(a: WilderAcc): Option[Double] =
    a.al.map(al => if (al == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + a.ag.get / al))

  /** Streaming twin of the batch q_roll_spread estimator: the serial-
    * covariance sums as O(1) keyed state over the tick stream (update
    * mode — one refreshed per-key row per micro-batch, the emitted
    * spread the batch expression verbatim: integer covariance
    * numerator, one division → sqrt → constant scaling, identical
    * operand order). */
  def streamingRollSpread(ds: Dataset[EventRow]): Dataset[RollSnap] =
    tickSnapshot(ds, "roll", Encoders.product[RollAcc])(rollSpreadStep) {
      (user, a) =>
        val covNum = a.nPairs * a.sxy - a.sx * a.sy
        RollSnap(user, a.nPairs, covNum,
          if (covNum < 0)
            Some(2.0 * math.sqrt((-covNum).toDouble /
              (a.nPairs * a.nPairs).toDouble) / 100.0)
          else None)
    }

  /** One keyed step of the Roll fold: remember the diff, pair it with
    * the previous one, accumulate the integer co-moment sums. */
  private[graft] def rollSpreadStep(st: Option[RollAcc], e: EventRow): RollAcc = {
    val c = math.floor(e.value * 100.0 + 0.5).toLong
    st match {
      case None => RollAcc(c, None, 0L, 0L, 0L, 0L)
      case Some(a) =>
        val d = c - a.lastCents
        a.lastDiff match {
          case None => RollAcc(c, Some(d), 0L, 0L, 0L, 0L)
          case Some(y) =>
            RollAcc(c, Some(d), a.nPairs + 1L, a.sx + d, a.sy + y,
              a.sxy + d * y)
        }
    }
  }

  /** Streaming twin of the batch q_sharpe aggregate over finalized day
    * bars: previous close + integer moment sums as O(1) keyed state;
    * emits the running Sharpe after every bar (the last emission per
    * key equals the batch row). */
  def streamingDailySharpe(ds: Dataset[BarRow]): Dataset[SharpeScored] =
    barFold(ds, "sharpe", Encoders.product[SharpeAcc]) { (user, st, b) =>
      val a = sharpeStep(st, b.close_cents)
      val varNum = a.nDays * a.sxx - a.sx * a.sx
      (a, Some(SharpeScored(user, b.day, a.nDays,
        if (varNum > 0) Some(a.sx.toDouble / math.sqrt(varNum.toDouble))
        else None)))
    }

  /** Streaming twin of the batch q_adx recurrence-of-a-recurrence: the
    * whole directional-movement accumulator (last bar, warm-up sums, the
    * three Wilder averages, the DX-series smoothing) as ONE O(1) keyed
    * state row over the finalized OHLC day-bar stream. The step function
    * IS the batch fold's (graft.queries.Breadth22.adxStep), so stream ==
    * batch bit-for-bit by construction (append mode — one scored row per
    * bar). */
  def streamingAdx(ds: Dataset[OhlcBarRow]): Dataset[AdxScored] =
    barFold(ds, "adx", Encoders.product[Breadth22.AdxAcc]) { (user, st, b) =>
      val a = Breadth22.adxStep(st, b.high_cents, b.low_cents, b.close_cents)
      val (dip, dim, dx, adx) = Breadth22.adxOut(a)
      (a, Some(AdxScored(user, b.day, dip, dim, dx, adx)))
    }

  /** Streaming twin of the batch q_tsi double-smoothed momentum: one
    * TsiAcc per key (previous close + four EMA values), the SAME step
    * function as the batch fold (append mode — one row per bar). */
  def streamingTsi(ds: Dataset[BarRow]): Dataset[TsiScored] =
    barFold(ds, "tsi", Encoders.product[Breadth23.TsiAcc]) { (user, st, b) =>
      val a = Breadth23.tsiStep(st, b.close_cents)
      (a, Some(TsiScored(user, b.day, b.close_cents, Breadth23.tsiOut(a))))
    }

  /** Streaming twin of the batch q_supertrend ratcheted bands: one
    * StAcc per key over the OHLC day-bar stream, the SAME step function
    * as the batch fold (append mode — one row per bar, warm-up rows
    * all-None). */
  def streamingSupertrend(ds: Dataset[OhlcBarRow]): Dataset[SupertrendScored] =
    barFold(ds, "supertrend", Encoders.product[Breadth23.StAcc]) { (user, st, b) =>
      val a = Breadth23.supertrendStep(st, b.high_cents, b.low_cents, b.close_cents)
      (a, Some(SupertrendScored(user, b.day, b.close_cents, a.atr, a.fub, a.flb,
        a.up.map(u => if (u) "up" else "down"),
        a.up.map(u => if (u) a.flb.get else a.fub.get))))
    }

  /** Streaming twin of the batch q_force_index recurrence: one FiAcc
    * per key (previous close + EMA13) over the volume-carrying day-bar
    * stream, the SAME step function as the batch fold (append mode —
    * one row per bar, the seed bar all-None). */
  def streamingForceIndex(ds: Dataset[VolBarRow]): Dataset[FiScored] =
    barFold(ds, "force_index", Encoders.product[Breadth27.FiAcc]) { (user, st, b) =>
      val a = Breadth27.fiStep(st, b.close_cents, b.vol)
      (a, Some(FiScored(user, b.day, b.close_cents, a.fi, a.ema)))
    }

  /** Streaming twin of the batch q_adl_chaikin recurrence: one AdlAcc
    * per key (integer ADL quantum + both EMAs), the SAME step function
    * and money-flow quantum as the batch fold (append mode — one row
    * per bar). */
  def streamingChaikinOsc(ds: Dataset[VolBarRow]): Dataset[AdlScored] =
    barFold(ds, "adl_osc", Encoders.product[Breadth27.AdlAcc]) { (user, st, b) =>
      val a = Breadth27.adlStep(st,
        Breadth27.mfvQuantum(b.high_cents, b.low_cents, b.close_cents, b.vol))
      (a, Some(AdlScored(user, b.day, a.adlQ, a.adlQ.toDouble / 1.0e6,
        (a.e3 - a.e10) / 1.0e6)))
    }

  /** Streaming twin of the batch q_nvi_pvi recurrence: one NviAcc per
    * key (previous close/volume + both indices), the SAME step function
    * as the batch fold (append mode — one row per bar). */
  def streamingNviPvi(ds: Dataset[VolBarRow]): Dataset[NviScored] =
    barFold(ds, "nvi_pvi", Encoders.product[Breadth28.NviAcc]) { (user, st, b) =>
      val a = Breadth28.nviStep(st, b.close_cents, b.vol)
      (a, Some(NviScored(user, b.day, b.close_cents, a.nvi, a.pvi)))
    }

  /** Streaming twin of the batch q_trix recurrence: one TrixAcc per
    * key (the three EMA stages + previous e3), the SAME step function
    * as the batch fold (append mode — one row per bar). The emitted
    * rate of change reads the PRE-step state to tell the seed bar. */
  def streamingTrix(ds: Dataset[BarRow]): Dataset[TrixScored28] =
    barFold(ds, "trix", Encoders.product[Breadth28.TrixAcc]) { (user, st, b) =>
      val a = Breadth28.trixStep(st, b.close_cents)
      (a, Some(TrixScored28(user, b.day, b.close_cents, a.e3,
        Breadth28.trixOut(st, a))))
    }

  /** Streaming twin of the batch q_mass_index window-over-fold: one
    * MassAcc28 per key — the EMA pair via the SAME step function
    * (Breadth28.massRatioStep) plus an O(w) ring of the trailing ratio
    * quanta standing in for the batch's window sum (integer sums are
    * order-free, so ring-sum == window-sum exactly). Emits only full
    * windows, the batch row set (append mode). */
  def streamingMassIndex(ds: Dataset[OhlcBarRow]): Dataset[MassScored] =
    barFold(ds, "massindex", Encoders.product[MassAcc28]) { (user, st, b) =>
      val w = Breadth28.MassW
      val (pair, q) = Breadth28.massRatioStep(
        st.map(a => (a.e1, a.e2)), b.high_cents, b.low_cents)
      val ring = (st.map(_.ring).getOrElse(Seq.empty) :+ q).takeRight(w)
      (MassAcc28(pair._1, pair._2, ring),
        if (ring.size < w) None
        else Some(MassScored(user, b.day, b.close_cents, ring.sum,
          ring.sum.toDouble / 1.0e8)))
    }

  /** Streaming twin of the batch q_kama recurrence: one KamaAcc per
    * key (the O(w) close ring + the adaptive MA), the SAME step
    * function as the batch fold (append mode — warm-up rows None). */
  def streamingKama(ds: Dataset[BarRow]): Dataset[KamaScored] =
    barFold(ds, "kama", Encoders.product[Breadth28.KamaAcc]) { (user, st, b) =>
      val a = Breadth28.kamaStep(st, b.close_cents)
      (a, Some(KamaScored(user, b.day, b.close_cents, a.kama.map(_ / 100.0))))
    }

  /** Streaming twin of the batch q_ewma_vol recurrence: one EwmaVolAcc
    * per key (previous close + running variance), the SAME RiskMetrics
    * step as the batch fold (append mode — first bar None), emitted in
    * the price domain with the batch form's exact √v/100. */
  def streamingEwmaVol(ds: Dataset[BarRow]): Dataset[EwmaVolScored] =
    barFold(ds, "ewmavol", Encoders.product[Breadth69.EwmaVolAcc]) { (user, st, b) =>
      val a = Breadth69.ewmaVolStep(st, b.close_cents)
      (a, Some(EwmaVolScored(user, b.day, b.close_cents,
        a.v.map(math.sqrt(_) / 100.0))))
    }

  /** Streaming twin of the batch q_holt_winters recurrence: one HwAcc
    * (level, trend, 7 weekday seasonals) per key, the SAME step as the
    * batch fold — the weekday comes from the bar's calendar day, so a
    * micro-batch split can't rotate the season (append mode). */
  def streamingHoltWinters(ds: Dataset[BarRow]): Dataset[HwScored] =
    barFold(ds, "hw", Encoders.product[Breadth99.HwAcc]) { (user, st, b) =>
      val w = b.day.getDayOfWeek.getValue % 7 // ISO Mon=1..Sun=7 → 0=Sun
      val (next, o) = Breadth99.hwStep(st, b.close_cents.toDouble, w)
      (next, Some(HwScored(user, b.day, o.level / 100.0, o.trend / 100.0,
        o.seasonal / 100.0, o.fitted.map(_ / 100.0))))
    }

  /** Streaming twin of the batch q_croston recurrence: per key, the
    * previous demand day + the (z, p) pair; the calendar-day gap is
    * derived from the carried previous day, exactly the batch lag
    * (append mode — the first demand day seeds z=d, p=1). */
  def streamingCroston(ds: Dataset[DemandRow]): Dataset[CrostonScored] =
    barFold(ds, "croston", Encoders.product[CrostonState]) { (user, st, r) =>
      val gap = st.fold(1.0)(s => (r.day.toEpochDay - s.prevDayEpoch).toDouble)
      val a = Breadth99.crostonStep(st.map(s => Breadth99.CrAcc(s.z, s.p)),
        r.demand.toDouble, gap)
      (CrostonState(r.day.toEpochDay, a.z, a.p),
        Some(CrostonScored(user, r.day, r.demand, a.z, a.p, a.z / a.p)))
    }

  /** Streaming twin of the batch q_rolling_median window: an O(7)
    * close ring per key; the emit is the SAME sorted low/high middle
    * pick as the batch frame, (lo+hi)/200 (append mode). */
  def streamingRollingMedian(ds: Dataset[BarRow],
                             win: Int = 7): Dataset[RollMedScored] =
    barFold(ds, "rollmed", Encoders.product[RollMedRing]) { (user, st, b) =>
      val cs = (st.fold(Seq.empty[Long])(_.closes) :+ b.close_cents).takeRight(win)
      val sorted = cs.sorted
      val m = sorted.size
      val med = (sorted((m + 1) / 2 - 1) + sorted(m / 2)).toDouble / 200.0
      (RollMedRing(cs), Some(RollMedScored(user, b.day,
        b.close_cents.toDouble / 100.0, m.toLong, med)))
    }

  /** Streaming twin of the batch q_cs_spread: the previous bar's
    * (high, low, quantized log-range) per key; the SAME α assembly and
    * 6-dp-rounded spread as the batch form (append mode — a key's
    * first bar emits nothing, the batch's lag-null row). Bars with
    * low ≤ 0 are skipped without touching state, exactly the batch
    * pre-lag filter. */
  def streamingCsSpread(ds: Dataset[OhlcBarRow]): Dataset[CsSpreadScored] =
    keyedFold(ds)(_.user_id, OutputMode.Append(), "csspread",
        Encoders.product[CsState],
        rows => byDay(rows).filter(_.low_cents > 0)) {
      (user, st, b) =>
        val lq = math.floor(math.log(b.high_cents.toDouble /
          b.low_cents.toDouble) * 1.0e6 + 0.5).toLong
        val scored = st.map { p =>
          val h2 = math.max(b.high_cents, p.prevHigh)
          val l2 = math.min(b.low_cents, p.prevLow)
          val gq = math.floor(math.log(h2.toDouble / l2.toDouble) * 1.0e6 +
            0.5).toLong
          val beta = (lq * lq + p.prevLq * p.prevLq).toDouble
          val gamma = (gq * gq).toDouble
          val den = 3.0 - 2.0 * math.sqrt(2.0)
          val alpha = (math.sqrt(2.0 * beta) - math.sqrt(beta)) / den -
            math.sqrt(gamma / den)
          val ea = math.exp(alpha / 1.0e6)
          CsSpreadScored(user, b.day, java.math.BigDecimal
            .valueOf(2.0 * (ea - 1.0) / (1.0 + ea))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        }
        (CsState(b.high_cents, b.low_cents, lq), scored)
    }

  /** Streaming twin of the batch q_vwma window: an O(n) (close, vol)
    * ring per key; the emit is the SAME Σcv/Σv single division as the
    * batch frame (append mode; input = bars that HAVE a day volume,
    * the batch inner-join row set). */
  def streamingVwma(ds: Dataset[VolBarRow],
                    win: Int = 10): Dataset[VwmaScored] =
    barFold(ds, "vwma", Encoders.product[VwmaRing]) { (user, st, b) =>
      val cs = (st.fold(Seq.empty[Long])(_.closes) :+ b.close_cents).takeRight(win)
      val vs = (st.fold(Seq.empty[Long])(_.vols) :+ b.vol).takeRight(win)
      val spv = cs.zip(vs).map { case (c, v) => c * v }.sum
      val sv = vs.sum
      (VwmaRing(cs, vs), Some(VwmaScored(user, b.day,
        b.close_cents.toDouble / 100.0,
        if (sv > 0) Some(spv.toDouble / sv.toDouble / 100.0) else None)))
    }

  /** Streaming twin of the batch q_envelope: an O(n) close ring; the
    * SAME integer-product band edges and cross-multiplied breakout
    * flags (append mode). */
  def streamingEnvelope(ds: Dataset[BarRow], win: Int = 20,
                        permille: Long = 25L): Dataset[EnvScored] =
    barFold(ds, "envelope", Encoders.product[CloseRing]) { (user, st, b) =>
      val cs = (st.fold(Seq.empty[Long])(_.closes) :+ b.close_cents).takeRight(win)
      val s = cs.sum; val m = cs.size.toLong
      (CloseRing(cs), Some(EnvScored(user, b.day, b.close_cents.toDouble / 100.0,
        s.toDouble / m.toDouble / 100.0,
        (s * (1000L + permille)).toDouble / (m * 1000L).toDouble / 100.0,
        (s * (1000L - permille)).toDouble / (m * 1000L).toDouble / 100.0,
        b.close_cents * m * 1000L > s * (1000L + permille),
        b.close_cents * m * 1000L < s * (1000L - permille))))
    }

  /** Streaming twin of the batch q_disparity: an O(n) close ring; the
    * SAME 100·c·m/Σc single division (append mode). */
  def streamingDisparity(ds: Dataset[BarRow],
                         win: Int = 13): Dataset[DisparityScored] =
    barFold(ds, "disparity", Encoders.product[CloseRing]) { (user, st, b) =>
      val cs = (st.fold(Seq.empty[Long])(_.closes) :+ b.close_cents).takeRight(win)
      val s = cs.sum; val m = cs.size.toLong
      (CloseRing(cs), Some(DisparityScored(user, b.day,
        b.close_cents.toDouble / 100.0,
        (b.close_cents * m * 100L).toDouble / s.toDouble)))
    }

  /** Streaming twin of the batch q_qstick window: an O(k) candle-body
    * ring per key; the emit is the SAME integer sum / (k·100) as the
    * batch frame (append mode — warm-up rows None). */
  def streamingQstick(ds: Dataset[FullBarRow],
                      k: Int = 5): Dataset[QstickScored] =
    barFold(ds, "qstick", Encoders.product[QstickRing]) { (user, st, b) =>
      val bodies = (st.fold(Seq.empty[Long])(_.bodies) :+
        (b.close_cents - b.open_cents)).takeRight(k)
      (QstickRing(bodies), Some(QstickScored(user, b.day,
        if (bodies.size == k) Some(bodies.sum.toDouble / (k * 100.0))
        else None)))
    }

  /** Streaming twin of the batch q_fractals pattern: an O(5) full-bar
    * ring per key; a swing is emitted two bars after its day (the
    * ±2-bar confirmation lag), with exactly the batch rows — the final
    * two bars of any prefix are unconfirmable in BOTH forms. */
  def streamingFractals(ds: Dataset[FullBarRow]): Dataset[FractalScored] =
    barFold(ds, "fractals", Encoders.product[FractalRing]) { (user, st, b) =>
      val r = st.getOrElse(FractalRing(Seq.empty, Seq.empty, Seq.empty))
      val s = FractalRing((r.days :+ b.day.toEpochDay).takeRight(5),
        (r.highs :+ b.high_cents).takeRight(5),
        (r.lows :+ b.low_cents).takeRight(5))
      val out = Seq.newBuilder[FractalScored]
      if (s.days.size == 5) {
        // the CENTER bar is judged once both confirming bars exist
        val day = java.time.LocalDate.ofEpochDay(s.days(2))
        val h = s.highs; val l = s.lows
        if (h(2) > h(0) && h(2) > h(1) && h(2) > h(3) && h(2) > h(4))
          out += FractalScored(user, day, "high", h(2))
        if (l(2) < l(0) && l(2) < l(1) && l(2) < l(3) && l(2) < l(4))
          out += FractalScored(user, day, "low", l(2))
      }
      (s, out.result())
    }

  /** Streaming twin of the batch q_dema recurrence: one DemaAcc per key
    * (two chained EMA stages), the SAME step function as the batch fold
    * (append mode — one row per bar), emitted in the price domain. */
  def streamingDema(ds: Dataset[BarRow]): Dataset[DemaScored] =
    barFold(ds, "dema", Encoders.product[Breadth28.DemaAcc]) { (user, st, b) =>
      val a = Breadth28.demaStep(st, b.close_cents)
      (a, Some(DemaScored(user, b.day, b.close_cents, (2.0 * a.e1 - a.e2) / 100.0)))
    }

  /** Streaming twin of the batch q_ppo recurrence: one PpoAcc per key
    * (the MACD EMA pair), the SAME step function and zero-EMA null
    * (append mode). */
  def streamingPpo(ds: Dataset[BarRow]): Dataset[PpoScored] =
    barFold(ds, "ppo", Encoders.product[Breadth28.PpoAcc]) { (user, st, b) =>
      val a = Breadth28.ppoStep(st, b.close_cents)
      (a, Some(PpoScored(user, b.day, b.close_cents,
        if (a.e26 != 0.0) Some(100.0 * (a.e12 - a.e26) / a.e26) else None)))
    }

  /** Streaming twin of the batch q_kalman recurrence: one KalmanAcc
    * per key (posterior mean/variance/gain), the SAME step function
    * (append mode — one row per bar). */
  def streamingKalman(ds: Dataset[BarRow]): Dataset[KalmanScored] =
    barFold(ds, "kalman", Encoders.product[Breadth118.KalmanAcc]) { (user, st, b) =>
      val a = Breadth118.kalmanStep(st, b.close_cents)
      (a, Some(KalmanScored(user, b.day, b.close_cents, a.x / 100.0, a.k)))
    }

  /** Streaming twin of the batch q_page_hinkley drift detector: one
    * PhAcc per key, the SAME step function (append mode). */
  def streamingPageHinkley(ds: Dataset[BarRow]): Dataset[PhScored] =
    barFold(ds, "pagehinkley", Encoders.product[Breadth130.PhAcc]) { (user, st, b) =>
      val a = Breadth130.phStep(st, b.close_cents)
      (a, Some(PhScored(user, b.day, b.close_cents, a.m, a.m - a.minM, a.alarmed)))
    }

  /** Streaming twin of the batch q_clamped_balance recurrence: one
    * ClampAcc per key (prev close + clamped balance), the SAME step
    * function (append mode). */
  def streamingClampedBalance(ds: Dataset[BarRow]): Dataset[ClampScored] =
    barFold(ds, "clamp", Encoders.product[Breadth123.ClampAcc]) { (user, st, b) =>
      val a = Breadth123.clampStep(st, b.close_cents)
      (a, Some(ClampScored(user, b.day, b.close_cents, a.bal)))
    }

  /** Streaming twin of the batch q_sprt decision: the SAME
    * Breadth147.sprtStep folded on O(1) keyed state per stream
    * (append mode — one verdict row per observation; cross-batch late
    * rows drop and count, the funnel-twin convention: the decision
    * index is order-sensitive). */
  def streamingSprt(ds: Dataset[SprtEvent]): Dataset[SprtScored] =
    keyedFold(ds)(_.stream, OutputMode.Append(), "sprt",
        Encoders.product[SprtState], _.sortBy(e => (e.ts.getTime, e.event_id))) {
      (stream, st, e) =>
        val s = st.getOrElse(SprtState(0L, 0L, decided = false, -1L, 0L,
          Long.MinValue, 0L))
        val t = e.ts.getTime
        if (t < s.maxTs) (s.copy(nLate = s.nLate + 1), None)
        else {
          val prev =
            if (s.k == 0) None
            else Some(Breadth147.SprtAcc(s.k, s.llr, s.decided, s.kd, s.llrd))
          val acc = Breadth147.sprtStep(prev, e.x)
          val decision =
            if (!acc.decided) "continue"
            else if (acc.llrd >= Breadth147.BoundQ) "accept_h1"
            else "accept_h0"
          (SprtState(acc.k, acc.llr, acc.decided, acc.kd, acc.llrd,
            math.max(s.maxTs, t), s.nLate),
            Some(SprtScored(stream, acc.k, e.x, acc.llr, decision, s.nLate)))
        }
    }

  /** Live AMS F₂ sketch, keyed by source (update mode): one 5-sum
    * integer sketch per source whose ELEMENT-WISE SUM across keys
    * equals the batch global sketch (Breadth146.amsSketches) — the
    * mergeability that makes the sketch the warehouse-scale path.
    * Token order is irrelevant (integer sums commute), so no late-row
    * guard is needed and documents fold in arrival order. JVM md5 sign
    * twin, spec-pinned equal to the SQL sign. */
  def streamingAmsSketch(ds: Dataset[AmsDoc]): Dataset[AmsSnap] =
    keyedFold(ds)(_.source, OutputMode.Update(), "ams",
        Encoders.product[(Long, Seq[Long])], identity)(
      (_, st, d) => {
        val k = Breadth146.AmsK
        var (n, sums) = st.getOrElse((0L, Seq.fill(k)(0L)))
        val acc = sums.toArray
        Breadth146.tokensJvm(d.text).foreach { tok =>
          n += 1
          var j = 0
          while (j < k) {
            acc(j) += Breadth146.amsSignJvm(tok, j)
            j += 1
          }
        }
        ((n, acc.toSeq), Nil)
      },
      (source, _, a) => Some(AmsSnap(source, a._1, a._2)))

  /** Streaming twin of the batch q_sequence_match regex: the pattern
    * `s[^e]*p` ("a signup converts with no error between") compiled to
    * an O(1) DFA per key — active-signup flag, absorbing matched flag,
    * event count — emitting the current verdict each micro-batch
    * (update mode). The batch regex over the collected string and this
    * DFA decide the same language, so the LAST emit equals the batch
    * verdict on the same prefix. Cross-batch late rows (event time
    * below an earlier batch's fold horizon) are dropped and counted in
    * `n_late` — loud, never a silent divergence. */
  def streamingSequenceMatch(ds: Dataset[SeqEvent]): Dataset[SeqMatchScored] =
    keyedFold(ds)(_.user_id, OutputMode.Update(), "seqmatch",
        Encoders.product[(Boolean, Boolean, Long, Long, Long)], bySeqTime)(
      (_, st, e) => {
        // state: (active signup, matched, events, fold horizon, late rows)
        val (active, matched, n, maxTs, nLate) =
          st.getOrElse((false, false, 0L, Long.MinValue, 0L))
        val t = seqMicros(e.ts)
        if (t < maxTs) ((active, matched, n, maxTs, nLate + 1), Nil)
        else {
          val (a2, m2) = e.initial match {
            case "s" => (true, matched)
            case "e" => (false, matched)
            case "p" => (active, matched || active)
            case _ => (active, matched)
          }
          ((a2, m2, n + 1, math.max(maxTs, t), nLate), Nil)
        }
      },
      (user, _, s) => Some(SeqMatchScored(user, s._3, s._2, s._5)))

  /** Streaming twin of the batch q_window_funnel: per key, the live
    * view→click→purchase level under the 48 h deadline, on BOUNDED
    * state — pending views (awaiting their earliest later click) and
    * the open (click, deadline) anchor frontier a future purchase can
    * still complete; anchors whose deadline passed the newest seen ts
    * are pruned each batch, so state is bounded by one window's
    * events. Emits the current level per batch (update mode); the
    * final level equals the batch greedy on the same IN-ORDER prefix;
    * cross-batch late rows (event time below an earlier batch's fold
    * horizon — the pruned state could pair them differently than the
    * batch greedy) are dropped and counted in `n_late`, never folded
    * silently.
    *
    * Event semantics mirror the batch greedy exactly: a view opens a
    * pending anchor; the EARLIEST later click pairs every pending view
    * (those within deadline join the frontier, the rest die — any later
    * click is later still); a purchase strictly after some frontier
    * click and within its anchor's deadline completes level 3
    * (absorbing). */
  def streamingWindowFunnel(ds: Dataset[SeqEvent],
                            windowUs: Long = graft.queries.Breadth120
                              .FunnelWindowUs): Dataset[FunnelScored] =
    keyedFold(ds)(_.user_id, OutputMode.Update(), "funnel",
        Encoders.product[FunnelState], bySeqTime)(
      (_, st, e) => {
        var s = st.getOrElse(FunnelState(0, Seq.empty, Seq.empty, Long.MinValue, 0L))
        val t = seqMicros(e.ts)
        if (t < s.maxTs) s = s.copy(nLate = s.nLate + 1)
        else if (s.level < 3) {
          e.initial match {
            case "v" =>
              s = s.copy(level = math.max(s.level, 1),
                pendingViews = s.pendingViews :+ t, maxTs = t)
            case "c" =>
              val (alive, _) = s.pendingViews.filter(_ < t)
                .partition(v => t <= v + windowUs)
              val kept = s.pendingViews.filterNot(_ < t)
              val newFrontier = s.frontier ++ alive.map(v => (t, v + windowUs))
              s = s.copy(
                level = if (alive.nonEmpty) math.max(s.level, 2) else s.level,
                pendingViews = kept,
                frontier = newFrontier.filter(_._2 >= t), maxTs = t)
            case "p" =>
              if (s.frontier.exists(f => t > f._1 && t <= f._2))
                s = s.copy(level = 3, pendingViews = Seq.empty,
                  frontier = Seq.empty, maxTs = t)
              else s = s.copy(maxTs = t)
            case _ => s = s.copy(maxTs = t)
          }
          // prune anchors no in-order future purchase can complete and
          // pending views no in-order future click can pair in-window
          if (s.level < 3)
            s = s.copy(frontier = s.frontier.filter(_._2 >= s.maxTs),
              pendingViews = s.pendingViews.filter(_ + windowUs >= s.maxTs))
        }
        (s, Nil)
      },
      (user, _, s) => Some(FunnelScored(user, s.level, s.nLate)))

  /** Streaming twin of the batch q_vpin volume buckets: O(1) keyed
    * state (last close, cumulative volume, the open bucket's running
    * imbalance); a completed bucket is emitted the moment a tick opens
    * a higher bucket — the same bucket boundaries (bucket id = pre-tick
    * cumulative div barVol) and tick-rule signs as the batch
    * construction, so emitted buckets are bit-equal to the batch
    * per-bar rows (the key's open bucket stays unemitted, exactly the
    * rows a live screen cannot know yet). */
  def streamingVpinBuckets(ds: Dataset[TickRow],
                           barVol: Long): Dataset[VpinBucket] =
    keyedFold(ds)(_.user_id, OutputMode.Append(), "vpin",
        Encoders.product[VpinState], _.sortBy(_.seq)) { (user, st, t) =>
      var s = st.getOrElse(VpinState(None, 0L, 0L, 0L, 0L))
      val bar = s.cum / barVol // pre-tick cumulative → this tick's bucket
      val done =
        if (bar > s.barId) {
          val b = VpinBucket(user, s.barId, math.abs(s.imb), s.vol)
          s = s.copy(barId = bar, imb = 0L, vol = 0L)
          Some(b)
        } else None
      val sv = s.prevClose match {
        case Some(p) if t.cents > p => t.vol
        case Some(p) if t.cents < p => -t.vol
        case _ => 0L
      }
      (VpinState(Some(t.cents), s.cum + t.vol, s.barId, s.imb + sv,
        s.vol + t.vol), done)
    }

  /** Streaming twin of the batch q_three_bar_patterns: a ≤2-bar
    * (open, close) ring per key, each arriving bar scored by the SAME
    * pure flag function (`Breadth52.threeBarFlags`; false until three
    * bars exist, the batch null→false stance), parity-pinned against
    * the batch lag-window form across micro-batch splits. */
  def streamingThreeBar(ds: Dataset[OcBarRow]): Dataset[ThreeBarScored] =
    barFold(ds, "ring", Encoders.product[ThreeBarRing]) { (user, st, b) =>
      val prev = st.fold(Seq.empty[OcPair])(_.prev)
      val (tws, tbc, ms) = prev match {
        case Seq(p2, p1) =>
          Breadth52.threeBarFlags(p2.o, p2.c, p1.o, p1.c,
            b.open_cents, b.close_cents)
        case _ => (false, false, false)
      }
      (ThreeBarRing((prev :+ OcPair(b.open_cents, b.close_cents)).takeRight(2)),
        Some(ThreeBarScored(user, b.day, tws, tbc, ms)))
    }

  /** Streaming twin of the batch count-min build (q_count_min /
    * q_cms_width_curve): each arriving key fans out to its d (row,
    * bucket) cells, and one O(1) keyed counter per cell accumulates
    * across micro-batches — the sketch's associative merge IS the
    * keyed-state sum, so the live sketch equals the batch sketch over
    * the same arrivals regardless of batch splits. State is d·w
    * counters TOTAL (256 at the default shape), independent of key
    * cardinality — the whole point of sketching a 100 TB stream. */
  def streamingCmsCells(keys: Dataset[Long], w: Int): Dataset[CmsCellState] = {
    import keys.sparkSession.implicits._
    val incs = keys.flatMap { k =>
      Breadth44.CmsHashes.zipWithIndex.map { case ((a, b), i) =>
        CmsIncrement(i, ((a * k + b) % Breadth44.CmsP) % w, 1L)
      }
    }
    keyedFold(incs)(c => (c.row, c.bucket), OutputMode.Append(), "cms",
        Encoders.scalaLong, identity)(
      (_, st, c) => (st.getOrElse(0L) + c.inc, Nil),
      (cell, _, tot) => Some(CmsCellState(cell._1, cell._2, tot)))
  }

  /** Streaming twin of the batch q_holt recurrence: one (level, trend)
    * pair per key, the SAME step function as the batch fold (append
    * mode — one row per bar); the step's forecast error reads the
    * PREVIOUS state, so it rides the state row. */
  def streamingHolt(ds: Dataset[BarRow]): Dataset[HoltScored] =
    barFold(ds, "holt", Encoders.product[HoltFold]) { (user, st, b) =>
      val (acc, row) = Breadth45.holtStep(
        st.map(s => Breadth45.HoltAcc(s.l, s.t)), b.close_cents.toDouble)
      (HoltFold(acc.l, acc.t, row.fcErr), Some(HoltScored(user, b.day,
        b.close_cents, acc.l / 100.0, acc.t / 100.0, (acc.l + acc.t) / 100.0,
        row.fcErr.map(_ / 100.0))))
    }

  /** Streaming twin of the batch q_elder_ray: one EMA-13 double per key,
    * bull/bear power computed at emit from the bar's high/low with the
    * batch form's exact expressions (append mode). */
  def streamingElderRay(ds: Dataset[OhlcBarRow]): Dataset[ElderScored] =
    barFold(ds, "elder", Encoders.scalaDouble) { (user, st, b) =>
      val e = st.fold(b.close_cents.toDouble)(p =>
        Breadth28.ElderA * b.close_cents + (1.0 - Breadth28.ElderA) * p)
      (e, Some(ElderScored(user, b.day, b.close_cents, e / 100.0,
        (b.high_cents - e) / 100.0, (b.low_cents - e) / 100.0)))
    }

  /** Streaming twin of the batch q_wma weighted MA — the WINDOW-family
    * twin (an O(w) close ring per key rather than a scalar recurrence):
    * the same integer lag-sum numerator as the batch form (weight w on
    * the newest close), emitted once the ring fills (append mode). */
  def streamingWma(ds: Dataset[BarRow]): Dataset[WmaScored] =
    barFold(ds, "wma", Encoders.product[WmaRing]) { (user, st, b) =>
      val w = Breadth31.WmaN
      val closes = (st.fold(Seq.empty[Long])(_.closes) :+ b.close_cents).takeRight(w)
      val wma =
        if (closes.length < w) None
        else {
          val num = closes.zipWithIndex.map { case (c, k) => (k + 1) * c }.sum
          Some(num.toDouble / (w * (w + 1) / 2).toDouble / 100.0)
        }
      (WmaRing(closes), Some(WmaScored(user, b.day, b.close_cents, wma)))
    }

  /** Streaming twin of the batch q_streak integer recurrence (append
    * mode, O(1) state). */
  def streamingStreak(ds: Dataset[BarRow]): Dataset[StreakScored] =
    barFold(ds, "streak", Encoders.product[StreakAcc]) { (user, st, b) =>
      val a = StreakAcc(b.close_cents, st.fold(0L)(p =>
        Breadth33.streakStep(p.streak, b.close_cents, p.pc)))
      (a, Some(StreakScored(user, b.day, b.close_cents, a.streak)))
    }

  /** Streaming twin of the batch q_connors_rsi composite: the SAME
    * `crsiStep` (three recurrences + the 100-return ring) on keyed
    * state — the composite-accumulator demonstration that a flagship
    * multi-component screen streams with O(100) state per key. The
    * state carries the 0-based bar count the warm-up gates read. */
  def streamingConnorsRsi(ds: Dataset[BarRow]): Dataset[CrsiScored] =
    barFold(ds, "crsi", Encoders.product[CrsiState]) { (user, st, b) =>
      val n = st.map(_.n + 1L).getOrElse(0L)
      val a = Breadth34.crsiStep(st.map(_.acc), b.close_cents, n.toInt)
      (CrsiState(n, a), Some(CrsiScored(user, b.day, b.close_cents, a.streak,
        a.rsi3, a.rsi2, a.pr,
        (a.rsi3, a.rsi2, a.pr) match {
          case (Some(x), Some(y), Some(z)) => Some((x + y + z) / 3.0)
          case _ => None
        })))
    }

  /** Streaming twin of the batch q_elder_impulse classification — the
    * SAME `impulseStep` (EMA-13 + MACD joint direction), append mode,
    * O(1) state; the per-bar class rides in the state row. */
  def streamingElderImpulse(ds: Dataset[BarRow]): Dataset[ImpulseScored] =
    barFold(ds, "impulse", Encoders.product[ImpulseState]) { (user, st, b) =>
      val (a, cls) = Breadth35.impulseStep(st.map(_.acc), b.close_cents)
      (ImpulseState(a, cls), Some(ImpulseScored(user, b.day, b.close_cents, cls)))
    }

  /** Streaming twin of the batch q_psar stop-and-reverse: one PsarAcc
    * per key (regime, SAR, EP, AF, the 2-bar clamp ring), the SAME
    * step function as the batch fold (append mode). */
  def streamingPsar(ds: Dataset[OhlcBarRow]): Dataset[PsarScored] =
    barFold(ds, "psar", Encoders.product[Breadth30.PsarAcc]) { (user, st, b) =>
      val a = Breadth30.psarStep(st, b.high_cents, b.low_cents)
      (a, Some(PsarScored(user, b.day, b.close_cents, a.sar / 100.0, a.up)))
    }

  /** Streaming twin of the batch q_variance_ratio aggregate: the
    * incremental `Breadth85.vrStep` fold — O(q) move ring + six exact
    * integer sums per key, the running VR(5) emitted per bar. The
    * LAST emit per key equals the batch per-key row bit-for-bit
    * (append mode; StreamingVrSpec pins the parity across micro-batch
    * splits). */
  def streamingVarianceRatio(ds: Dataset[BarRow]): Dataset[VrScored] =
    barFold(ds, "vr", Encoders.product[Breadth85.VrAcc]) { (user, st, b) =>
      val a = Breadth85.vrStep(st, b.close_cents)
      (a, Some(VrScored(user, b.day, b.close_cents, a.n1, a.n2, Breadth85.vrOf(a))))
    }

  /** Streaming twin of the batch q_heikin_ashi smoothed candles: one
    * HaAcc per key over the open-carrying day-bar stream, the SAME step
    * and emit expressions as the batch fold (append mode — one row per
    * bar). */
  def streamingHeikinAshi(ds: Dataset[Ohlc4BarRow]): Dataset[HaScored] =
    barFold(ds, "heikin", Encoders.product[Breadth24.HaAcc]) { (user, st, b) =>
      val a = Breadth24.haStep(st, b.open_cents, b.high_cents, b.low_cents,
        b.close_cents)
      val r = Breadth24.haOut(a, b.high_cents, b.low_cents)
      (a, Some(HaScored(user, b.day, r.ha_open, r.ha_high, r.ha_low, r.ha_close)))
    }

  /** One keyed step of the Sharpe fold (integer moments only). */
  private[graft] def sharpeStep(st: Option[SharpeAcc], closeCents: Long): SharpeAcc =
    st match {
      case None => SharpeAcc(closeCents, 0L, 0L, 0L)
      case Some(a) =>
        val x = closeCents - a.lastClose
        SharpeAcc(closeCents, a.nDays + 1L, a.sx + x, a.sxx + x * x)
    }

  /** One keyed step of the drawdown fold, shared with the spec's
    * reference fold: extend the prefix peak with the incoming value,
    * score (peak−value)/peak when the peak is positive (identical
    * operands to the batch window form), keep the running worst.
    * Rounding happens at emit, never in state. */
  private[streaming] def drawdownStep(st: Option[DrawdownAcc],
                                      e: EventRow): DrawdownAcc = {
    val peak = st.map(a => math.max(a.peak, e.value)).getOrElse(e.value)
    val dd = if (peak > 0) Some((peak - e.value) / peak) else None
    val maxDd: Option[Double] = (st.flatMap(_.maxDd), dd) match {
      case (Some(a), Some(b)) => Some(math.max(a, b))
      case (a, b) => a.orElse(b)
    }
    DrawdownAcc(peak, maxDd, st.map(_.nTicks).getOrElse(0L) + 1L)
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the preceding `windowSeconds` — both sides watermarked
    * so the join state is bounded and eventually purged. The attribution
    * join every event pipeline grows into. */
  def purchaseAttribution(events: DataFrame, windowSeconds: Long,
                          delay: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", delay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
      .select("user_id", "purchase_id", "click_id", "p_ts", "c_ts", "purchase_value")
  }

  /** Recompute form of the snapshot: latest-per-key over the ENTIRE
    * accumulated store — the reference's own architecture
    * (`api/server.js:166-193` re-queries everything per notify). Cost
    * grows with history; kept as the semantics oracle the incremental
    * path is asserted against (StreamingSpec). */
  def snapshotRecompute(spark: SparkSession, storePath: String): DataFrame =
    latestSnapshot(spark.read.parquet(storePath))

  /** Snapshot-generation directory listing via the Hadoop FileSystem API
    * — works on HDFS/S3/local alike (java.io.File would silently return
    * nothing on a remote store and collapse every snapshot to the
    * current batch's keys). */
  private def listBatchDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case n if n.startsWith("batch_id=") =>
          n.stripPrefix("batch_id=").toLongOption.map(_ -> st.getPath)
        case _ => None
      }
    }

  /** A generation is only trustworthy if its write COMMITTED — the
    * _SUCCESS marker distinguishes a torn crash-interrupted directory
    * (which must never be folded into the next snapshot) from a
    * complete one. */
  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Shared generation fold — the crash-recovery core of both
    * snapshot-maintaining streams. Discovers the fold base (newest
    * COMMITTED generation STRICTLY BELOW this batch id: a replay of
    * batch N must land on its original base — a fixpoint — never read
    * its own possibly-torn dir, and never trust a crash-interrupted
    * write with no `_SUCCESS`; after a CHECKPOINT RESET — ids restart at
    * 0 while older generations survive on disk — the newest committed
    * one ABOVE is inherited instead of silently abandoned), hands it to
    * `derive`, writes the result as this batch's generation
    * (overwrite-idempotent), applies retention (only the new generation
    * and its base stay — the base so a replay of THIS batch can still
    * find it). One materialization per batch: the base is read with the
    * schema `derive(None)` analyzes to (no inference job), the snapshot
    * is collected once in its own order, written from those driver rows
    * as one file and returned as a `LocalRelation` over them — consumers
    * collect it with no Spark job, even after retention deletes its
    * directory. Bound: one generation, |keys| rows, on the driver. */
  private def foldGeneration(ss: SparkSession, snapshotPath: String,
                             batchId: Long)
                            (derive: Option[DataFrame] => DataFrame): DataFrame = {
    val root = new Path(snapshotPath)
    val fs = root.getFileSystem(ss.sessionState.newHadoopConf())
    val gens = listBatchDirs(fs, root)
    def newestCommitted(c: Seq[(Long, Path)]) =
      c.sortBy(-_._1).find(g => isCommitted(fs, g._2))
    val prevGen = newestCommitted(gens.filter(_._1 < batchId))
      .orElse(newestCommitted(gens.filter(_._1 > batchId)))
    val snapDir = s"$snapshotPath/batch_id=$batchId"
    val fresh = derive(None)
    val derived = prevGen.fold(fresh)(g =>
      derive(Some(ss.read.schema(fresh.schema).parquet(g._2.toString))))
    val local = ss.createDataFrame(java.util.Arrays.asList(derived.collect(): _*),
      derived.schema)
    local.coalesce(1).write.mode("overwrite").parquet(snapDir)
    val keep = Set(batchId) ++ prevGen.map(_._1)
    gens.filterNot(g => keep.contains(g._1)).foreach { case (_, dir) =>
      fs.delete(dir, true): Unit
    }
    local
  }

  /** Writes `batch` to `storePath/batch_id=N` (overwrite-idempotent) on a
    * pooled thread while `fold` runs on the caller's: they share no data,
    * so their Spark jobs run side by side. Returns `fold`'s result once
    * the write has ended, so `onSnapshot` and the checkpoint commit
    * follow both writes. The write is waited out whatever the fold did,
    * so a failed or stopped batch leaves no job behind (a stop cancels
    * the query's job group, which the write carries); then the fold's
    * error, else the write's own, is thrown unwrapped. */
  private def besideStoreWrite[T](batch: DataFrame, storePath: String, batchId: Long)
                                 (fold: => T): T = {
    val write = Bridge.async(batch.sparkSession) {
      batch.write.mode("overwrite").parquet(s"$storePath/batch_id=$batchId")
    }
    val folded = try fold catch {
      case e: Throwable =>
        // join ignores interrupts: the write ends before the batch does
        scala.util.Try(write.join())
        throw e
    }
    try write.join()
    catch { case e: CompletionException => throw e.getCause }
    folded
  }

  /** The reference's full tick, as one streaming query. Per micro-batch:
    *
    *  1. the raw batch lands in `storePath/batch_id=N` with OVERWRITE —
    *     foreachBatch is at-least-once, so a batch replayed after a crash
    *     between write and checkpoint commit rewrites its own partition
    *     instead of appending duplicate rows to the history store. It
    *     runs beside step 2 (`besideStoreWrite`) and ends before step 3;
    *  2. the snapshot is maintained INCREMENTALLY: latest-per-key over
    *     (previous snapshot ∪ new batch) — per-tick cost ∝ |keys| +
    *     |batch|, not |history| (latest-per-key is an associative fold,
    *     so the chain equals the full recompute — `snapshotRecompute` is
    *     the asserted oracle). Each generation lands in
    *     `snapshotPath/batch_id=N` (also overwrite-idempotent: replaying
    *     batch N against snapshot N is a fixpoint);
    *  3. `onSnapshot` receives the new snapshot (the WS-broadcast seam,
    *     S4/S5 — fan out to many clients via SnapshotFanout) as a
    *     driver-local frame over the generation's rows: clients collect
    *     it with no Spark job, and it stays readable after retention
    *     deletes the generation directory. Bound: one generation,
    *     |keys| rows, held on the driver per tick.
    *
    * Restart recovery: the freshest snapshot generation is rediscovered
    * from the directory listing (including after a checkpoint reset —
    * see the fold-base selection). Guarantee: idempotent at the store
    * and snapshot level (NOT exactly-once side effects — `onSnapshot`
    * may be re-invoked for a replayed batch with identical input). */
  def startSnapshotStream(spark: SparkSession, source: DataFrame,
                          storePath: String, checkpoint: String,
                          snapshotPath: String,
                          trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
                         (onSnapshot: (DataFrame, Long) => Unit): StreamingQuery =
    shapeEvents(source).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // fold-base discovery, commit, retention, and checkpoint-reset
        // inheritance live in foldGeneration (shared with the merge
        // stream). Known marginal edge: resetting the checkpoint when
        // the old stream ran EXACTLY one batch leaves only gen 0,
        // indistinguishable from a replay of new batch 0 — that lone
        // generation is not inherited; keys reappear as they re-tick,
        // and snapshotRecompute over the store remains the
        // full-recovery path.
        val batchCols = batch.drop("batch_id")
        val snap = besideStoreWrite(batch, storePath, batchId) {
          foldGeneration(batch.sparkSession, snapshotPath, batchId) {
            case Some(p) => latestSnapshot(
              p.select(batchCols.columns.map(col).toSeq: _*)
                .unionByName(batchCols))
            case None => latestSnapshot(batchCols)
          }
        }
        onSnapshot(snap, batchId)
      }
      .start()

  /** The reference's ENTIRE ETL tick as ONE streaming query on the real
    * DataSourceV2 source: the poll loop stages payloads into the tick
    * log (`Sources.stageTickPayload`), and this query does the rest —
    * `format("graft-ticks")` ⇒ shape (P1–P5, tick-constant stamp,
    * `Ingest.shapeTicks`) ⇒ idempotent store generation ⇒ incremental
    * latest-per-SYMBOL snapshot ⇒ `onSnapshot` (the S4/S5 push seam,
    * fan out via [[SnapshotFanout]]; the frame is driver-local, |symbols|
    * rows in dashboard order, so every client reads the same rows with no
    * Spark job). A tick runs three Spark jobs: the store write runs
    * beside the snapshot collect and the generation write, which follow
    * each other (`besideStoreWrite`). Store and snapshot follow the same
    * overwrite/`_SUCCESS`/retention discipline as `startSnapshotStream`
    * (shared `foldGeneration`): replayed batches are fixpoints,
    * checkpoint resets inherit the surviving generation — and the SOURCE side of a restart re-reads no payload
    * it already processed, because offsets are committed tick ids.
    * Per-tick cost ∝ |symbols| + |batch|, never |history|. */
  def startQuoteStream(spark: SparkSession, stagingDir: String,
                       storePath: String, checkpoint: String,
                       snapshotPath: String,
                       trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
                      (onSnapshot: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft-ticks").load(stagingDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the store write and the fold each shape the replayable tick
        // (deterministic: the stamp is each row's tick time); a cache
        // shared by two jobs that start together would serialize them
        val shaped = graft.ops.Ingest.shapeTicks(batch)
        val snap = besideStoreWrite(shaped, storePath, batchId) {
          // base ∪ tick is bounded by |symbols| + |tick|: one task runs
          // the window and the global sort with no exchange
          foldGeneration(batch.sparkSession, snapshotPath, batchId) { base =>
            quoteSnapshot(base.fold(shaped)(_.unionByName(shaped)).coalesce(1))
          }
        }
        onSnapshot(snap, batchId)
      }
      .start()

  /** Latest-per-symbol quote snapshot in the dashboard's order
    * (market cap descending, `frontend/src/App.js:93-101`). The window
    * order is totalized ((price, name) after the tick timestamp) so the
    * fold is deterministic and replays are fixpoints even if a symbol
    * ever carried two rows at one tick. */
  def quoteSnapshot(accumulated: DataFrame): DataFrame =
    Latest.latestPerKeyWindow(accumulated, Seq("symbol"),
        col("timestamp").desc, col("current_price").desc, col("name").desc)
      .orderBy(col("market_cap").desc_nulls_last, col("symbol").asc)

  /** Streaming CDC apply: a change-row stream (tombstones flagged in
    * `deleteCol`) folded into a keyed snapshot store, one MERGE per
    * micro-batch — the streaming twin of `ops.Merge.mergeInto` and the
    * continuous form of the reference ETL's upsert loop. Per batch:
    * last-wins dedup WITHIN the batch (by `ordCols` descending), then
    * one full-outer merge against the newest committed snapshot
    * generation strictly below this batch id (same generation /
    * `_SUCCESS` / retention discipline as `startSnapshotStream`, so a
    * replayed batch folds onto its original base — a fixpoint — and a
    * checkpoint reset inherits the surviving state). ACROSS batches the
    * LOG ORDER is the authority (standard CDC semantics: a later batch's
    * change supersedes, whatever its event time); within a batch,
    * `ordCols` decide, and TIES on `ordCols` resolve deterministically —
    * tombstone first (a same-instant delete+upsert deletes), then
    * descending on the remaining ORDERABLE data columns — so the
    * per-batch winner is a pure function of the batch contents and a
    * replayed batch rewrites an IDENTICAL generation (the fixpoint the
    * recovery story depends on; an arbitrary tie pick would break it).
    * Non-orderable data columns (maps, or structs containing them) are
    * carried through the merge but excluded from the tie-break — a
    * window ORDER BY on a map type throws, which previously made an
    * otherwise-valid CDC schema unusable. The fixpoint guarantee is
    * therefore exact up to rows that tie on `ordCols` AND every
    * orderable data column while differing only in non-orderable ones;
    * a caller who needs those distinguished must supply `ordCols`
    * forming a total order (e.g. a change-sequence id — which real CDC
    * feeds carry anyway). Per-tick cost ∝ |keys| + |batch|, never
    * |history|.
    */
  def startMergeStream(spark: SparkSession, changes: DataFrame, key: String,
                       ordCols: Seq[String], deleteCol: String,
                       snapshotPath: String, checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
                      (onSnapshot: (DataFrame, Long) => Unit): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val dataCols = batch.columns.filterNot(c => c == key || c == deleteCol)
        val orderableData = batch.schema.fields.collect {
          case f if dataCols.contains(f.name) &&
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(f.dataType) => f.name
        }.toSeq
        val tieBreak = col(deleteCol).desc +:
          orderableData.filterNot(ordCols.contains).map(col(_).desc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(ordCols.map(col(_).desc) ++ tieBreak: _*)
        val lastWins = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val snap = foldGeneration(ss, snapshotPath, batchId) { prevOpt =>
          val prev = prevOpt match {
            case Some(p) => p.select(
              (col(key) +: dataCols.map(col(_))).toSeq: _*)
            case None => lastWins.select(
              (col(key) +: dataCols.map(col(_))).toSeq: _*).limit(0)
          }
          graft.ops.Merge.mergeInto(prev, lastWins, key, deleteCol)
            .drop("status")
        }
        onSnapshot(snap, batchId)
      }
      .start()
}

/** The one keyed-state fold behind every `transformWithState` twin in
  * [[Streams]]. Per micro-batch and key it reads the key's state (None
  * on first sight), puts the batch's rows in the twin's in-batch
  * `order`, folds each row through `step` (which may emit rows), emits
  * once from the start and end state (`emit`), and writes the state
  * once. ONE ValueState row per key, bounded by |keys|, never history.
  * Constructor args serialize with the instance; the state handle is
  * acquired in init, so executors re-initialize safely per partition. */
final class KeyedFold[K, I, S, O](stateName: String, enc: Encoder[S],
    order: Seq[I] => Seq[I],
    step: (K, Option[S], I) => (S, IterableOnce[O]),
    emit: (K, Option[S], S) => IterableOnce[O])
    extends StatefulProcessor[K, I, O] {
  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, enc, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[I],
                               timerValues: TimerValues): Iterator[O] = {
    val start = if (state.exists()) Some(state.get()) else None
    var st = start
    val out = Seq.newBuilder[O]
    order(rows.toSeq).foreach { r =>
      val (next, emitted) = step(key, st, r)
      st = Some(next)
      out ++= emitted
    }
    st.foreach { end =>
      out ++= emit(key, start, end)
      state.update(end)
    }
    out.result().iterator
  }
}

/** Multi-client fan-out of snapshot pushes — the reference queries once,
  * broadcasts the same rows to ALL open sockets and tolerates per-client
  * failure (`api/server.js:166-193`): one client's exception is recorded,
  * the rest still receive the snapshot. The snapshot streams hand it a
  * driver-local frame, so each client's read costs no Spark job and the
  * client count does not change a tick's job count. Register/unregister
  * is concurrent (clients connect and drop while ticks fire). */
final class SnapshotFanout {
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long) => Unit]

  def register(clientId: String, push: (DataFrame, Long) => Unit): Unit =
    clients.put(clientId, push): Unit

  def unregister(clientId: String): Unit =
    clients.remove(clientId): Unit

  /** Push to every registered client; returns per-client success. */
  def broadcast(snapshot: DataFrame, batchId: Long): Map[String, Boolean] = {
    val results = Map.newBuilder[String, Boolean]
    clients.forEach { (id, push) =>
      results += id -> (try { push(snapshot, batchId); true }
        catch { case scala.util.control.NonFatal(_) => false })
    }
    results.result()
  }
}
