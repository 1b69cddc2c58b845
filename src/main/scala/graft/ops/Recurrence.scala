package graft.ops

import graft.queries.{Breadth13, Breadth27}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** One bar of a key's daily series, as seen by a recurrence step: integer
  * cents OHLC (the exact-parity domain) plus the day's traded volume
  * (0 unless the series was built with a volume field). */
case class Bar(close: Long, high: Long, low: Long, vol: Long)

/** The day-bar recurrence combinator — the shared skeleton of the
  * EMA-family indicators (EMA, MACD, RSI, ADX, TSI, supertrend, KAMA,
  * TRIX, NVI/PVI, mass index, …): indicators where step t depends on
  * step t−1, so no bounded window frame expresses them and the
  * closed-form prefix-sum rewrite overflows double (Breadth19 object
  * doc). Waves 19–29 hand-rolled ~15 near-identical copies of the same
  * three-stage pipeline; this factors the pipeline once so a new
  * indicator is just a step function + an emit struct (~20 lines), the
  * round-8 verdict's recurrence-fold item.
  *
  * Design (unchanged from the hand-rolled forms — hashes are pinned by
  * the driver oracle): recurrences run over DAY BARS, not ticks — the
  * per-key series length is CALENDAR-BOUNDED (≤366·years elements
  * regardless of data volume), so collecting each key's bar array and
  * folding it executor-locally is one groupBy shuffle of |keys|·|days|
  * bar rows and one O(L) loop per KEY (one UDF call per key — losing
  * codegen costs nothing at that granularity). The fold order is the
  * day order — identical to the DuckDB recursive-CTE oracles' join
  * order — and a step function is shared VERBATIM with its streaming
  * twin's transformWithState processor, so batch, stream and oracle
  * agree bit-for-bit.
  *
  * At 100 TB the shape holds: the shuffle is the |keys|·|days| bar grid
  * (already memoized session-wide via graft.store.Memo), the
  * fold state is O(1)–O(w) per key, and no driver-side state exists.
  * The one scale knob is per-key history length: a multi-decade series
  * is still ≤~10⁴ elements — executor-local arrays hold to centuries.
  */
object Recurrence {

  /** Per-key day-sorted bar arrays over the (memoized) daily cent bars:
    * (key, __bars: array<struct<day, close, high, low, vol>>). With a
    * `qtyJsonField` the bars inner-join the day-volume grid (days with
    * no parseable quantity DROP — the q_nvi_pvi row set); without, vol
    * is 0. sort_array orders by `day` (unique per key per bar), exactly
    * the hand-rolled forms' order. */
  def barArrays(df: DataFrame, keyCol: String, tsCol: String,
                valCol: String, tieBreak: String,
                qtyJsonField: Option[String] = None): DataFrame =
    graft.store.Memo(df,
        s"bararr|$keyCol|$tsCol|$valCol|$tieBreak|$qtyJsonField") {
      val bars = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      val withVol = qtyJsonField match {
        case Some(f) =>
          bars.join(Breadth27.dayVols(df, keyCol, tsCol, f), Seq(keyCol, "day"))
            .withColumn("__vol", col("__v"))
        case None => bars.withColumn("__vol", lit(0L))
      }
      withVol.groupBy(col(keyCol))
        .agg(sort_array(collect_list(struct(col("day"), col("close"),
          col("high"), col("low"), col("__vol")))).as("__bars"))
    }

  /** The loop-UDF skeleton: `step` maps (previous state, this bar) to
    * (new state, emitted value); the UDF folds it along one key's bars
    * and returns the per-bar emit array. State `S` never crosses the
    * UDF boundary (no encoder needed); emits `E` must be encodable
    * (primitives, tuples, Options, case classes). */
  def foldUdf[S, E: TypeTag](step: (Option[S], Bar) => (S, E))
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    foldUdfIndexed[S, E]((st, b, _) => step(st, b))

  /** As [[foldUdf]], with the 0-based bar index passed to the step —
    * for recurrences whose warm-up logic counts bars without carrying
    * the count in their accumulator (Wilder RSI, Keltner ATR). */
  def foldUdfIndexed[S, E: TypeTag](step: (Option[S], Bar, Int) => (S, E))
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (cs: Seq[Long], hs: Seq[Long], ls: Seq[Long], vs: Seq[Long]) =>
      var st: Option[S] = None
      cs.indices.map { i =>
        val (next, out) = step(st, Bar(cs(i), hs(i), ls(i), vs(i)), i)
        st = Some(next)
        out
      }
    }

  /** The four per-field input arrays `foldUdf` consumes, extracted from
    * a `barArrays` column. */
  def foldInputs(bars: Column): Seq[Column] = Seq(
    transform(bars, _.getField("close")),
    transform(bars, _.getField("high")),
    transform(bars, _.getField("low")),
    transform(bars, _.getField("__vol")))

  /** The whole pipeline: collect bar arrays, fold `step` along each,
    * emit one row per bar via `emit(barStruct, emitValue)` — the emit
    * struct's fields become the output columns (after the leading key).
    * Callers add their ORDER BY / post-filters. */
  def series[S, E: TypeTag](df: DataFrame, keyCol: String, tsCol: String,
                            valCol: String, tieBreak: String,
                            qtyJsonField: Option[String] = None)
                           (step: (Option[S], Bar) => (S, E))
                           (emit: (Column, Column) => Column): DataFrame = {
    val folded = barArrays(df, keyCol, tsCol, valCol, tieBreak, qtyJsonField)
      .withColumn("__s", foldUdf(step).apply(foldInputs(col("__bars")): _*))
    folded
      .select(col(keyCol),
        explode(zip_with(col("__bars"), col("__s"), emit)).as("r"))
      .select(col(keyCol), col("r.*"))
  }
}
