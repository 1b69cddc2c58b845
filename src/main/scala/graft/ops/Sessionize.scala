package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization: split each key's event stream into sessions separated
  * by inactivity gaps — THE canonical event-log transform (and the batch
  * twin of Structured Streaming's `session_window`; this formulation is
  * also expressible in ANSI SQL for the oracle).
  *
  * One window partition per key in time order: flag rows whose gap from
  * the previous event exceeds the timeout, running-sum the flags into a
  * per-key session index. Single shuffle on the key; each partition
  * streams once — the plan scales exactly like latest-per-key.
  */
object Sessionize {

  /** Adds session_idx (0-based per key, time order). */
  def withSessionIndex(df: DataFrame, keyCol: String, tsCol: String,
                       gapSeconds: Long, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieBreak).asc)
    df.withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull, 0)
          .when(unix_micros(col(tsCol).cast("timestamp")) -
            unix_micros(col("__prev_ts").cast("timestamp")) > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("__new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
      .drop("__prev_ts", "__new_session")
  }

  /** Per-session rollup: bounds, event count, value sum. */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, gapSeconds: Long, tieBreak: String): DataFrame =
    withSessionIndex(df, keyCol, tsCol, gapSeconds, tieBreak)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
}
