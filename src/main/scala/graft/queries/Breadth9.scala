package graft.queries

import graft.Tables
import graft.store.Memo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ninth relational wave — temporal/operational idioms:
  *
  *  - interval-overlap self-join (concurrent activity detection) in the
  *    bucketed form: intervals join on a shared grid key, never all
  *    pairs. Work is Σ per-bucket², not n² — the same shape every
  *    telemetry/conflict-detection pipeline needs at 100 TB;
  *  - Markov transition matrix over per-user event sequences (one lag
  *    window on the user partition + one aggregate — the session-flow
  *    model behind "what do users do next");
  *  - rolling z-score anomaly screen (per-key trailing-window
  *    mean/stddev; the streaming-friendly twin of q_mad_outliers — a
  *    bounded ROWS frame, so state at scale is O(frame) per key);
  *  - compaction planner: greedy cumulative bin-packing of per-day
  *    partition row counts into target-sized rewrite jobs — table
  *    maintenance planned from |days|-sized METADATA, the data itself is
  *    never read (the small-files problem is solved in the planner, not
  *    by re-shuffling the corpus).
  */
object Breadth9 {

  /** Rows per compaction bin. Chosen so the gate SFs exercise 1 → ~10 →
    * ~100 bins; at warehouse scale this is the rewrite-job granularity. */
  private[graft] val CompactTargetRows = 1024L

  /** Per-(key, bucket) activity intervals: [min ts, max ts] within the
    * bucket. Intervals never span buckets by construction here; the
    * general form duplicates an interval into every bucket it overlaps
    * and dedups emitted pairs — the join key stays the grid cell either
    * way, so the pair search is bucket-local. */
  private[graft] def dayIntervals(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(min(col(tsCol)).as("iv_start"), max(col(tsCol)).as("iv_end"))

  /** Overlapping interval pairs per bucket: equi-join on the bucket key
    * (hash join — NEVER a cartesian/nested-loop over intervals), then the
    * overlap predicate and key asymmetry filter bucket-locally. */
  private[graft] def overlapPairsPerDay(iv: DataFrame, keyCol: String): DataFrame = {
    val a = iv.select(col("day"), col(keyCol).as("key_a"),
      col("iv_start").as("sa"), col("iv_end").as("ea"))
    val b = iv.select(col("day"), col(keyCol).as("key_b"),
      col("iv_start").as("sb"), col("iv_end").as("eb"))
    a.join(b, Seq("day"))
      .filter(col("key_a") < col("key_b") &&
        col("sa") <= col("eb") && col("sb") <= col("ea"))
  }

  /** Markov transition counts: lag(state) over each key's total-ordered
    * sequence (ONE window shuffle on the key), then count per (prev,
    * curr) and a per-prev probability over the |states|²-sized aggregate. */
  private[graft] def transitions(df: DataFrame, keyCol: String, stateCol: String,
                                 ordCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    val steps = df
      .withColumn("prev_type", lag(col(stateCol), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(stateCol).as("curr_type"))
      .agg(count(lit(1)).as("n"))
    steps.withColumn("p",
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("prev_type"))), 4))
  }

  /** Trailing-window z-score per key: mean/stddev over the 6 rows
    * strictly before the current one (bounded ROWS frame — per-key state
    * at scale is O(6), which is why this form, unlike a global stddev,
    * survives a stream). Rows without a full history window are not
    * scored. Stats round to 4 dp AFTER the z division (parity rules:
    * identical-operand arithmetic, round only at the emit boundary). */
  private[graft] def rollingZscore(df: DataFrame, keyCol: String, valCol: String,
                                   ordCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*).rowsBetween(-6, -1)
    df.withColumn("mu", avg(col(valCol)).over(w))
      .withColumn("sd", stddev_samp(col(valCol)).over(w))
      .withColumn("n_prev", count(col(valCol)).over(w))
      .filter(col("n_prev") === 6)
      .select(col(keyCol), col("event_id"), col(valCol),
        round(col("mu"), 4).as("mean_prev"),
        when(col("sd") > 0, round((col(valCol) - col("mu")) / col("sd"), 4))
          .as("z"))
  }

  /** Greedy cumulative bin-packing of ordered (bucket, rows) stats into
    * target-row bins: bin id = (running total BEFORE this bucket) div
    * target — integer arithmetic end to end, so both engines bucket
    * identically. The single-partition window is a deliberate choice on
    * the |buckets|-sized AGGREGATE (same stance as q_skyline /
    * q_vocab_coverage), never on raw rows. */
  private[graft] def compactionPlan(perBucket: DataFrame, bucketCol: String,
                                    nCol: String, target: Long): DataFrame = {
    val cum = Window.orderBy(col(bucketCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("cum", sum(col(nCol)).over(cum))
      .withColumn("bin_id", expr(s"(cum - $nCol) div $target"))
      .groupBy(col("bin_id"))
      .agg(min(col(bucketCol)).as("day_first"),
        max(col(bucketCol)).as("day_last"),
        count(lit(1)).as("n_days"),
        sum(col(nCol)).as("n_rows"))
      .orderBy(col("bin_id").asc)
  }

  val defs: Map[String, Q] = Map(
    // Concurrent-activity detection: which days saw users whose activity
    // spans [first event, last event] overlapped, and how many such
    // pairs. The interval table is built once (memoized — both join
    // sides and the per-day denominator read it) and pairs join on the
    // day grid cell: work is Σ per-day-intervals², bounded by the grid,
    // never |intervals|². Days with one active user emit 0 pairs (left
    // join + coalesce), so the output is the full per-day record.
    "q_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val iv = Memo(ev, "dayiv")(dayIntervals(ev, "user_id", "ts"))
      val perDay = iv.groupBy(col("day")).agg(count(lit(1)).as("n_intervals"))
      val pairs = overlapPairsPerDay(iv, "user_id")
        .groupBy(col("day")).agg(count(lit(1)).as("np"))
      perDay.join(pairs, Seq("day"), "left")
        .select(col("day"), col("n_intervals"),
          coalesce(col("np"), lit(0L)).as("n_overlap_pairs"))
        .orderBy(col("day").asc)
    }),

    // Session-flow Markov matrix: what event type follows what, per
    // user timeline (total order ts, event_id). One window shuffle on
    // user_id, one aggregate to the |types|² matrix, probability
    // normalized per source state over that tiny aggregate.
    "q_transitions" -> ((s, dir) =>
      transitions(Tables.events(s, dir), "user_id", "event_type",
        Seq(col("ts").asc, col("event_id").asc))
        .orderBy(col("prev_type").asc, col("curr_type").asc)),

    // Trailing z-score anomaly screen: each event scored against the 6
    // events strictly before it on the same user's timeline. The frame
    // is bounded ROWS (state O(6) per key — the form that lifts to a
    // stream), stats are per-partition window math (one shuffle on
    // user_id), and scoring never sees other users' data.
    "q_rolling_zscore" -> ((s, dir) =>
      rollingZscore(Tables.events(s, dir), "user_id", "value",
        Seq(col("ts").asc, col("event_id").asc))
        .orderBy(col("user_id").asc, col("event_id").asc)),

    // Compaction planner: pack per-day row counts into ~1024-row rewrite
    // bins. Input is the |days|-sized day-count aggregate (one shuffle);
    // the planning window runs over that metadata, so the plan costs the
    // same whether the table is 1 GB or 100 TB — only the executed
    // rewrite scales with data.
    "q_compaction_plan" -> ((s, dir) => {
      val perDay = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      compactionPlan(perDay, "day", "n", CompactTargetRows)
    }))

  val oracle: Map[String, String] = Map(
    "q_interval_join" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    min(ts) AS s, max(ts) AS e
        |  FROM events GROUP BY 1, 2),
        |perday AS (SELECT day, count(*) AS n_intervals FROM iv GROUP BY day),
        |p AS (
        |  SELECT a.day, count(*) AS np
        |  FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
        |   AND a.s <= b.e AND b.s <= a.e
        |  GROUP BY a.day)
        |SELECT d.day, d.n_intervals,
        |  CAST(coalesce(p.np, 0) AS BIGINT) AS n_overlap_pairs
        |FROM perday d LEFT JOIN p ON d.day = p.day
        |ORDER BY d.day""".stripMargin,

    "q_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS curr_type,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, curr_type, count(*) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, curr_type, n,
        |  round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS p
        |FROM t ORDER BY prev_type, curr_type""".stripMargin,

    "q_rolling_zscore" ->
      """WITH w AS (
        |  SELECT user_id, event_id, value,
        |    avg(value) OVER f AS mu,
        |    stddev_samp(value) OVER f AS sd,
        |    count(value) OVER f AS n_prev
        |  FROM events
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, value, round(mu, 4) AS mean_prev,
        |  CASE WHEN sd > 0 THEN round((value - mu) / sd, 4) END AS z
        |FROM w WHERE n_prev = 6
        |ORDER BY user_id, event_id""".stripMargin,

    "q_compaction_plan" ->
      """WITH perday AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day, n, CAST(sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM perday)
        |SELECT CAST((cum - n) // 1024 AS BIGINT) AS bin_id,
        |  min(day) AS day_first, max(day) AS day_last,
        |  count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
}
