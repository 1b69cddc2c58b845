package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Twenty-sixth wave — SQL-surface aggregate completions: the four
  * classic aggregate shapes a warehouse user reaches for that the
  * inventory lacked (reference computes none of these — its only
  * aggregate is MAX-per-key, `api/server.js:67-77` — but a user
  * switching their SQL workload expects them):
  *
  *  - MODE (most frequent value) with a deterministic tie stance;
  *  - ordered STRING_AGG / LISTAGG (the report-friendly CSV cell);
  *  - bitwise aggregates (BIT_AND / BIT_OR / BIT_XOR — flag-mask
  *    folds, exact on integers);
  *  - simple OLS regression per key (REGR_SLOPE / REGR_INTERCEPT /
  *    REGR_R2) over integer co-moments.
  *
  * Exact-parity discipline (house rules): mode counts integer cent
  * values and breaks count ties toward the SMALLEST value under a
  * rank window (both engines pick one winner deterministically);
  * string_agg sorts the DISTINCT set before joining (order-free);
  * bitwise folds are commutative/associative on int64 — shuffle-order
  * free by algebra; the regression is integer co-moments with one
  * terminal division per emitted slope/intercept and r² as a
  * quotient of exactly-agreed doubles (the BIGINT→DOUBLE cast of the
  * same integer rounds identically in any IEEE engine, and products/
  * quotients of identical doubles are bit-equal). Spark's native
  * `regr_*` aggregates are NOT used on purpose: they accumulate
  * doubles in shuffle order, the exact parity trap the house rules
  * ban.
  *
  * Scale shape: mode aggregates to the |types|·|price domain| count
  * table before its rank window (domain-bounded, never row-bounded);
  * string_agg collects the DISTINCT event-type set (domain-bounded,
  * a few strings per key); the bitwise and regression folds are
  * map-side-combining hash aggregates — one shuffle each, partial
  * aggregation free.
  */
object Breadth26 {

  /** Modal cent value per group: count per (group, value), then ONE
    * rank-window pass over the count table — max count, ties to the
    * smallest value. The window partitions by group over aggregate
    * rows (|price domain| each), never data rows. */
  private[graft] def modeBy(df: DataFrame, grpCol: String,
                            valCol: String): DataFrame = {
    val counts = df.withColumn("__v", cents(col(valCol)))
      .groupBy(col(grpCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col("__c").desc, col("__v").asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(grpCol), col("__v").as("mode_cents"),
        col("__c").as("n_occurrences"))
  }

  /** Ordered LISTAGG per key: the DISTINCT event types, sorted, joined
    * with ','. Sorting before joining makes the fold order-free — the
    * only way a distributed string_agg can be deterministic. NULL tags
    * are excluded EXPLICITLY on both sides (here and in the oracle):
    * collect_set drops NULLs while SELECT DISTINCT keeps a NULL row
    * that count(*) counts but string_agg skips, so without the filter
    * n_types would diverge the day a NULL tag ships. */
  private[graft] def stringAgg(df: DataFrame, keyCol: String,
                               tagCol: String): DataFrame =
    df.filter(col(tagCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(array_sort(collect_set(col(tagCol))).as("__tags"))
      .select(col(keyCol), size(col("__tags")).as("n_types"),
        array_join(col("__tags"), ",").as("type_csv"))

  /** Bitwise flag folds per group over integer cent values: AND / OR /
    * XOR are commutative + associative on int64, so the distributed
    * fold is exact in any partitioning/order. */
  private[graft] def bitwiseAgg(df: DataFrame, grpCol: String,
                                valCol: String): DataFrame =
    df.withColumn("__v", cents(col(valCol)))
      .groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_rows"),
        bit_and(col("__v")).as("band"),
        bit_or(col("__v")).as("bor"),
        bit_xor(col("__v")).as("bxor"))

  /** Per-key OLS of daily close cents against the day index. BOTH
    * variables are re-based to key-local origins — t = days since the
    * first bar, y = close − min close — so every co-moment is bounded
    * by the CALENDAR and the price RANGE, not the price level:
    * n·Σy² ≤ L·range² sits ~6 orders inside int64 at decade series
    * (un-re-based, a 10⁶-cent level overflows n·Σy² at decade L).
    * Slope and r² are shift-invariant; the intercept re-adds the
    * integer base with one double add, identical in the oracle.
    * slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²), intercept =
    * (Sy·Sxx − Sx·Sxy)/(n·Sxx − Sx²) + ymin — integer numerators and
    * denominators, one division each; r² = num²/(denx·deny) formed
    * from the BIGINT moments cast to double (identical casts round
    * identically; the int64 path would overflow on num²). Keys with a
    * degenerate x or y variance are unscored. */
  private[graft] def olsTrend(df: DataFrame, keyCol: String, tsCol: String,
                              valCol: String, tieBreak: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val g = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select(col(keyCol), col("day"), col("close"))
      .withColumn("__t", datediff(col("day"), min(col("day")).over(byKey))
        .cast("long"))
      .withColumn("__ymin", min(col("close")).over(byKey))
      .withColumn("__y", col("close") - col("__ymin"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"), max(col("__ymin")).as("__y0"),
        sum(col("__t")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__t") * col("__t")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__t") * col("__y")).as("__sxy"))
    val n = col("n_days")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val denx = n * col("__sxx") - col("__sx") * col("__sx")
    val deny = n * col("__syy") - col("__sy") * col("__sy")
    g.select(col(keyCol), col("n_days"),
      when(denx > 0, num.cast("double") / denx.cast("double"))
        .as("slope_cents_per_day"),
      when(denx > 0,
        (col("__sy") * col("__sxx") - col("__sx") * col("__sxy"))
          .cast("double") / denx.cast("double") +
          col("__y0").cast("double")).as("intercept_cents"),
      when(denx > 0 && deny > 0,
        num.cast("double") * num.cast("double") /
          (denx.cast("double") * deny.cast("double"))).as("r2"))
  }

  val defs: Map[String, Q] = Map(
    // Modal traded price per event type (deterministic tie stance).
    "q_mode" -> ((s, dir) =>
      modeBy(Tables.events(s, dir), "event_type", "value")
        .orderBy(col("event_type").asc)),

    // Ordered LISTAGG of the distinct event types per user.
    "q_string_agg" -> ((s, dir) =>
      stringAgg(Tables.events(s, dir), "user_id", "event_type")
        .orderBy(col("user_id").asc)),

    // Bitwise flag folds per event type.
    "q_bitwise_agg" -> ((s, dir) =>
      bitwiseAgg(Tables.events(s, dir), "event_type", "value")
        .orderBy(col("event_type").asc)),

    // Per-key OLS trend of daily closes vs day index.
    "q_regr" -> ((s, dir) =>
      olsTrend(Tables.events(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc)))

  private val barsSql =
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
      |  GROUP BY user_id, day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_mode" ->
      """WITH counts AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, v, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c DESC, v)
        |      AS rn
        |  FROM counts)
        |SELECT event_type, v AS mode_cents, CAST(c AS BIGINT) AS n_occurrences
        |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q_string_agg" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events
        |           WHERE event_type IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS INTEGER) AS n_types,
        |  string_agg(event_type, ',' ORDER BY event_type) AS type_csv
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_bitwise_agg" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(bit_and(v) AS BIGINT) AS band,
        |  CAST(bit_or(v) AS BIGINT) AS bor,
        |  CAST(bit_xor(v) AS BIGINT) AS bxor
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_regr" ->
      s"""WITH $barsSql,
         |tb AS (
         |  SELECT user_id,
         |    CAST(datediff('day',
         |      min(day) OVER (PARTITION BY user_id), day) AS BIGINT) AS t,
         |    close - min(close) OVER (PARTITION BY user_id) AS y,
         |    min(close) OVER (PARTITION BY user_id) AS ymin
         |  FROM bars),
         |g AS (
         |  SELECT user_id, count(*) AS n, CAST(max(ymin) AS BIGINT) AS y0,
         |    CAST(sum(t) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(t * t) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(t * y) AS BIGINT) AS sxy
         |  FROM tb GROUP BY user_id)
         |SELECT user_id, n AS n_days,
         |  CASE WHEN n * sxx - sx * sx > 0
         |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_cents_per_day,
         |  CASE WHEN n * sxx - sx * sx > 0
         |    THEN CAST(sy * sxx - sx * sxy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) + CAST(y0 AS DOUBLE)
         |    END AS intercept_cents,
         |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
         |      * CAST(n * sxy - sx * sy AS DOUBLE)
         |      / (CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
         |FROM g ORDER BY user_id""".stripMargin)
}
