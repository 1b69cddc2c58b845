package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Eighth relational wave — the remaining time-series/maintenance
  * idioms a warehouse serves daily:
  *
  *  - gaps-and-islands (per-user consecutive-day activity streaks) via
  *    the day-minus-row-number grouping constant — ONE shuffle on the
  *    user key, no self-join against shifted copies;
  *  - 2D Pareto frontier (skyline) computed on the AGGREGATE, not the
  *    corpus: group to |distinct sizes| rows first, then a cumulative
  *    window pass over that reduced set — the all-pairs dominance
  *    self-join (O(n²) over parts) never happens;
  *  - snapshot time travel: two committed generations of a keyed store
  *    (the layout `Streams.startQuoteStream` maintains) read back
  *    side by side — "what changed since the snapshot" is a join of two
  *    generation scans, not an event-log replay;
  *  - robust outlier screen (median absolute deviation): the
  *    two-aggregate-pass robust twin of the stddev z-score, immune to
  *    the outliers it hunts (a z-score screen inflates its own
  *    threshold — one 1000× spike widens stddev enough to hide itself).
  */
object Breadth8 {

  val defs: Map[String, Q] = Map(
    // Gaps & islands: distinct (user, day), then day-number minus
    // row-number is CONSTANT within a consecutive run — the whole
    // streak detection is one window over the user partition (the
    // shuffle) plus two aggregates. All date math in the integer day
    // domain (datediff vs a fixed epoch), so both engines bucket
    // identically by construction.
    "q_gaps_islands" -> ((s, dir) =>
      graft.ops.Streaks.streakSummary(Tables.events(s, dir), "user_id", "ts")
        .orderBy(col("user_id").asc)),

    // Skyline: parts Pareto-optimal in (small size, low price). The
    // frontier is computed on the per-size aggregate (min price + part
    // count), so the expensive step is one groupBy shuffle of the
    // corpus; the cumulative-min window then runs over at most
    // |distinct sizes| rows — the single-partition window is a
    // deliberate choice on that reduced set, never on raw data. A row
    // survives iff no strictly smaller size achieved an equal-or-lower
    // price (the oracle states this as the NOT EXISTS dominance
    // definition — an independent formulation, not a mirror of the
    // window arithmetic).
    "q_skyline" -> ((s, dir) =>
      graft.ops.Skyline.frontier2d(Tables.part(s, dir),
          "p_size", "p_retailprice", bestCol = "best_price", nCol = "n_parts")
        .orderBy(col("p_size").asc)),

    // Time travel: generation 0 of the store is the per-user state
    // folded from events BEFORE the cutoff, generation 1 the current
    // state; the query answers "what changed since the snapshot" by
    // joining the two generation scans (each ∝ |keys|). Restating the
    // answer from the raw log — what the oracle does — costs a full
    // event-log window pass; the store answers it from two key-sized
    // scans, which is the entire point of keeping committed generations
    // at 100 TB. Users first seen after the cutoff surface with a null
    // value_asof (insert-shaped change); null-safe equality classifies
    // them as changed.
    "q_time_travel" -> ((s, dir) => {
      val root = Stores.userStateGens(s, dir)
      graft.ops.Merge.generationDiff(
          s.read.parquet(s"$root/batch_id=0"),
          s.read.parquet(s"$root/batch_id=1"),
          "user_id", "value", oldName = "value_asof", newName = "value_now")
        .orderBy(col("user_id").asc)
    }),

    // MAD outliers: median absolute deviation per event type. Two exact
    // percentile passes (median of values, then median of absolute
    // deviations) and a count of rows beyond 3 MADs. Med and MAD are
    // rounded to 4 dp in BOTH engines before the threshold compare, so
    // the emitted stats and the boundary are the same literal doubles
    // on each side; the deviation itself is identical-operand
    // arithmetic (never rounded).
    // 7-day rolling distinct actives per observed day: each distinct
    // (user, day) projects onto the 7 window days it contributes to
    // (explode of a CONSTANT 7-element sequence — work is 7×|user-days|,
    // linear, never a per-day self-join or a sliding re-scan), then one
    // distinct count per day, reported only for days present in the
    // log. The sliding-distinct metric every activity dashboard wants
    // and plain window frames cannot express (COUNT(DISTINCT) OVER
    // RANGE is unsupported in both engines).
    "q_rolling_active" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      ud.select(col("user_id"), col("day").as("d0"),
          explode(expr("sequence(0, 6)")).as("off"))
        .select(col("user_id"), date_add(col("d0"), col("off")).as("day"))
        .join(ud.select(col("day")).distinct(), Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .orderBy(col("day").asc)
    }),

    // Keyset pagination: the page-N query an API serves at scale —
    // resume strictly after a (value, key) cursor under the
    // (value DESC, key ASC) total order. OFFSET pagination scans and
    // discards every earlier page (O(page·N) and drifts under
    // concurrent writes); the keyset predicate pushes into the scan and
    // the page is a TakeOrderedAndProject — cost is one filtered
    // top-25, whatever the page number.
    "q_keyset_page" -> ((s, dir) => {
      val cursorPrice = 100000.0
      val cursorKey = 0L
      Tables.orders(s, dir)
        .filter(col("o_totalprice") < lit(cursorPrice) ||
          (col("o_totalprice") === lit(cursorPrice) &&
            col("o_orderkey") > lit(cursorKey)))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    }),

    "q_mad_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"), col("value"))
      val med = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val dev = e.join(med, Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
      dev.join(mad, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("adev") > col("mad") * lit(3.0), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type").asc)
    }))

  val oracle: Map[String, String] = Map(
    "q_gaps_islands" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (
        |  SELECT user_id,
        |    (day - DATE '1970-01-01')
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |st AS (SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS max_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Independent dominance formulation: a size survives iff no
    // strictly smaller size reached an equal-or-lower minimum price.
    "q_skyline" ->
      """WITH g AS (
        |  SELECT p_size, min(p_retailprice) AS best_price,
        |    count(*) AS n_parts
        |  FROM part GROUP BY p_size)
        |SELECT p_size, best_price, n_parts FROM g a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM g b
        |  WHERE b.p_size < a.p_size AND b.best_price <= a.best_price)
        |ORDER BY p_size""".stripMargin,

    // The oracle restates both generations from the raw log (full
    // window pass) — the store must reproduce it from two key-sized
    // generation scans.
    "q_time_travel" ->
      s"""WITH r0 AS (
         |  SELECT user_id, value, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events WHERE ts < TIMESTAMP '${Stores.TimeTravelCutoff}'),
         |snap AS (SELECT user_id, value AS value_asof FROM r0 WHERE rn = 1),
         |r1 AS (
         |  SELECT user_id, value, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events),
         |nw AS (SELECT user_id, value AS value_now FROM r1 WHERE rn = 1)
         |SELECT coalesce(a.user_id, n.user_id) AS user_id,
         |  a.value_asof, n.value_now,
         |  a.value_asof IS DISTINCT FROM n.value_now AS changed
         |FROM snap a FULL OUTER JOIN nw n ON a.user_id = n.user_id
         |ORDER BY 1""".stripMargin,

    "q_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |ex AS (
        |  SELECT user_id, day + CAST(o AS INTEGER) AS day
        |  FROM ud, range(0, 7) t(o)),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day, count(DISTINCT e.user_id) AS active_7d
        |FROM days d JOIN ex e ON e.day = d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,

    "q_keyset_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice < 100000.0
        |   OR (o_totalprice = 100000.0 AND o_orderkey > 0)
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n, max(d.med) AS med,
        |  max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN d.adev > mad.mad * 3.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)
}
