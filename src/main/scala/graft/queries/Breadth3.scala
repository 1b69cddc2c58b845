package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.ops.Sessionize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third wave: sessionization, range-frame windows with positional value
  * functions, and the end-to-end near-dup removal (the operator a
  * training-data pipeline actually runs: corpus minus verified dup pairs).
  */
object Breadth3 {

  private val GapSeconds = 1800L // 30-minute inactivity gap

  val defs: Map[String, Q] = Map(
    // Gap-based sessionization + per-session rollup (batch twin of the
    // streaming session_window — graft.ops.Sessionize).
    "q_sessionize" -> ((s, dir) => {
      Sessionize.sessionStats(Tables.events(s, dir), "user_id", "ts",
          "value", GapSeconds, "event_id")
        .orderBy(col("user_id").asc, col("session_idx").asc)
    }),

    // RANGE frame over a day-number order key (trailing 30-day order
    // count) + positional window values over a ROWS frame.
    "q_window_range" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("oday", datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))))
      val wRange = Window.partitionBy("o_orderpriority").orderBy(col("oday").asc)
        .rangeBetween(-30, 0)
      val wRows = Window.partitionBy("o_orderpriority")
        .orderBy(col("oday").asc, col("o_orderkey").asc)
      o.select(col("o_orderpriority"), col("o_orderkey"), col("oday"),
          count(lit(1)).over(wRange).as("n_trailing_30d"),
          first_value(col("o_orderkey")).over(
            wRows.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_key"),
          nth_value(col("o_orderkey"), 2).over(
            wRows.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("second_key"))
        .orderBy(col("o_orderpriority").asc, col("oday").asc, col("o_orderkey").asc)
    }),

    // Linear interpolation of each user's value series at weekly probes
    // (gap-filling resample; graft.ops.Interpolate).
    "q_interpolate" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val probeTs = Seq("2024-01-07", "2024-01-14", "2024-01-21", "2024-01-28")
      val probes = e.select(col("user_id")).distinct()
        .crossJoin(s.range(1).select(
          explode(array(probeTs.map(d => to_timestamp_ntz(lit(d))): _*)).as("probe_ts")))
      graft.ops.Interpolate.linearAtProbes(e, probes, "user_id", "ts",
          "value", "probe_ts", "event_id")
        .orderBy(col("user_id").asc, col("probe_ts").asc)
    }),

    // GROUPING SETS through the SQL frontend (the DataFrame API only
    // exposes rollup/cube; arbitrary sets go through spark.sql over a
    // registered view — also exercises the SQL entry path end to end).
    "q_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY rf, ls""".stripMargin)
    }),

    // Corpus minus verified near-dups: every document except the HIGHER
    // doc_id of each confirmed pair — the apply step of MinHash dedup
    // (anti-join against the shared materialized pairs intermediate,
    // Extensions.verifiedPairs).
    "q_dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = Chains.MinhashPairs(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
      docs.join(dups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    }))

  /** Shared WITH-chain producing verified minhash near-dup pairs — kept in
    * ONE place so q_dedup_minhash and q_dedup_apply can't drift. */
  private[queries] def minhashPairsSubquery: String = {
    // re-derive from Extensions' oracle so parameters stay in sync
    Extensions.oracle("q_dedup_minhash")
      .stripSuffix("ORDER BY id_a, id_b")
  }

  val oracle: Map[String, String] = Map(
    "q_sessionize" ->
      s"""WITH x AS (
         |  SELECT user_id, ts, event_id, value,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |y AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL THEN 0
         |    WHEN epoch_us(ts) - epoch_us(prev_ts) > ${GapSeconds * 1000000L} THEN 1
         |    ELSE 0 END AS ns FROM x),
         |z AS (
         |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_idx
         |  FROM y)
         |SELECT user_id, session_idx, min(ts) AS session_start,
         |  max(ts) AS session_end, count(*) AS n_events,
         |  round(sum(value), 2) AS sum_value
         |FROM z GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin,

    "q_window_range" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS oday,
        |  count(*) OVER (PARTITION BY o_orderpriority
        |    ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_trailing_30d,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)), o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, oday, o_orderkey""".stripMargin,

    "q_interpolate" ->
      """WITH probes AS (
        |  SELECT user_id, probe_ts
        |  FROM (SELECT DISTINCT user_id FROM events)
        |  CROSS JOIN (VALUES (TIMESTAMP '2024-01-07'), (TIMESTAMP '2024-01-14'),
        |    (TIMESTAMP '2024-01-21'), (TIMESTAMP '2024-01-28')) p(probe_ts)),
        |x AS (
        |  SELECT u.user_id, u.probe_ts,
        |    (SELECT e.value FROM events e WHERE e.user_id = u.user_id
        |      AND e.ts <= u.probe_ts ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS pv,
        |    (SELECT epoch_us(e.ts) FROM events e WHERE e.user_id = u.user_id
        |      AND e.ts <= u.probe_ts ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS pt,
        |    (SELECT e.value FROM events e WHERE e.user_id = u.user_id
        |      AND e.ts > u.probe_ts ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) AS nv,
        |    (SELECT epoch_us(e.ts) FROM events e WHERE e.user_id = u.user_id
        |      AND e.ts > u.probe_ts ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) AS nt
        |  FROM probes u)
        |SELECT user_id, probe_ts,
        |  round(CASE WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             WHEN nt = pt THEN pv
        |             ELSE pv + (nv - pv) * (epoch_us(probe_ts) - pt) / (nt - pt)
        |        END, 4) AS interp_value
        |FROM x ORDER BY user_id, probe_ts""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,

    "q_dedup_apply" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT id_b FROM ($minhashPairsSubquery))
         |ORDER BY doc_id""".stripMargin)
}
