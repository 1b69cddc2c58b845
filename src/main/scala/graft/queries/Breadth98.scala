package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, cents}

/** Ninety-ninth wave — hypothesis-test depth: the two-sample /
  * dispersion / outlier / rank-dependence tests a stats layer needs
  * beyond the ANOVA/χ²/KW/MWU family already shipped.
  *
  *  - **q_welch_t**: Welch's unequal-variance t between two event-type
  *    groups — cent-quantized int64 moments per group (order-free),
  *    then t and the Welch–Satterthwaite df as ONE identical IEEE op
  *    chain at emit.
  *  - **q_levene_bf**: the Brown–Forsythe Levene test — per-group
  *    MEDIAN absolute deviation ANOVA. Medians come from the
  *    value-domain-bounded count table (2·median = low+high rank
  *    values, exact); |2x − 2med| stays int64; the cross-group float
  *    term runs in the pinned group-order window (the q_chi2
  *    discipline).
  *  - **q_grubbs**: Grubbs' max-studentized-deviation outlier score
  *    per group — max|x·n − Σx| is exact int64 scaled by n; one
  *    division chain at emit.
  *  - **q_chatterjee_xi**: Chatterjee's ξ (time → value) per key — the
  *    tie-robust form ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l(n−l)) with
  *    r = #{y_j ≤ y_i}, l = #{y_j ≥ y_i} (both RANGE-frame window
  *    counts, integer), consecutive in (ts, tiebreak) order.
  *  - **q_wilcoxon_signed**: Wilcoxon signed-rank over the paired
  *    (open, close) of each key-day bar — DOUBLED tie-averaged ranks
  *    of |d| from the |d|-domain count table (the q_mann_whitney
  *    discipline, so everything before the emit divide is integer),
  *    z with the exact Σ(t³−t) tie correction.
  *
  * Scale shape: every test reduces to group-bounded or value-domain-
  * bounded aggregates; no global per-row sort — ranks come from count
  * tables or per-key windows; the Wilcoxon pair grain is the memoized
  * day-bar chain. */
object Breadth98 {

  /** Welch's t between groups a and b of `grpCol` on cents(valCol). */
  private[graft] def welchT(df: DataFrame, grpCol: String, valCol: String,
                            a: String, b: String): DataFrame = {
    val c = cents(col(valCol))
    val g = df.filter(col(grpCol) === a || col(grpCol) === b)
      .select(col(grpCol).as("__g"), c.as("__c"))
      .agg(
        sum(when(col("__g") === a, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__g") === a, col("__c")).otherwise(0L)).as("__sa"),
        sum(when(col("__g") === a, col("__c") * col("__c")).otherwise(0L))
          .as("__qa"),
        sum(when(col("__g") === b, 1L).otherwise(0L)).as("__nb"),
        sum(when(col("__g") === b, col("__c")).otherwise(0L)).as("__sb"),
        sum(when(col("__g") === b, col("__c") * col("__c")).otherwise(0L))
          .as("__qb"))
    val ma = d(col("__sa")) / d(col("__na"))
    val mb = d(col("__sb")) / d(col("__nb"))
    val va = (d(col("__na")) * d(col("__qa")) - d(col("__sa")) * d(col("__sa"))) /
      (d(col("__na")) * d(col("__na") - 1L))
    val vb = (d(col("__nb")) * d(col("__qb")) - d(col("__sb")) * d(col("__sb"))) /
      (d(col("__nb")) * d(col("__nb") - 1L))
    val sea = va / d(col("__na"))
    val seb = vb / d(col("__nb"))
    val t = (ma - mb) / sqrt(sea + seb)
    val dfW = (sea + seb) * (sea + seb) /
      (sea * sea / d(col("__na") - 1L) + seb * seb / d(col("__nb") - 1L))
    g.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      ((ma - mb) / lit(100.0)).as("mean_diff"),
      t.as("t_stat"), dfW.as("df_welch"))
  }

  /** Per-group doubled median (low+high rank value) from the count
    * table — exact for odd and even group sizes. */
  private def median2(df: DataFrame, grpCol: String,
                      cCol: Column): DataFrame = {
    val vc = df.select(col(grpCol).as("__g"), cCol.as("__v"))
      .groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(col("__g")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(col("__g"))
    vc.withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(tot))
      // Column./ is DOUBLE division even on longs — shiftright is the
      // integer floor-div-2 (ranks are positive)
      .withColumn("__klo", shiftright(col("__n") + 1L, 1))
      .withColumn("__khi", shiftright(col("__n"), 1) + 1L)
      .groupBy(col("__g"))
      .agg(
        max(when(col("__klo") > col("__pre") &&
          col("__klo") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__lo"),
        max(when(col("__khi") > col("__pre") &&
          col("__khi") <= col("__pre") + col("__cnt"), col("__v")))
          .as("__hi"))
      .select(col("__g"), (col("__lo") + col("__hi")).as("__m2"))
  }

  /** Brown–Forsythe Levene: ANOVA F over |2x − 2·median| per group. */
  private[graft] def leveneBF(df: DataFrame, grpCol: String,
                              valCol: String): DataFrame = {
    val c = cents(col(valCol))
    val med = median2(df, grpCol, c)
    val z = df.select(col(grpCol).as("__gg"), c.as("__c"))
      .join(broadcast(med), col("__gg") === col("__g"))
      .select(col("__gg").as("__g"),
        abs(col("__c") * 2L - col("__m2")).as("__z"))
    val g = z.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__z")).as("__s"),
        sum(col("__z") * col("__z")).as("__q"))
    val wAll = Window.partitionBy()
    val ordRun = Window.orderBy(col("__g").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = g
      .withColumn("__totn", sum(col("__n")).over(wAll))
      .withColumn("__tots", sum(col("__s")).over(wAll))
      .withColumn("__totq", sum(col("__q")).over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("__sbr",
        sum((col("__s").cast("double") * col("__s").cast("double")) /
          col("__n").cast("double")).over(ordRun))
      .withColumn("__rn", row_number().over(Window.orderBy(col("__g").asc)))
    val last = run.filter(col("__rn") === col("__k"))
    val grand = (col("__tots").cast("double") * col("__tots").cast("double")) /
      col("__totn").cast("double")
    val ssb = col("__sbr") - grand
    val ssw = col("__totq").cast("double") - col("__sbr")
    last.select(col("__totn").as("n_obs"), col("__k").as("k_groups"),
      when(col("__k") > 1 && col("__totn") > col("__k") && ssw > 0,
        (ssb / (col("__k") - 1L).cast("double")) /
          (ssw / (col("__totn") - col("__k")).cast("double")))
        .as("f_bf"))
  }

  /** Grubbs' G per group: max|x − mean| / sd, all-int64 numerator. */
  private[graft] def grubbs(df: DataFrame, grpCol: String,
                            valCol: String): DataFrame = {
    val c = cents(col(valCol))
    val g = df.select(col(grpCol).as("__g"), c.as("__c"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"),
        sum(col("__c") * col("__c")).as("__q"))
    val dev = df.select(col(grpCol).as("__gg"), c.as("__c2"))
      .join(broadcast(g), col("__gg") === col("__g"))
      .groupBy(col("__g"), col("__n"), col("__s"), col("__q"))
      .agg(max(abs(col("__c2") * col("__n") - col("__s"))).as("__md"))
    val sd = sqrt((d(col("__n")) * d(col("__q")) - d(col("__s")) * d(col("__s"))) /
      (d(col("__n")) * d(col("__n") - 1L)))
    dev.select(col("__g").as("grp"), col("__n").as("n_obs"),
      (d(col("__s")) / d(col("__n")) / lit(100.0)).as("mean_val"),
      when(col("__n") > 1 && sd > 0,
        d(col("__md")) / d(col("__n")) / sd).as("g_stat"))
      .orderBy(col("grp").asc)
  }

  /** Tie-robust Chatterjee ξ (ts order → value rank) per key. */
  private[graft] def chatterjeeXi(df: DataFrame, keyCol: String,
                                  tsCol: String, valCol: String,
                                  tieBreak: String): DataFrame = {
    val c = cents(col(valCol))
    val rUp = Window.partitionBy(col(keyCol)).orderBy(col("__c").asc)
    val rDn = Window.partitionBy(col(keyCol)).orderBy(col("__c").desc)
    val seq = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    val t = df.select(col(keyCol), col(tsCol), col(tieBreak), c.as("__c"))
      .withColumn("__r", count(lit(1)).over(rUp))   // #{y_j <= y_i}
      .withColumn("__l", count(lit(1)).over(rDn))   // #{y_j >= y_i}
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("__d",
        abs(col("__r") - lag(col("__r"), 1).over(seq)))
    t.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("__d")).as("__sd"),
        sum(col("__l") * (col("__n") - col("__l"))).as("__den"))
      .select(col(keyCol), col("n_obs"),
        (lit(1.0) - col("n_obs").cast("double") * col("__sd").cast("double") /
          (lit(2.0) * col("__den").cast("double"))).as("xi"))
      .orderBy(col(keyCol).asc)
  }

  /** Wilcoxon signed-rank over per-(key, day) open→close moves. */
  private[graft] def wilcoxonSigned(df: DataFrame, keyCol: String,
                                    tsCol: String, valCol: String,
                                    tieBreak: String): DataFrame = {
    val pairs = Breadth13.dayBarsCents(df, keyCol, tsCol, valCol, tieBreak)
      .select((col("close") - col("open")).as("__d"))
      .filter(col("__d") =!= 0L)
      .withColumn("__a", abs(col("__d")))
    val vc = pairs.groupBy(col("__a")).agg(
      count(lit(1)).as("__cnt"),
      sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__pos"))
    val ord = Window.orderBy(col("__a").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = vc.withColumn("__r2",
      lit(2L) * (coalesce(sum(col("__cnt")).over(ord), lit(0L)) + 1L) +
        col("__cnt") - lit(1L))
    val agg = r2.agg(
      sum(col("__cnt")).as("__n"),
      sum(col("__pos") * col("__r2")).as("__w2p"),
      sum(col("__cnt") * col("__cnt") * col("__cnt") - col("__cnt"))
        .as("__tc"))
    val w = d(col("__w2p")) / lit(2.0)
    val mu = d(col("__n") * (col("__n") + 1L)) / lit(4.0)
    val sig2 = d(col("__n") * (col("__n") + 1L) *
      (col("__n") * 2L + 1L)) / lit(24.0) - d(col("__tc")) / lit(48.0)
    agg.select(col("__n").as("n_pairs"), w.as("w_plus"),
      when(sig2 > 0, (w - mu) / sqrt(sig2)).as("z"))
  }

  val defs: Map[String, Q] = Map(
    "q_welch_t" -> ((s, dir) =>
      welchT(Tables.events(s, dir), "event_type", "value", "click",
        "purchase")),
    "q_levene_bf" -> ((s, dir) =>
      leveneBF(Tables.events(s, dir), "event_type", "value")),
    "q_grubbs" -> ((s, dir) =>
      grubbs(Tables.events(s, dir), "event_type", "value")),
    "q_chatterjee_xi" -> ((s, dir) =>
      chatterjeeXi(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")),
    "q_wilcoxon_signed" -> ((s, dir) =>
      wilcoxonSigned(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id")))

  val oracle: Map[String, String] = Map(
    "q_welch_t" ->
      """WITH g AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |        * CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS qa,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |        * CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS qb
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase'))
        |SELECT na AS n_a, nb AS n_b,
        |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0
        |    AS mean_diff,
        |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |  / sqrt(
        |    (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
        |      / CAST(na AS DOUBLE)
        |    + (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
        |      / CAST(nb AS DOUBLE)) AS t_stat,
        |  ((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
        |      / CAST(na AS DOUBLE)
        |    + (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
        |      / CAST(nb AS DOUBLE))
        |  * ((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
        |      / CAST(na AS DOUBLE)
        |    + (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
        |      / CAST(nb AS DOUBLE))
        |  / (
        |    ((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
        |      / CAST(na AS DOUBLE))
        |    * ((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
        |      / CAST(na AS DOUBLE))
        |    / CAST(na - 1 AS DOUBLE)
        |    + ((CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
        |      / CAST(nb AS DOUBLE))
        |    * ((CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
        |      / CAST(nb AS DOUBLE))
        |    / CAST(nb - 1 AS DOUBLE)) AS df_welch
        |FROM g""".stripMargin,

    "q_levene_bf" ->
      """WITH t AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |vc AS (
        |  SELECT g, c AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY 1, 2),
        |rk AS (
        |  SELECT g, v, cnt,
        |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM vc),
        |med AS (
        |  SELECT g,
        |    CAST(max(CASE WHEN (n + 1) // 2 > pre
        |      AND (n + 1) // 2 <= pre + cnt THEN v END) AS BIGINT)
        |    + CAST(max(CASE WHEN n // 2 + 1 > pre
        |      AND n // 2 + 1 <= pre + cnt THEN v END) AS BIGINT) AS m2
        |  FROM rk GROUP BY 1),
        |z AS (
        |  SELECT t.g, abs(t.c * 2 - med.m2) AS z
        |  FROM t JOIN med ON t.g = med.g),
        |gg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS s,
        |    CAST(sum(z * z) AS BIGINT) AS q
        |  FROM z GROUP BY 1),
        |run AS (
        |  SELECT
        |    CAST(sum(n) OVER () AS BIGINT) AS nn,
        |    CAST(sum(s) OVER () AS BIGINT) AS tt,
        |    CAST(sum(q) OVER () AS BIGINT) AS qq,
        |    CAST(count(*) OVER () AS BIGINT) AS k,
        |    sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      OVER (ORDER BY g
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sbr,
        |    row_number() OVER (ORDER BY g) AS rn
        |  FROM gg)
        |SELECT nn AS n_obs, k AS k_groups,
        |  CASE WHEN k > 1 AND nn > k AND CAST(qq AS DOUBLE) - sbr > 0 THEN
        |    ((sbr - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)
        |        / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(qq AS DOUBLE) - sbr) / CAST(nn - k AS DOUBLE))
        |  END AS f_bf
        |FROM run WHERE rn = k""".stripMargin,

    "q_grubbs" ->
      """WITH t AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |gm AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(c * c) AS BIGINT) AS q
        |  FROM t GROUP BY 1),
        |dv AS (
        |  SELECT t.g, gm.n, gm.s, gm.q,
        |    CAST(max(abs(t.c * gm.n - gm.s)) AS BIGINT) AS md
        |  FROM t JOIN gm ON t.g = gm.g
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g AS grp, n AS n_obs,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_val,
        |  CASE WHEN n > 1 AND sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) > 0 THEN
        |    CAST(md AS DOUBLE) / CAST(n AS DOUBLE)
        |      / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |  END AS g_stat
        |FROM dv ORDER BY 1""".stripMargin,

    "q_chatterjee_xi" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |rk AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY c)
        |      AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY c DESC)
        |      AS BIGINT) AS l,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM t),
        |df AS (
        |  SELECT user_id, n, l,
        |    abs(r - lag(r) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS d
        |  FROM rk)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |  1.0 - CAST(count(*) AS DOUBLE) * CAST(CAST(sum(d) AS BIGINT)
        |      AS DOUBLE)
        |    / (2.0 * CAST(CAST(sum(l * (n - l)) AS BIGINT) AS DOUBLE))
        |    AS xi
        |FROM df GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_wilcoxon_signed" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c, ts, event_id
        |  FROM events),
        |bars AS (
        |  SELECT user_id, day, max(op) AS open, max(cl) AS close
        |  FROM (
        |    SELECT user_id, day,
        |      first_value(c) OVER (PARTITION BY user_id, day
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |        AS op,
        |      last_value(c) OVER (PARTITION BY user_id, day
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |        AS cl
        |    FROM t)
        |  GROUP BY user_id, day),
        |d AS (
        |  SELECT close - open AS d, abs(close - open) AS a
        |  FROM bars WHERE close <> open),
        |vc AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM d GROUP BY 1),
        |r2 AS (
        |  SELECT a, cnt, pos,
        |    2 * (CAST(COALESCE(sum(cnt) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) + 1) + cnt - 1 AS rr
        |  FROM vc),
        |agg AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(pos * rr) AS BIGINT) AS w2p,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tc
        |  FROM r2)
        |SELECT n AS n_pairs, CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
        |  CASE WHEN CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
        |      - CAST(tc AS DOUBLE) / 48.0 > 0 THEN
        |    (CAST(w2p AS DOUBLE) / 2.0
        |      - CAST(n * (n + 1) AS DOUBLE) / 4.0)
        |    / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
        |      - CAST(tc AS DOUBLE) / 48.0)
        |  END AS z
        |FROM agg""".stripMargin)
}
