package graft

import graft.queries.Breadth69
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the seventieth wave (Breadth69 EWMA
  * volatility / QStick / Williams fractals). */
class Wave71Spec extends SparkSpec {
  import spark.implicits._

  private def eventsOfCloses(user: Long, closes: Seq[Double]) =
    closes.zipWithIndex.map { case (v, i) =>
      (user, i.toLong, f"2024-01-${i + 1}%02d 10:00:00", v)
    }.toDF("user_id", "event_id", "at", "value")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")

  test("ewmaVol: matches the hand-rolled RiskMetrics recurrence, first " +
    "bar unscored") {
    val closes = Seq(1.00, 1.02, 0.99, 1.05, 1.05)
    val e = eventsOfCloses(1L, closes)
    val got = Breadth69.ewmaVol(e, "user_id", "ts", "value", "event_id")
      .orderBy(col("day"))
      .collect().map(r =>
        if (r.isNullAt(3)) None else Some(r.getDouble(3))).toSeq
    // moves in cents: +2, -3, +6, 0
    val lam = Breadth69.VolLam
    val v1 = 4.0
    val v2 = lam * v1 + (1.0 - lam) * 9.0
    val v3 = lam * v2 + (1.0 - lam) * 36.0
    val v4 = lam * v3 + (1.0 - lam) * 0.0
    val want = Seq(None) ++ Seq(v1, v2, v3, v4).map(v =>
      Some(math.sqrt(v) / 100.0))
    assert(got === want)
  }

  test("qstick: 5-bar body SMA with full-window warm-up") {
    // one tick per day -> open == close, body 0... need intraday ticks.
    // two ticks per day: open then close.
    val rows = Seq( // (day, open, close) cents
      (1, 100, 110), (2, 100, 90), (3, 100, 105), (4, 100, 100),
      (5, 100, 120), (6, 100, 95))
    val e = rows.flatMap { case (d, o, c) =>
      Seq((1L, d.toLong * 10, f"2024-01-$d%02d 09:00:00", o / 100.0),
        (1L, d.toLong * 10 + 1, f"2024-01-$d%02d 16:00:00", c / 100.0))
    }.toDF("user_id", "event_id", "at", "value")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
    val got = Breadth69.qstick(e, "user_id", "ts", "value", "event_id")
      .collect().map(r =>
        if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq
    // bodies: +10, -10, +5, 0, +20, -5
    val want = Seq(None, None, None, None,
      Some((10 - 10 + 5 + 0 + 20) / 500.0),
      Some((-10 + 5 + 0 + 20 - 5) / 500.0))
    assert(got === want)
  }

  test("fractals: a strict 5-bar peak and trough flag, plateaus do not") {
    // highs/lows equal per day (one tick); series with one strict peak
    // at day 3 (120), a plateau pair at days 6-7 (115), and a trough
    // at day 5 (90).
    val closes = Seq(1.00, 1.10, 1.20, 1.05, 0.90, 1.15, 1.15, 1.00, 1.02)
    val e = eventsOfCloses(1L, closes)
    val got = Breadth69.fractals(e, "user_id", "ts", "value", "event_id")
      .collect().map(r => (r.getDate(1).toString, r.getString(2),
        r.getLong(3))).toSeq
    assert(got === Seq(("2024-01-03", "high", 120L),
      ("2024-01-05", "low", 90L)))
  }
}
