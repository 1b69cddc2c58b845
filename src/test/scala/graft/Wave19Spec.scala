package graft

import graft.queries.Breadth19
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the nineteenth wave (Breadth19 EMA-family
  * recurrences). */
class Wave19Spec extends SparkSpec {
  import spark.implicits._

  private def ticks(rows: Seq[(Long, Double, Long, String)]) =
    rows.toDF("user_id", "value", "event_id", "at")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")

  private def dailySeries(key: Long, closes: Seq[Double]) =
    closes.zipWithIndex.map { case (v, i) =>
      (key, v, key * 1000L + i, f"2024-01-${i + 1}%02d 10:00:00")
    }

  test("ema: constant series stays at the close; seed is the first bar") {
    val got = Breadth19.emaSeries(ticks(dailySeries(1L, Seq.fill(5)(3.0))),
      "user_id", "ts", "value", "event_id", n = 20)
      .orderBy("day").select("close_cents", "ema")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq.fill(5)((300L, 3.0)))
  }

  test("wilder rsi: an all-gains series pins at 100 (zero loss average)") {
    val closes = (1 to 16).map(i => 10.0 + i * 0.05)
    val got = Breadth19.wilderRsiSeries(ticks(dailySeries(1L, closes)),
      "user_id", "ts", "value", "event_id")
      .orderBy("day").select("rsi_wilder")
      .as[Option[Double]].collect().toSeq
    assert(got.last === Some(100.0))
  }

  test("day bars close tie-safely: the LAST tick of the day is the close the " +
    "recurrence folds") {
    // two ticks per day; the later tick must be the close
    val rows = Seq(
      (1L, 5.0, 1L, "2024-01-01 09:00:00"), (1L, 7.0, 2L, "2024-01-01 17:00:00"),
      (1L, 9.0, 3L, "2024-01-02 09:00:00"), (1L, 4.0, 4L, "2024-01-02 17:00:00"))
    val got = Breadth19.emaSeries(ticks(rows), "user_id", "ts", "value",
      "event_id", n = 20)
      .orderBy("day").select("close_cents").as[Long].collect().toSeq
    assert(got === Seq(700L, 400L))
  }

  test("keltner: flat series collapses the band (atr 0 after warm-up) and a " +
    "spike breaks out; warm-up flags unscored") {
    // 12 flat days then a big up day: bar 13's close exceeds mid + 2*atr
    // (atr grew only from bar 13's own true range /10)
    val closes = Seq.fill(12)(10.0) :+ 20.0
    val got = Breadth19.keltnerSeries(ticks(dailySeries(1L, closes)),
      "user_id", "ts", "value", "event_id")
      .orderBy("day")
      .select("close_cents", "atr10", "break_up", "break_dn")
      .as[(Long, Option[Double], Option[Boolean], Option[Boolean])]
      .collect().toSeq
    // bars 1..9: warm-up, all null
    assert(got.take(9).forall(t => t._2.isEmpty && t._3.isEmpty && t._4.isEmpty))
    // bars 10..12: flat -> atr exactly 0, no breakout (close == mid)
    assert(got.slice(9, 12).forall(t =>
      t._2 === Some(0.0) && t._3 === Some(false) && t._4 === Some(false)))
    // bar 13: TR = 1000 cents -> atr = 100 cents = 1.00; mid well below
    // 20.00 -> break_up
    assert(got(12)._3 === Some(true) && got(12)._4 === Some(false))
    assert(got(12)._2 === Some(1.0))
  }

  test("O(L) loop folds == the O(L²) HOF reference folds, bit-for-bit " +
    "(fixture + real sf0.001 data) — the production path vs the spec form") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "day").collect().toSeq
    val fixture = ticks(dailySeries(1L, Seq(10.0, 12.0, 11.0, 15.0, 14.5,
      9.0, 9.25, 13.0, 13.5, 12.75, 12.0, 16.0, 15.5, 15.25, 17.0, 16.5)))
    for (df <- Seq(fixture, Tables.events(spark, sf0001))) {
      assert(rows(Breadth19.emaSeries(df, "user_id", "ts", "value", "event_id", 20)) ===
        rows(Breadth19.emaSeries(df, "user_id", "ts", "value", "event_id", 20,
          linear = false)))
      assert(rows(Breadth19.macdSeries(df, "user_id", "ts", "value", "event_id")) ===
        rows(Breadth19.macdSeries(df, "user_id", "ts", "value", "event_id",
          linear = false)))
      assert(rows(Breadth19.wilderRsiSeries(df, "user_id", "ts", "value", "event_id")) ===
        rows(Breadth19.wilderRsiSeries(df, "user_id", "ts", "value", "event_id",
          linear = false)))
      assert(rows(Breadth19.keltnerSeries(df, "user_id", "ts", "value", "event_id")) ===
        rows(Breadth19.keltnerSeries(df, "user_id", "ts", "value", "event_id",
          linear = false)))
    }
  }

  test("Graft wave-19 facade methods match their oracle-checked queries") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val e = Tables.events(spark, sf0001)
    assert(rows(Graft.ema(e, "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)) ==
      rows(SparkEntry.queries("q_ema")(spark, sf0001)))
    assert(rows(Graft.macd(e, "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)) ==
      rows(SparkEntry.queries("q_macd")(spark, sf0001)))
    assert(rows(Graft.wilderRsi(e, "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id").asc, col("day").asc)) ==
      rows(SparkEntry.queries("q_rsi_wilder")(spark, sf0001)))
  }
}
