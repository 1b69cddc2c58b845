package graft

import graft.queries.Breadth118
import org.apache.spark.sql.functions._

/** Fixtures for the hundred-nineteenth wave (Breadth118 Kalman filter +
  * DTW to the market median). */
class Wave124Spec extends SparkSpec {
  import spark.implicits._

  test("kalmanStep: seed at z with P=R, then predict-update hand-check") {
    val s0 = Breadth118.kalmanStep(None, 1000L)
    assert(s0.x === 1000.0 && s0.p === 64.0 && s0.k === 1.0)
    // P⁻ = 68, K = 68/132, x = 1000 + K·100, P = (1−K)·68
    val s1 = Breadth118.kalmanStep(Some(s0), 1100L)
    val k1 = 68.0 / 132.0
    assert(s1.k === k1)
    assert(s1.x === 1000.0 + k1 * 100.0)
    assert(s1.p === (1.0 - k1) * 68.0)
  }

  test("kalman gain converges to the steady-state root") {
    // steady state: P solves P = (1−K)(P+Q), K = (P+Q)/(P+Q+R) —
    // K* = (sqrt(Q²+4QR) − Q)/(2R)... just pin monotone convergence:
    // after 30 identical-noise steps the gain moves < 1e-9 per step
    var st = Breadth118.kalmanStep(None, 1000L)
    var last = st.k
    (1 to 30).foreach { i =>
      st = Breadth118.kalmanStep(Some(st), 1000L + (i % 2) * 10L)
      last = st.k
    }
    val next = Breadth118.kalmanStep(Some(st), 1000L)
    assert(math.abs(next.k - last) < 1e-6)
    assert(last > 0.0 && last < 1.0)
  }

  test("dtwUdf: textbook elastic alignment, zero for identical series") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 3L))).toDF("a", "b")
    val got = df.select(Breadth118.dtwUdf(col("a"), col("b"), lit(3L)))
      .head.getLong(0)
    // c(3,2): path (1,1)→(2,1|2)→(3,2) accumulates |2−1| or |2−3| = 1
    assert(got === 1L)
    val same = Seq((Seq(5L, 7L, 9L), Seq(5L, 7L, 9L))).toDF("a", "b")
    assert(same.select(Breadth118.dtwUdf(col("a"), col("b"), lit(3L)))
      .head.getLong(0) === 0L)
  }

  test("dtwBanded: band >= max(n, m) equals the full DP bit-exactly on " +
    "pseudo-random integer series") {
    def series(seed: Long, len: Int): Seq[Long] =
      (0 until len).map(i => ((seed * 37L + i * 101L) % 50) - 25)
    for (t <- 0 until 20) {
      val a = series(t * 13L + 1, 5 + t % 9)
      val b = series(t * 29L + 7, 4 + (t * 3) % 11)
      val full = Breadth118.dtwBanded(a, b,
        math.max(a.length, b.length).toLong)
      val huge = Breadth118.dtwBanded(a, b, 1000L)
      assert(full == huge, s"t=$t: band=max(n,m) $full != unbounded $huge")
    }
  }

  test("dtwBanded: distance grows monotonically as the band narrows (a " +
    "band is a path restriction), and |n-m| > band has no path") {
    def series(seed: Long, len: Int): Seq[Long] =
      (0 until len).map(i => (seed * 17L + i * 53L) % 40)
    for (t <- 0 until 12) {
      val a = series(t + 3L, 10)
      val b = series(t * 7L + 5, 8)
      val byBand = (2L to 10L).map(w => Breadth118.dtwBanded(a, b, w))
      byBand.sliding(2).foreach { case Seq(narrow, wide) =>
        assert(narrow >= wide, s"t=$t: narrowing must not shrink distance")
      }
      // |n-m| = 2 > band = 1: the end cell is outside the band
      assert(Breadth118.dtwBanded(a, b, 1L) == Breadth118.DtwInf)
    }
    // degenerate empties
    assert(Breadth118.dtwBanded(Nil, Nil, 0L) == 0L)
    assert(Breadth118.dtwBanded(Seq(1L), Nil, 5L) == Breadth118.DtwInf)
  }

  test("dtwMarket: two mirrored keys around a median key score " +
    "symmetrically; the median key scores zero") {
    // three keys over the same 3 days: closes 100±d around key 2
    val e = (for {
      (k, off) <- Seq((1L, -10L), (2L, 0L), (3L, 10L))
      i <- 0 until 3
    } yield (k, k * 10 + i, f"2024-01-${i + 1}%02d 10:00:00",
      (100L + 10L * i + off).toDouble / 100.0))
      .toDF("user_id", "event_id", "at", "value")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
    val got = Breadth118.dtwMarket(e, "user_id", "ts", "value", "event_id")
      .collect()
    val byKey = got.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byKey(2L) === 0L)
    assert(byKey(1L) === byKey(3L) && byKey(1L) > 0L)
    assert(got.forall(r => r.getLong(1) === 3L && r.getLong(2) === 3L))
  }
}
