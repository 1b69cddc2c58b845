package graft

import graft.streaming.{BarRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Parity pin for the streaming Lo–MacKinlay variance-ratio screen:
  * the LAST emit per key equals the batch q_variance_ratio row
  * bit-for-bit, with the q-ring fill crossing a micro-batch boundary. */
class StreamingVrSpec extends SparkSpec {
  import spark.implicits._

  test("streamingVarianceRatio last emit == batch aggregate across " +
    "micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val closes = Seq(1000L, 1040L, 990L, 1100L, 1075L, 1120L, 1060L,
        1145L, 1130L, 1190L, 1170L, 1210L, 1180L, 1240L)
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingVarianceRatio(mem.toDS())
        .writeStream.format("memory").queryName("vr_snap")
        .outputMode("append").start()
      // split 3/6/5 — the first full 5-window lands inside batch two
      Seq(0 until 3, 3 until 9, 9 until 14).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
      }
      q.stop()
      val snap = spark.table("vr_snap")
        .collect().map(r => (r.getDate(1).toString, r.getLong(3),
          r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        .sortBy(_._1)
      // warm-up: vr needs n_windows > 1 -> first 6 bars emit None
      assert(snap.size === 14)
      assert(snap.takeWhile(_._4.isEmpty).size === 6)
      val last = snap.last
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong + 1,
          f"2024-01-${i + 1}%02d 12:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val batch = Graft.varianceRatio(ticks, "user_id", "ts", "value",
          "event_id").collect()(0)
      assert(last._2 === batch.getLong(1), "n_days")
      assert(last._3 === batch.getLong(2), "n_windows")
      assert(last._4 === Some(batch.getDouble(3)), "vr bit parity")
    }
  }
}
