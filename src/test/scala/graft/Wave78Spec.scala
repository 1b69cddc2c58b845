package graft

import graft.queries.Breadth69
import graft.streaming.{FullBarRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming parity pins for the seventy-seventh wave: the QStick ring
  * and the bounded-lag fractal screen against their batch forms. */
class Wave78Spec extends SparkSpec {
  import spark.implicits._

  // (open, close) per day; high = max, low = min of the two ticks —
  // exactly the day bars the batch builds from the tick fixture below
  private val days = Seq(
    (100, 110), (120, 115), (135, 150), (113, 109), (109, 101),
    (95, 90), (96, 99), (104, 108))
  // highs 110,120,150,113,109,95,99,108 -> strict peak at day 3 (150)
  // lows  100,115,135,109,101,90,96,104 -> strict trough at day 6 (90)

  private def tickDf = days.zipWithIndex.flatMap { case ((o, c), i) =>
    Seq((1L, i.toLong * 10, f"2024-01-${i + 1}%02d 09:00:00", o / 100.0),
      (1L, i.toLong * 10 + 1, f"2024-01-${i + 1}%02d 16:00:00", c / 100.0))
  }.toDF("user_id", "event_id", "at", "value")
    .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")

  private def fullBars = days.zipWithIndex.map { case ((o, c), i) =>
    FullBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), o, c,
      math.max(o, c), math.min(o, c))
  }

  test("streamingQstick and streamingFractals match their batch forms " +
    "across micro-batch splits") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val memQ = MemoryStream[FullBarRow]
      val qq = Streams.streamingQstick(memQ.toDS())
        .writeStream.format("memory").queryName("qstick_snap")
        .outputMode("append").start()
      val memF = MemoryStream[FullBarRow]
      val qf = Streams.streamingFractals(memF.toDS())
        .writeStream.format("memory").queryName("fractals_snap")
        .outputMode("append").start()
      // split 3/2/3 — the fractal confirmation lag crosses a boundary
      Seq(0 until 3, 3 until 5, 5 until 8).foreach { rg =>
        memQ.addData(rg.map(fullBars): _*); qq.processAllAvailable()
        memF.addData(rg.map(fullBars): _*); qf.processAllAvailable()
      }
      qq.stop(); qf.stop()

      val gotQ = spark.table("qstick_snap").select("day", "qstick")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      val wantQ = Breadth69.qstick(tickDf, "user_id", "ts", "value",
          "event_id")
        .collect().map(r => (r.getDate(1).toString,
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy(_._1).toSeq
      assert(gotQ === wantQ, "qstick stream vs batch")
      assert(gotQ.count(_._2.isDefined) === 4) // 8 bars, k=5

      val gotF = spark.table("fractals_snap")
        .select("day", "kind", "level")
        .collect().map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2))).sortBy(t => (t._1, t._2)).toSeq
      val wantF = Breadth69.fractals(tickDf, "user_id", "ts", "value",
          "event_id")
        .collect().map(r => (r.getDate(1).toString, r.getString(2),
          r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
      assert(gotF === wantF, "fractals stream vs batch")
      assert(gotF.nonEmpty)
    }
  }
}
