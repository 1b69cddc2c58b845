package graft

import graft.queries.Breadth130
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Fixtures for the hundred-thirty-first wave (Breadth130
  * Page–Hinkley drift detection). */
class Wave138Spec extends SparkSpec {
  import spark.implicits._

  test("phStep: flat series never alarms, a level shift does") {
    var st = Option.empty[Breadth130.PhAcc]
    (1 to 20).foreach { _ =>
      st = Some(Breadth130.phStep(st, 1000L))
    }
    assert(!st.get.alarmed)
    // jump +600 cents and hold: the deviation m runs away from the
    // slow-moving mean until m − min m crosses λ = 500
    (1 to 20).foreach { _ =>
      st = Some(Breadth130.phStep(st, 1600L))
    }
    assert(st.get.alarmed)
  }

  test("alarm is absorbing: once set it survives a return to baseline") {
    var st = Option.empty[Breadth130.PhAcc]
    (1 to 20).foreach(_ => st = Some(Breadth130.phStep(st, 1000L)))
    (1 to 20).foreach(_ => st = Some(Breadth130.phStep(st, 1600L)))
    assert(st.get.alarmed)
    (1 to 40).foreach(_ => st = Some(Breadth130.phStep(st, 1000L)))
    assert(st.get.alarmed)
  }

  test("streamingPageHinkley == batch q_page_hinkley bit-for-bit " +
    "across splits (the alarm fires mid-stream)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      val closes = Seq.fill(8)(1000L) ++ Seq.fill(10)(1700L)
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingPageHinkley(mem.toDS())
        .writeStream.format("memory").queryName("ph_snap")
        .outputMode("append").start()
      Seq(0 until 8, 8 until 13, 13 until 18).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
      }
      q.stop()
      val tick = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i * 10L + 1,
          f"2024-01-${i + 1}%02d 15:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val gotS = spark.table("ph_snap")
        .select("day", "ph_m", "ph_stat", "alarmed").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
      val gotB = Breadth130.pageHinkley(tick, "user_id", "ts", "value",
        "event_id").select("day", "ph_m", "ph_stat", "alarmed").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
      assert(gotS === gotB)
      assert(gotS.exists(_._4) && !gotS.head._4)
    }
  }
}
