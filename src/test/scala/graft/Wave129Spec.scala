package graft

import graft.queries.Breadth123
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Fixtures for the hundred-twenty-fourth wave (Breadth123 dup-5-gram
  * coverage + clamped balance). */
class Wave129Spec extends SparkSpec {
  import spark.implicits._

  test("dupNgramCoverage: shared spans count, unique spans do not, " +
    "short docs emit zero grams with a null coverage") {
    val docs = Seq(
      (1L, "a b c d e f"),        // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e zz"),       // shares "a b c d e" with doc 1
      (3L, "p q r s t"),          // unique single gram
      (4L, "x y"))                // too short for a 5-gram
      .toDF("doc_id", "text")
    val got = Breadth123.dupNgramCoverage(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0
         else r.getDouble(3))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((1L, 0L, 0.0)))
    assert(got(4L) === ((0L, 0L, -1.0)))
  }

  test("clampStep: the balance floors at zero and re-accumulates") {
    var st = Breadth123.clampStep(None, 1000L)
    assert(st.bal === 0L)
    st = Breadth123.clampStep(Some(st), 1100L)   // +100
    assert(st.bal === 100L)
    st = Breadth123.clampStep(Some(st), 800L)    // −300 → clamp
    assert(st.bal === 0L)
    st = Breadth123.clampStep(Some(st), 850L)    // +50 from the floor
    assert(st.bal === 50L)
  }

  test("streamingClampedBalance == batch q_clamped_balance across " +
    "micro-batch splits (a clamp landing on the boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      val closes = Seq(1000L, 1100L, 800L, 850L, 1200L, 900L)
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingClampedBalance(mem.toDS())
        .writeStream.format("memory").queryName("clamp_snap")
        .outputMode("append").start()
      // split right after the clamp-to-zero bar
      Seq(0 until 3, 3 until 6).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
      }
      q.stop()
      val tick = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i * 10L + 1,
          f"2024-01-${i + 1}%02d 15:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val gotS = spark.table("clamp_snap").select("day", "balance")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
        .sortBy(_._1).toSeq
      val gotB = Breadth123.clampedBalance(tick, "user_id", "ts",
        "value", "event_id").select("day", "balance")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
        .sortBy(_._1).toSeq
      assert(gotS === gotB)
      assert(gotS.map(_._2) === Seq(0L, 100L, 0L, 50L, 400L, 100L))
    }
  }
}
