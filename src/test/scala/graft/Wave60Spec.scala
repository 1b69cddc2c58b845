package graft

import graft.streaming.{Streams, TickRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming parity for the VPIN volume-bucket screen (wave 61). */
class Wave60Spec extends SparkSpec {
  import spark.implicits._

  test("streamingVpinBuckets: completed buckets equal a driver-side " +
    "reference fold, across micro-batch splits and bucket rollovers") {
    val barVol = 500L
    // two keys, volumes that straddle bucket boundaries mid-batch
    val ticks =
      Seq((1L, 100L, 300L), (1L, 120L, 150L), (1L, 90L, 200L),
        (1L, 110L, 400L), (1L, 105L, 600L), (1L, 130L, 50L),
        (2L, 50L, 490L), (2L, 60L, 20L), (2L, 55L, 600L))
        .zipWithIndex.map { case ((k, c, v), i) =>
          TickRow(k, i.toLong, c, v) }
    // reference: sequential fold per key
    def reference(rows: Seq[TickRow]): Seq[(Long, Long, Long, Long)] = {
      rows.groupBy(_.user_id).toSeq.flatMap { case (k, ts) =>
        var prev: Option[Long] = None
        var cum = 0L; var bar = 0L; var imb = 0L; var vol = 0L
        val done = Seq.newBuilder[(Long, Long, Long, Long)]
        ts.sortBy(_.seq).foreach { t =>
          val b = cum / barVol
          if (b > bar) { done += ((k, bar, math.abs(imb), vol))
            bar = b; imb = 0L; vol = 0L }
          val sv = prev match {
            case Some(p) if t.cents > p => t.vol
            case Some(p) if t.cents < p => -t.vol
            case _ => 0L
          }
          prev = Some(t.cents); cum += t.vol; imb += sv; vol += t.vol
        }
        done.result()
      }.sortBy(r => (r._1, r._2))
    }
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val mem = MemoryStream[TickRow]
      val q = Streams.streamingVpinBuckets(mem.toDS(), barVol)
        .writeStream.format("memory").queryName("vpin_snap")
        .outputMode("append").start()
      Seq(0 until 3, 3 until 7, 7 until 9).foreach { rg =>
        mem.addData(rg.map(ticks): _*); q.processAllAvailable()
      }
      q.stop()
    }
    val got = spark.table("vpin_snap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
    val want = reference(ticks)
    assert(got === want)
    assert(want.nonEmpty && want.exists(_._1 == 1L) &&
      want.exists(_._1 == 2L), "both keys complete at least one bucket")
  }
}
