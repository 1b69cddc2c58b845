package graft

import graft.dedup.Dedup
import graft.queries.{Breadth44, Breadth49}
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the fiftieth wave (Breadth49 components +
  * the streaming count-min twin). */
class Wave49Spec extends SparkSpec {
  import spark.implicits._

  test("componentStats: a 3-path and a triangle get their hand " +
    "densities under real label propagation") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusterMembers(edges, "vec_id",
      maxIters = Breadth49.CompIters)
    val got = Breadth49.componentStats(edges, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((1L, 3L, 2L, 2.0 / 3.0), (7L, 3L, 3L, 1.0)))
  }

  test("streamingCmsCells: the live sketch equals the batch sketch " +
    "over the same arrivals, across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val keys = (0L until 300L).map(_ % 37L) // skewed arrivals
      val mem = MemoryStream[Long]
      val q = Streams.streamingCmsCells(mem.toDS(), 16)
        .writeStream.format("memory").queryName("cms_snap")
        .outputMode("append").start()
      Seq(0 until 100, 100 until 250, 250 until 300).foreach { rg =>
        mem.addData(rg.map(keys): _*); q.processAllAvailable()
      }
      q.stop()
    }
    // last emit per cell = the live sketch
    val live = spark.table("cms_snap")
      .groupBy("row", "bucket").agg(max("cell").as("cell"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val batch = Breadth44.cmsCells(
        Breadth44.keyCounts(
          (0L until 300L).map(_ % 37L).toDF("user_id"), "user_id"), 16)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(live === batch)
  }
}
