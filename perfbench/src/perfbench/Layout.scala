package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.Graft

/** Self-test: the store `dashboard_reads` generates has the same
  * directory layout and read schema as one `Graft.startQuoteStream`
  * writes for the same ticks. */
object Layout {
  /** Copies a directory tree file by file. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** Per directory (relative), the file names with the task and job ids
    * of part files masked (a partitioned write names them
    * `part-<task>-<job>.c000.snappy.parquet`, a plain one
    * `part-<task>-<job>-c000.snappy.parquet`; readers list both alike). */
  def shape(root: Path): Map[String, Set[String]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (d, fs) => d -> fs.map(_.getFileName.toString
        .replaceAll("part-[0-9a-f-]+([.]c[0-9]+)?", "part-N")).toSet }
    finally s.close()
  }

  def check(spark: SparkSession, o: Opts): String = {
    val ticks = 3
    val market = new Gen.Market(o.seed)
    val gen = (0 until ticks).map(_ => market.tick())
    val streamDir = o.work.resolve("layout-stream")
    val staging = streamDir.resolve("staging").toString
    def stage(t: Gen.Tick): Unit = Graft.stageTick(spark, () => t.json, staging, t.ts): Unit
    // staged before the start, so batch N is tick N (a stream started on an
    // empty staging directory first runs one empty batch)
    stage(gen.head)
    val q = Graft.startQuoteStream(spark, staging,
      streamDir.resolve("store").toString, streamDir.resolve("checkpoint").toString,
      streamDir.resolve("snapshot").toString, Trigger.ProcessingTime(0))((_, _) => ())
    q.processAllAvailable()
    gen.tail.foreach { t => stage(t); q.processAllAvailable() }
    q.stop()
    val genDir = o.work.resolve("layout-gen").resolve("store")
    DashboardReads.writeStore(spark,
      gen.zipWithIndex.map { case (t, b) => DashboardReads.rows(t, b) }, genDir.toString)
    val a = shape(streamDir.resolve("store"))
    val b = shape(genDir)
    val sa = spark.read.parquet(streamDir.resolve("store").toString).schema
    val sb = spark.read.parquet(genDir.toString).schema
    val rowsA = spark.read.parquet(streamDir.resolve("store").toString).count()
    val rowsB = spark.read.parquet(genDir.toString).count()
    Json.mapper.writeValueAsString(Map(
      "same_layout" -> (a == b), "same_schema" -> (sa == sb), "same_rows" -> (rowsA == rowsB),
      "dirs" -> a.size, "stream_layout" -> a.toSeq.sortBy(_._1).map { case (d, f) => s"$d: ${f.toSeq.sorted.mkString(",")}" },
      "generated_layout" -> b.toSeq.sortBy(_._1).map { case (d, f) => s"$d: ${f.toSeq.sorted.mkString(",")}" },
      "stream_schema" -> sa.simpleString, "generated_schema" -> sb.simpleString))
  }
}
