package graft

import java.nio.file.Files
import graft.ops.Ingest
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._

class SourceSinkSpec extends SparkSpec {
  import spark.implicits._

  test("JSON payload source projects known fields, ignores extras, nulls missing") {
    val payload =
      """[
        |{"symbol":"BTC","name":"Bitcoin","current_price":50000.5,
        | "market_cap":1e12,"total_volume":2e10,"image":"x.png","rank":1},
        |{"symbol":"ETH","name":"Ether","current_price":3000.25}
        |]""".stripMargin
    val out = Sources.quotesFromJsonPayload(spark, payload)
    assert(out.schema.fieldNames.toSeq ==
      Seq("symbol", "name", "current_price", "market_cap", "total_volume"))
    val rows = out.orderBy("symbol").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "BTC" && rows(0).getDouble(2) == 50000.5)
    assert(rows(1).isNullAt(3) && rows(1).isNullAt(4)) // missing → null
  }

  test("source → shape → partitioned sink → pruned scan round-trips") {
    val payload =
      """[{"symbol":"BTC","name":"Bitcoin","current_price":1.0},
        |{"symbol":"eth","name":"Ether","current_price":2.0}]""".stripMargin
    val shaped = Ingest.shapeBatch(
      Sources.quotesFromJsonPayload(spark, payload),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val dir = Files.createTempDirectory("graft_sink").toString + "/prices"
    Sinks.appendDatePartitioned(shaped, dir, "timestamp")
    // second tick lands in a different partition
    Sinks.appendDatePartitioned(
      Ingest.shapeBatch(Sources.quotesFromJsonPayload(spark, payload),
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00")), dir, "timestamp")
    val back = spark.read.parquet(dir)
    assert(back.count() == 4)
    val oneDay = back.filter(col("event_date") === lit("2024-02-01"))
    assert(oneDay.count() == 2)
    // the date filter must prune partitions, not just filter rows
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan.take(500))
  }

  test("graft-ticks DataSourceV2 micro-batch source: offsets are tick ids, " +
    "a restart resumes from the committed offset, rows match the batch parse") {
    val dir = Files.createTempDirectory("graft_dsv2").toString + "/ticks"
    val ckpt = Files.createTempDirectory("graft_dsv2_ckpt").toString
    val p1 = """[{"symbol":"BTC","name":"Bitcoin","current_price":1.5,
               | "market_cap":10.0,"total_volume":5.0,"rank":1}]""".stripMargin
    val p2 = """[{"symbol":"eth","name":"Ether","current_price":2.5},
               |{"symbol":"XRP","current_price":0.5}]""".stripMargin
    val p3 = """[{"symbol":"SOL","name":"Solana","current_price":3.25,"market_cap":7.0}]"""
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 00:00:0$s")
    // ticks 1 and 3 stage; tick 2's fetch dies -> skipped, no file, and
    // the offset sequence simply never contains it
    assert(Sources.stageTickPayload(spark, () => p1, dir, ts(1)) == 1L)
    assert(Sources.stageTickPayload(spark,
      () => throw new java.io.IOException("connection refused"), dir, ts(2)) == -1L)
    assert(Sources.stageTickPayload(spark, () => """{"error":"rate limited"}""",
      dir, ts(3)) == -1L) // error body = skip, not an empty tick
    // a malformed payload is a skipped tick too, NOT a healthy empty one
    assert(Sources.stageTickPayload(spark, () => "not json at all", dir, ts(3)) == -1L)
    // a genuinely empty array IS healthy: staged, 0 rows, no error
    assert(Sources.stageTickPayload(spark, () => "[]", dir, ts(3)) == 0L)
    assert(Sources.stageTickPayload(spark, () => p2, dir, ts(4)) == 2L)

    type QuoteRow = (String, String, Option[Double], Option[Double], Option[Double], Long)
    def asTuples(df: org.apache.spark.sql.DataFrame): Set[QuoteRow] =
      df.collect().map { r =>
        (r.getAs[String]("symbol"), r.getAs[String]("name"),
          Option(r.getAs[java.lang.Double]("current_price")).map(_.toDouble),
          Option(r.getAs[java.lang.Double]("market_cap")).map(_.toDouble),
          Option(r.getAs[java.lang.Double]("total_volume")).map(_.toDouble),
          r.getAs[Long]("tick_ms"))
      }.toSet
    def expected(payload: String, tick: java.sql.Timestamp): Set[QuoteRow] =
      asTuples(Sources.quotesFromJsonPayload(spark, payload)
        .withColumn("tick_ms", lit(tick.getTime)))

    val got = scala.collection.mutable.ArrayBuffer.empty[QuoteRow]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-ticks").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= asTuples(b): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable(); q.stop()
    }
    // first life: both staged ticks arrive, parsed identically to the
    // batch from_json path (tolerant projection: extras dropped, missing
    // fields null)
    drain()
    assert(got.toSet == expected(p1, ts(1)) ++ expected(p2, ts(4)))
    // restart from the SAME checkpoint: the committed offset excludes
    // ticks 1..4, so only the newly staged tick is processed — no
    // reprocessing, no loss
    got.clear()
    assert(Sources.stageTickPayload(spark, () => p3, dir, ts(5)) == 1L)
    drain()
    assert(got.toSet == expected(p3, ts(5)),
      s"restart must resume from the committed offset, got $got")
    // the same source doubles as the backfill BATCH read over the log
    val batch = spark.read.format("graft-ticks").load(dir)
    assert(asTuples(batch) ==
      expected(p1, ts(1)) ++ expected(p2, ts(4)) ++ expected(p3, ts(5)))
    // staging a tick again (at-least-once scheduler) is idempotent
    assert(Sources.stageTickPayload(spark, () => p1, dir, ts(1)) == 1L)
    assert(spark.read.format("graft-ticks").load(dir).count() == 4)
  }

  test("writeRangeClustered produces files with pairwise-DISJOINT key " +
    "ranges (file-level min/max pruning layout)") {
    val out = Files.createTempDirectory("graft_rc").toString + "/clustered"
    Sinks.writeRangeClustered(Tables.events(spark, sf0001), out, 4, "ts")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
    assert(files.size >= 2, "fixture must span multiple files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("ts"), max("ts")).head()
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(!hiA.isAfter(loB),
          s"file ranges overlap: $hiA > $loB — min/max stats cannot prune")
      case _ =>
    }
  }

  test("compactStore rewrites a many-batch store into few files with " +
    "identical rows (small-files remediation)") {
    val store = Files.createTempDirectory("graft_cmp").toString + "/store"
    // simulate 12 micro-batch appends — one dir + >=1 file each
    (0 until 12).foreach { b =>
      Seq((b.toLong, s"u$b", b * 1.5)).toDF("event_id", "who", "value")
        .repartition(2)
        .write.mode("overwrite").parquet(s"$store/batch_id=$b")
    }
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(store)
    assert(before >= 12, s"fixture should be fragmented, got $before files")
    val compacted = Files.createTempDirectory("graft_cmpo").toString + "/compacted"
    val n = Sinks.compactStore(spark, store, compacted, numFiles = 2)
    assert(n == 12)
    assert(parquetFiles(compacted) <= 2, "compaction must merge files")
    // contents identical (batch_id partition column surfaces in both reads)
    val a = spark.read.parquet(store).select("event_id", "who", "value")
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(compacted).select("event_id", "who", "value")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("a torn derived-store build (missing marker) is wiped and rebuilt — " +
    "never appended into, never served stale") {
    import graft.queries.Stores
    val dir = sf0001
    val path = Stores.eventsByDate(spark, dir)
    val want = Tables.events(spark, dir).count()
    assert(spark.read.parquet(path).count() == want)
    // simulate a torn build: kill the commit marker and corrupt the store
    val root = new java.io.File(path).getParentFile
    val marker = root.listFiles().find(_.getName.startsWith("_OK_events_by_date")).get
    assert(marker.delete())
    val bogus = new java.io.File(path, "event_date=1999-01-01")
    bogus.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(bogus, "part-bogus.parquet").toPath, "junk")
    // next access must rebuild from scratch: bogus partition gone, row
    // count exactly the source's (an append-into-torn-dir would double it)
    val rebuilt = Stores.eventsByDate(spark, dir)
    assert(rebuilt == path)
    assert(!bogus.exists(), "torn remnant must be wiped")
    assert(spark.read.parquet(rebuilt).count() == want)
  }
}
