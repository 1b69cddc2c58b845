package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Graft
import graft.streaming.SnapshotFanout

/** `tick_live`: the reference's poll loop as a closed loop with one tick
  * in flight. Each operation stages one seeded 100-coin payload with
  * `Graft.stageTick` and ends when every client registered on the
  * `SnapshotFanout` of a running `Graft.startQuoteStream` has consumed
  * that tick's snapshot. */
final class TickLive(spark: SparkSession, o: Opts) extends Workload {
  val clients = 1
  val FanoutClients = 2
  val WarmupTicks = 1

  private var market: Gen.Market = _
  private var latest: Gen.Latest = _
  private var query: StreamingQuery = _
  private var dir: java.nio.file.Path = _
  /** batch id -> the snapshot rows each fanout client consumed. */
  private val consumed = new ConcurrentHashMap[Long, java.util.List[Seq[(String, Double, Option[Double])]]]
  /** (op id, tick, staged count, batch id); warm-up ticks have op id -1. */
  private val ticks = mutable.ArrayBuffer.empty[(Long, Gen.Tick, Long, Long)]
  private val nextBatch = new AtomicLong(0)
  // the open tick span, parent of the fanout span the stream thread records
  @volatile private var tickSpan, tickOp = 0L
  @volatile private var streamSession: SparkSession = _
  override def sessions: Seq[SparkSession] = Option(streamSession).toSeq

  def store: String = dir.resolve("store").toString
  def snap: String = dir.resolve("snapshot").toString

  override def writeKind(path: String): String =
    if (path.contains("/snapshot/")) "snapshot" else if (path.contains("/store/")) "store" else "other"

  def setup(rep: Int): Unit = {
    if (query != null) query.stop()
    dir = o.work.resolve(s"tick-$rep")
    market = new Gen.Market(o.seed)
    latest = new Gen.Latest
    consumed.clear(); ticks.clear(); nextBatch.set(0)
    val fanout = new SnapshotFanout
    (0 until FanoutClients).foreach { c =>
      fanout.register(s"client-$c", (df: DataFrame, batchId: Long) => {
        val rows = df.select("symbol", "current_price", "market_cap").collect().toSeq
          .map(r => (r.getString(0), r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        consumed.computeIfAbsent(batchId, _ => new java.util.concurrent.CopyOnWriteArrayList)
          .add(rows)
      })
    }
    query = Graft.startQuoteStream(spark, dir.resolve("staging").toString, store,
        dir.resolve("checkpoint").toString, snap, Trigger.ProcessingTime(0)) { (df, batchId) =>
      streamSession = df.sparkSession
      Main.current.span("streaming.fanout", op = tickOp, parent = tickSpan) {
        fanout.broadcast(df, batchId)
      }
      consumed.synchronized(consumed.notifyAll())
    }
    // a stream started on an empty staging directory first runs one
    // empty batch; ticks map to the batches after it
    query.processAllAvailable()
    nextBatch.set(Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L))
    (0 until WarmupTicks).foreach { _ =>
      if (!tick(-1)) throw new IllegalStateException("warm-up tick failed")
    }
  }

  /** Stages the next tick and waits for its snapshot to reach every
    * fanout client. False when the wait times out or a check fails. */
  private def tick(id: Long): Boolean = {
    val t = market.tick()
    latest.add(t)
    val batch = nextBatch.getAndIncrement()
    tickSpan = Main.current.openSpan
    tickOp = id
    val staged = Main.current.span("sources.stage", rows = { case n: Long => n; case _ => -1L }) {
      Graft.stageTick(spark, () => t.json, dir.resolve("staging").toString, t.ts)
    }
    ticks += ((id, t, staged, batch))
    val deadline = System.nanoTime() + 60L * 1000000000L
    consumed.synchronized {
      while (Option(consumed.get(batch)).forall(_.size < FanoutClients) &&
             System.nanoTime() < deadline && query.isActive)
        consumed.wait(50)
    }
    val got = Option(consumed.get(batch)).map(_.asScala.toSeq).getOrElse(Nil)
    if (got.size != FanoutClients)
      System.err.println(s"tick $batch: ${got.size} of $FanoutClients clients consumed, staged $staged")
    staged == 100 && got.size == FanoutClients && got.forall(rows => check(rows, measured = id >= 0))
  }

  private def check(rows: Seq[(String, Double, Option[Double])], measured: Boolean): Boolean = {
    val expected = latest.bySymbol.values.map(_._1).toSeq.sorted(Gen.dashboardOrder)
      .map(q => (q.symbol, q.price, q.cap))
    val got = if (o.corrupt && measured) rows.map { case (s, p, c) => (s, p * 1.0001, c) } else rows
    val ok = got == expected
    if (!ok) System.err.println(s"tick check failed: ${got.size} rows vs ${expected.size} expected; " +
      s"first difference ${got.zip(expected).find(p => p._1 != p._2)}")
    ok
  }

  def op(client: Int, id: Long): (String, Boolean) = "tick" -> tick(id)

  /** Untimed: every measured tick's store partition holds exactly the
    * rows the generator made valid, so the rows the shape step rejected
    * equal the planted ones. */
  def finish(ops: Seq[OpRec]): Set[Long] = {
    val counts = spark.read.parquet(store).groupBy("batch_id").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    ticks.collect {
      case (id, t, staged, b) if id >= 0 && staged - counts.getOrElse(b, -1L) != t.planted.toLong => id
    }.toSet
  }

  def layers(ops: Seq[OpRec], probe: Probe, trace: Trace): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val ids = traced.map(_.id).toSet
    val batches = ticks.collect { case (id, _, _, b) if ids(id) => b }
    val prog = batches.flatMap(b => Option(probe.progress.get(b)))
    def ph(k: String) = Main.median(prog.map(_.getOrElse(k, 0L).toDouble))
    val n = math.max(1, traced.size).toDouble
    val spans = trace.all.filter(s => ids(s.op))
    def spanMs(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    val fanoutMs = spanMs("streaming.fanout")
    val storeW = probe.sums("write_store_ms") / n
    val snapW = probe.sums("write_snapshot_ms") / n
    val rowsIn = batches.flatMap(b => Option(probe.progressRows.get(b))).map(_.toDouble)
    val all = ops.map(_.ms)
    val (files, bytes) = Metrics.treeSize(dir.resolve("store"))
    val tenth = math.max(1, all.size / 10)
    Map(
      "sources.stage_ms" -> spanMs("sources.stage"),
      "sources.latest_offset_ms" -> ph("latestOffset"),
      "sources.rows_in" -> Main.median(rowsIn),
      "streaming.trigger_ms" -> ph("triggerExecution"),
      "streaming.add_batch_ms" -> ph("addBatch"),
      "streaming.query_planning_ms" -> ph("queryPlanning"),
      "streaming.wal_commit_ms" -> ph("walCommit"),
      "streaming.commit_offsets_ms" -> ph("commitOffsets"),
      "streaming.store_write_ms" -> storeW,
      "streaming.snapshot_write_ms" -> snapW,
      "streaming.fold_other_ms" -> (ph("addBatch") - storeW - snapW - fanoutMs),
      "streaming.fanout_ms" -> fanoutMs,
      "streaming.rejected_rows" -> (rowsIn.sum - probe.sums("write_store_rows")) / n,
      "streaming.late_over_early" -> Main.median(all.takeRight(tenth)) / Main.median(all.take(tenth)),
      "scan.rows_per_result" -> probe.sums("scan_rows") / math.max(1.0, n * latest.bySymbol.size * FanoutClients),
      "store.files" -> files.toDouble,
      "store.bytes" -> bytes.toDouble)
  }

  def close(): Unit = if (query != null) query.stop()
}
