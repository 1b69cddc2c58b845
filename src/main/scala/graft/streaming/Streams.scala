package graft.streaming

import java.util.concurrent.CompletionException

import graft.ops.Latest
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming layer: the reference's tick as one streaming
  * query. The reference is a hand-rolled micro-batch pipeline — fetch
  * every 300 s, append one batch-stamped tick, notify, re-query the
  * latest snapshot, broadcast (`etl/crypto_etl.py:150-157`,
  * `api/server.js:166-200`). `startQuoteStream` formalizes exactly that:
  * trigger → append → `foreachBatch` snapshot → sink callback, with the
  * snapshot folded incrementally over the previous generation rather
  * than kept as unbounded `complete`-mode state.
  */
object Streams {

  /** Snapshot-generation directory listing via the Hadoop FileSystem API
    * — works on HDFS/S3/local alike (java.io.File would silently return
    * nothing on a remote store and collapse every snapshot to the
    * current batch's keys). */
  private def listBatchDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case n if n.startsWith("batch_id=") =>
          n.stripPrefix("batch_id=").toLongOption.map(_ -> st.getPath)
        case _ => None
      }
    }

  /** A generation is only trustworthy if its write COMMITTED — the
    * _SUCCESS marker distinguishes a torn crash-interrupted directory
    * (which must never be folded into the next snapshot) from a
    * complete one. */
  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The quote stream's generation fold, its crash-recovery core.
    * Discovers the fold base (newest COMMITTED generation STRICTLY BELOW
    * this batch id: a replay of
    * batch N must land on its original base — a fixpoint — never read
    * its own possibly-torn dir, and never trust a crash-interrupted
    * write with no `_SUCCESS`; after a CHECKPOINT RESET — ids restart at
    * 0 while older generations survive on disk — the newest committed
    * one ABOVE is inherited instead of silently abandoned), hands it to
    * `derive`, writes the result as this batch's generation
    * (overwrite-idempotent), applies retention (only the new generation
    * and its base stay — the base so a replay of THIS batch can still
    * find it). One materialization per batch: the base is read with the
    * schema `derive(None)` analyzes to (no inference job), the snapshot
    * is collected once in its own order, written from those driver rows
    * as one file and returned as a `LocalRelation` over them — consumers
    * collect it with no Spark job, even after retention deletes its
    * directory. Bound: one generation, |keys| rows, on the driver.
    * Known marginal edge: resetting the checkpoint when the old stream
    * ran EXACTLY one batch leaves only generation 0, indistinguishable
    * from a replay of the new batch 0 — that lone generation is not
    * inherited; keys reappear as they re-tick, and `quoteSnapshot` over
    * the store remains the full-recovery path. */
  private def foldGeneration(ss: SparkSession, snapshotPath: String,
                             batchId: Long)
                            (derive: Option[DataFrame] => DataFrame): DataFrame = {
    val root = new Path(snapshotPath)
    val fs = root.getFileSystem(ss.sessionState.newHadoopConf())
    val gens = listBatchDirs(fs, root)
    def newestCommitted(c: Seq[(Long, Path)]) =
      c.sortBy(-_._1).find(g => isCommitted(fs, g._2))
    val prevGen = newestCommitted(gens.filter(_._1 < batchId))
      .orElse(newestCommitted(gens.filter(_._1 > batchId)))
    val snapDir = s"$snapshotPath/batch_id=$batchId"
    val fresh = derive(None)
    val derived = prevGen.fold(fresh)(g =>
      derive(Some(ss.read.schema(fresh.schema).parquet(g._2.toString))))
    val local = ss.createDataFrame(java.util.Arrays.asList(derived.collect(): _*),
      derived.schema)
    local.coalesce(1).write.mode("overwrite").parquet(snapDir)
    val keep = Set(batchId) ++ prevGen.map(_._1)
    gens.filterNot(g => keep.contains(g._1)).foreach { case (_, dir) =>
      fs.delete(dir, true): Unit
    }
    local
  }

  /** Writes `batch` to `storePath/batch_id=N` (overwrite-idempotent) on a
    * pooled thread while `fold` runs on the caller's: they share no data,
    * so their Spark jobs run side by side. Returns `fold`'s result once
    * the write has ended, so `onSnapshot` and the checkpoint commit
    * follow both writes. The write is waited out whatever the fold did,
    * so a failed or stopped batch leaves no job behind (a stop cancels
    * the query's job group, which the write carries); then the fold's
    * error, else the write's own, is thrown unwrapped. */
  private def besideStoreWrite[T](batch: DataFrame, storePath: String, batchId: Long)
                                 (fold: => T): T = {
    val write = Bridge.async(batch.sparkSession) {
      batch.write.mode("overwrite").parquet(s"$storePath/batch_id=$batchId")
    }
    val folded = try fold catch {
      case e: Throwable =>
        // join ignores interrupts: the write ends before the batch does
        scala.util.Try(write.join())
        throw e
    }
    try write.join()
    catch { case e: CompletionException => throw e.getCause }
    folded
  }

  /** The reference's ENTIRE ETL tick as ONE streaming query on the real
    * DataSourceV2 source: the poll loop stages payloads into the tick
    * log (`Sources.stageTickPayload`), and this query does the rest —
    * `format("graft-ticks")` ⇒ shape (P1–P5, tick-constant stamp,
    * `Ingest.shapeTicks`) ⇒ idempotent store generation ⇒ incremental
    * latest-per-SYMBOL snapshot ⇒ `onSnapshot` (the S4/S5 push seam,
    * fan out via [[SnapshotFanout]]; the frame is driver-local, |symbols|
    * rows in dashboard order, so every client reads the same rows with no
    * Spark job). A tick runs three Spark jobs: the store write runs
    * beside the snapshot collect and the generation write, which follow
    * each other (`besideStoreWrite`). Both the raw batch in
    * `storePath/batch_id=N` and the snapshot generation in
    * `snapshotPath/batch_id=N` are written with OVERWRITE — foreachBatch
    * is at-least-once, so a batch replayed after a crash between write
    * and checkpoint commit rewrites its own partitions (a fixpoint)
    * instead of appending duplicates. The snapshot is latest-per-symbol
    * over (previous generation ∪ new batch), an associative fold, so the
    * chain equals `quoteSnapshot` over the whole store; a checkpoint
    * reset inherits the surviving generation (`foldGeneration`), and the
    * SOURCE side of a restart re-reads no payload it already processed,
    * because offsets are committed tick ids. Guarantee: idempotent at the
    * store and snapshot level, not exactly-once side effects —
    * `onSnapshot` may be re-invoked for a replayed batch with identical
    * input. Per-tick cost ∝ |symbols| + |batch|, never |history|. */
  def startQuoteStream(spark: SparkSession, stagingDir: String,
                       storePath: String, checkpoint: String,
                       snapshotPath: String,
                       trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
                      (onSnapshot: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft-ticks").load(stagingDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the store write and the fold each shape the replayable tick
        // (deterministic: the stamp is each row's tick time); a cache
        // shared by two jobs that start together would serialize them
        val shaped = graft.ops.Ingest.shapeTicks(batch)
        val snap = besideStoreWrite(shaped, storePath, batchId) {
          // base ∪ tick is bounded by |symbols| + |tick|: one task runs
          // the window and the global sort with no exchange
          foldGeneration(batch.sparkSession, snapshotPath, batchId) { base =>
            quoteSnapshot(base.fold(shaped)(_.unionByName(shaped)).coalesce(1))
          }
        }
        onSnapshot(snap, batchId)
      }
      .start()

  /** Latest-per-symbol quote snapshot in the dashboard's order
    * (market cap descending, `frontend/src/App.js:93-101`). The window
    * order is totalized ((price, name) after the tick timestamp) so the
    * fold is deterministic and replays are fixpoints even if a symbol
    * ever carried two rows at one tick. */
  def quoteSnapshot(accumulated: DataFrame): DataFrame =
    Latest.latestPerKeyWindow(accumulated, Seq("symbol"),
        col("timestamp").desc, col("current_price").desc, col("name").desc)
      .orderBy(col("market_cap").desc_nulls_last, col("symbol").asc)
}

/** Multi-client fan-out of snapshot pushes — the reference queries once,
  * broadcasts the same rows to ALL open sockets and tolerates per-client
  * failure (`api/server.js:166-193`): one client's exception is recorded,
  * the rest still receive the snapshot. The quote stream hands it a
  * driver-local frame, so each client's read costs no Spark job and the
  * client count does not change a tick's job count. Register/unregister
  * is concurrent (clients connect and drop while ticks fire). */
final class SnapshotFanout {
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long) => Unit]

  def register(clientId: String, push: (DataFrame, Long) => Unit): Unit =
    clients.put(clientId, push): Unit

  def unregister(clientId: String): Unit =
    clients.remove(clientId): Unit

  /** Push to every registered client; returns per-client success. */
  def broadcast(snapshot: DataFrame, batchId: Long): Map[String, Boolean] = {
    val results = Map.newBuilder[String, Boolean]
    clients.forEach { (id, push) =>
      results += id -> (try { push(snapshot, batchId); true }
        catch { case scala.util.control.NonFatal(_) => false })
    }
    results.result()
  }
}
