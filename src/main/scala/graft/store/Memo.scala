package graft.store

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IsNotNull, IsNull, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The session memo store — the one mechanism behind every shared
  * intermediate (bar grids, dedup/ANN chains, bucketed graph edges).
  *
  * KEY: (session by reference, name, analyzed plan of the frame the entry
  * is built ON, compared with `sameResult`). Reference equality on the
  * session: identityHashCode alone can collide after GC and hand back a
  * frame bound to a dead session. Plan equality is semantic — the
  * CacheManager lookup discipline — so a fresh `Tables.*(s, dir)` read of
  * the same files hits the entry a first read built, while a different
  * input (another table, a test frame) gets its own entry. The name
  * carries the build's arguments (`bars|user_id|ts|value|event_id`).
  *
  * STORAGE: a miss runs the build, writes the frame to parquet under a
  * JVM temp root and hands back the reader — no persist, no
  * localCheckpoint, so spill or eviction can never turn a consumer back
  * into a rebuild, and harnesses may drop EVERY cached block between
  * lines (Harness.sweepStorage) while consumers still read a columnar
  * scan; the scan also truncates lineage (the shallowest possible plan).
  * A build that already returns a store-backed frame ([[write]],
  * [[writeBucketed]]) is registered as is: no second write.
  *
  * STALENESS CONTRACT: one session per data generation. An entry never
  * looks at file contents, so if the parquet files under a table dir are
  * REGENERATED within the same session, a stored frame serves results
  * computed from the old files. A harness that rewrites data mid-session
  * must start a fresh session for the new data (the normal driver
  * pattern: one session per verify/bench run);
  * spark.catalog.clearCache() does not touch these entries, by design.
  *
  * EVICTION: entries of stopped sessions drop on the next call, and each
  * (session, name) bucket keeps its [[PerName]] newest entries — churn
  * under one name (many test inputs through one bar-grid builder) can
  * never evict another name's chain entry. Entries are only memos:
  * evicting is always correct, recompute just costs a rebuild. Stored
  * files stay until JVM exit (a consumer may still hold their reader).
  *
  * BYPASS: streaming frames (a stored grid is a batch-only notion) and
  * frames passed through [[fresh]] run the build unstored — how the bench
  * times a chain's own build a second time without ever reading or
  * replacing its entry. */
object Memo {

  /** Entries kept per (session, name) bucket. */
  val PerName = 16

  private final class Entry(val plan: LogicalPlan, val df: DataFrame)

  private final class Bucket {
    val entries = mutable.ArrayBuffer.empty[Entry]
    var hits = 0L
    var builds = 0L
    var buildMs = 0L
    var bytes = 0L
    var peak = 0
  }

  /** Per-name counters: live entries, the most entries the bucket ever
    * held, lookups served from the store, builds, build wall ms and the
    * bytes the builds stored. */
  final case class Stat(name: String, entries: Int, peak: Int, hits: Long,
                        builds: Long, buildMs: Long, bytes: Long)

  private val buckets = mutable.LinkedHashMap.empty[(SparkSession, String), Bucket]
  private val seq = new java.util.concurrent.atomic.AtomicLong

  // scratch root in the JVM temp dir (next to Spark's own shuffle/spill
  // scratch), deleted on JVM exit
  private[graft] lazy val root: Path = {
    val p = Files.createTempDirectory("graft-memo-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => try Files.deleteIfExists(f)
            catch { case scala.util.control.NonFatal(_) => })
      } catch { case scala.util.control.NonFatal(_) => }))
    p
  }

  /** The memoized `build` for (session of `on`, `name`, plan of `on`).
    * The build runs outside the store's lock (it runs Spark jobs); a
    * same-key race double-builds, the first insert wins and the loser's
    * files are deleted. Builds may nest (a chain reading its upstream). */
  def apply(on: DataFrame, name: String)(build: => DataFrame): DataFrame = {
    if (on.isStreaming || isFresh(on.queryExecution.analyzed)) return build
    val s = on.sparkSession
    val plan = on.queryExecution.analyzed
    val hit = synchronized {
      evictStoppedSessions()
      val b = find(s, name, plan)
      b.foreach(_ => buckets((s, name)).hits += 1)
      b
    }
    hit.getOrElse {
      val t0 = System.nanoTime()
      val built = build
      val stored = if (storePaths(built).isDefined) built else write(built)
      val ms = (System.nanoTime() - t0) / 1000000L
      synchronized {
        find(s, name, plan) match {
          case Some(prev) =>
            if (stored ne built) storePaths(stored).toSeq.flatten
              .foreach(p => try graft.Fs.deleteRecursively(p.toFile)
                catch { case scala.util.control.NonFatal(_) => })
            prev
          case None =>
            val b = buckets.getOrElseUpdate((s, name), new Bucket)
            if (b.entries.size >= PerName) b.entries.remove(0)
            b.entries += new Entry(plan, stored)
            b.builds += 1
            b.buildMs += ms
            b.bytes += storePaths(stored).toSeq.flatten.map(sizeOf).sum
            b.peak = math.max(b.peak, b.entries.size)
            stored
        }
      }
    }
  }

  /** `df` behind an analyzer-visible, optimizer-eliminated tautology on
    * `saltCol`: [[apply]] never looks up or stores a frame built on it,
    * and its plan is never `sameResult` with the plain read, so the
    * CacheManager cannot substitute a cached frame either (a plain
    * rebuild would silently time a cache read — measured task_s 0.01). */
  def fresh(df: DataFrame, saltCol: String): DataFrame =
    df.filter(col(saltCol).isNotNull || col(saltCol).isNull)

  private def isFresh(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(Or(IsNotNull(a), IsNull(b)), _) => a.semanticEquals(b)
    case _ => false
  }

  /** Counters of every bucket of session `s`, by name. */
  def stats(s: SparkSession): Seq[Stat] = synchronized {
    buckets.toSeq.collect { case ((s0, n), b) if s0 eq s =>
      Stat(n, b.entries.size, b.peak, b.hits, b.builds, b.buildMs, b.bytes)
    }
  }

  private def find(s: SparkSession, name: String,
                   plan: LogicalPlan): Option[DataFrame] =
    buckets.get((s, name))
      .flatMap(_.entries.find(_.plan.sameResult(plan))).map(_.df)

  private def evictStoppedSessions(): Unit =
    buckets.keys.filter(_._1.sparkContext.isStopped).toSeq
      .foreach(buckets.remove)

  /** Materialize `df` to a fresh parquet path in the store and hand back
    * its reader — the write-through primitive, also the materialization
    * boundary a build uses for a frame it reads several times. Runs a
    * Spark job (the write). */
  def write(df: DataFrame): DataFrame = {
    val path = root.resolve(s"m${seq.incrementAndGet()}")
    df.write.mode("overwrite").parquet(path.toString)
    df.sparkSession.read.parquet(path.toString)
  }

  /** Bucket-count rule for [[writeBucketed]]: ~1M rows per bucket,
    * capped at 4096 (the cluster knob — at 100 TB raise the cap with
    * the executor count). A 600k-row edge set gets ONE bucket (a fixed
    * session-width bucket count measured 5-8x task overhead on tiny
    * buckets — 32 tasks per iteration join for metadata-sized work),
    * a 5.9M-row set six. */
  def bucketsForRows(n: Long): Int =
    math.max(1L, math.min(4096L, n / 1048576L + 1L)).toInt

  /** Materialize `df` as a BUCKETED store table (bucketed+sorted by
    * `bucketCol` into `buckets` files, registered in the session
    * catalog — bucket layout lives in table metadata, so consumers'
    * joins/groupBys on the bucket column read co-located, pre-sorted
    * buckets with NO exchange). This is the iterative-graph analog of
    * Stores.bucketedTable: an edge set read by every iteration pays its
    * shuffle ONCE at build time, and each iteration then shuffles only
    * the node-sized rank frame into the bucket layout (measured: the
    * un-bucketed store re-shuffled the full 5.9M-edge set per iteration
    * at sf1 — 65-102x shuffle at 10x data; bucketed, edge bytes cross
    * the wire once). Table names are globally unique per write; the
    * files live in the store root (JVM-exit cleaned), and the in-memory
    * catalog entry dies with its session. */
  def writeBucketed(df: DataFrame, bucketCol: String, buckets: Int): DataFrame = {
    val s = df.sparkSession
    val id = seq.incrementAndGet()
    val tbl = s"g_memo_b$id"
    // repartition ON the bucket column first: without it every input
    // task opens a writer per bucket (tasks x buckets small files —
    // measured ~1000 files for a 600k-row edge set, 50 task-s of
    // commit/open stalls on write and a comparable stall per read).
    // Clustered first, each task writes exactly its one bucket file,
    // and THIS shuffle is the pay-once co-location the store exists for.
    df.repartition(buckets, col(bucketCol))
      .write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", root.resolve(s"b$id").toString)
      .mode("overwrite").saveAsTable(tbl)
    s.table(tbl)
  }

  /** The store directories `df` is a bare scan of, or None when `df` is
    * anything else (a derived plan, a scan outside the store root). */
  private def storePaths(df: DataFrame): Option[Seq[Path]] = {
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case a: SubqueryAlias => leaf(a.child)
      case o => o
    }
    leaf(df.queryExecution.analyzed) match {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val ps = fs.location.rootPaths.map(p => Paths.get(p.toUri.getPath))
          if (ps.nonEmpty && ps.forall(_.startsWith(root))) Some(ps) else None
        case _ => None
      }
      case _ => None
    }
  }

  private def sizeOf(p: Path): Long =
    try Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    catch { case scala.util.control.NonFatal(_) => 0L }
}
