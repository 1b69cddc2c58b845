package graft.sources

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The reference ETL's 300 s poll loop (`etl/crypto_etl.py:40-52,150-157`)
  * as a REAL DataSourceV2 micro-batch source, `format("graft-ticks")`.
  *
  * The seam between "the network" and "the engine" is a durable tick
  * log: each poll stages its raw payload as ONE immutable file
  * `tick-<epochMs>.json` ([[Sources.stageTickPayload]] — atomic
  * tmp+rename, a failed fetch or parse skips the tick). The source then
  * owns real STREAMING SEMANTICS over that log, which a file-stage +
  * `readStream.parquet` approximation could not:
  *
  *   - offsets ARE tick ids (epoch ms): `latestOffset` = newest staged
  *     tick; a batch is the ticks in `(start, end]`. Spark persists the
  *     committed offset in the checkpoint, so a RESTART resumes from
  *     exactly the committed tick — no reprocessing, no loss — because
  *     staged files are immutable and a tick id names the same bytes
  *     forever (the exactly-once contract, delegated to the log).
  *   - `planInputPartitions` emits one partition per tick: steady state
  *     (one poll per trigger) is one small partition — inherent to a
  *     source whose upstream is a single REST payload — while CATCH-UP
  *     after downtime fans out one partition per backlogged tick across
  *     the cluster.
  *   - the same scan implements `toBatch`, so
  *     `spark.read.format("graft-ticks").load(dir)` is the backfill
  *     read over the full log (BATCH_READ + MICRO_BATCH_READ).
  *
  * Rows are the reference's five projected quote fields
  * (`etl/crypto_etl.py:88-92`, same tolerant projection as
  * [[Sources.quotesFromJsonPayload]]: extra JSON fields ignored,
  * missing fields null) plus `tick_ms`, the batch-identity column the
  * shape step turns into the batch-constant timestamp
  * (`timestamp_millis(tick_ms)` — P4 semantics). Parsing happens in the
  * PartitionReader on the EXECUTOR (Jackson, the JSON parser Spark
  * itself ships), so the driver never holds payloads. Coercion corners
  * are deliberately simple — numeric fields accept JSON numbers only,
  * string fields take any scalar's text — and the staging side already
  * rejects non-array payloads, so well-typed payloads (the only thing a
  * healthy upstream emits) parse identically to `from_json`
  * (SourceSinkSpec pins the parity).
  */
object QuoteTicks {

  /** Output schema: the five projected quote fields + the tick id. */
  val schema: StructType =
    StructType(Sources.quoteSchema.fields :+ StructField("tick_ms", LongType))

  private[sources] val TickPrefix = "tick-"
  private[sources] val TickSuffix = ".json"

  /** Staged ticks under `dir` as (tickMs, path), tick-ascending.
    * Tmp files (dot-prefixed) and foreign names are ignored. */
  private[sources] def listTicks(dir: String, conf: Configuration): Seq[(Long, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(TickPrefix) && n.endsWith(TickSuffix))
        scala.util.Try(
          n.stripPrefix(TickPrefix).stripSuffix(TickSuffix).toLong)
          .toOption.map(_ -> st.getPath.toString)
      else None
    }.sortBy(_._1)
  }

  /** Parse one staged payload into rows. Shared by the executor-side
    * reader and the staging-side validation (same parser object → the
    * count stageTickPayload returns is exactly what the reader will
    * emit). A non-object array element maps to an all-null row,
    * mirroring `explode(from_json(...))` on a null struct. */
  private[sources] def parsePayload(payload: String, tickMs: Long): Iterator[InternalRow] = {
    val root = new ObjectMapper().readTree(payload)
    require(root != null && root.isArray, "payload is not a JSON array")
    val tick = java.lang.Long.valueOf(tickMs)
    val it = root.elements()
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = {
        val el = it.next()
        def str(f: String): Any = el.get(f) match {
          case null => null
          case v if v.isNull => null
          case v if v.isValueNode => UTF8String.fromString(v.asText())
          case v => UTF8String.fromString(v.toString)
        }
        def dbl(f: String): Any = el.get(f) match {
          case null => null
          case v if v.isNumber => java.lang.Double.valueOf(v.asDouble())
          case _ => null
        }
        if (!el.isObject)
          new GenericInternalRow(Array[Any](null, null, null, null, null, tick))
        else new GenericInternalRow(Array[Any](
          str("symbol"), str("name"), dbl("current_price"),
          dbl("market_cap"), dbl("total_volume"), tick))
      }
    }
  }
}

/** `format("graft-ticks")` entry point (registered via
  * META-INF/services so the short name resolves on any session). */
class QuoteTicksProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ticks"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    QuoteTicks.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val dir = properties.get("path")
    require(dir != null && dir.nonEmpty,
      "graft-ticks needs a staging directory: .load(dir) / .option(\"path\", dir)")
    new QuoteTicksTable(dir)
  }
}

private[sources] class QuoteTicksTable(dir: String) extends Table with SupportsRead {
  override def name(): String = s"graft-ticks:$dir"
  override def schema(): StructType = QuoteTicks.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new QuoteTicksScan(dir)
    }
}

private[sources] class QuoteTicksScan(dir: String) extends Scan {
  override def readSchema(): StructType = QuoteTicks.schema
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      QuoteTicks.listTicks(dir, hadoopConf())
        .map { case (t, p) => TickPartition(t, p): InputPartition }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new TickReaderFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TickMicroBatchStream(dir)
  private def hadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()
}

/** Offset = the newest tick id included so far; -1 = nothing yet. */
private[sources] case class TickOffset(tickMs: Long) extends Offset {
  override def json(): String = tickMs.toString
}

private[sources] class TickMicroBatchStream(dir: String) extends MicroBatchStream {
  // Driver-side only (offset arithmetic + listing); readers re-resolve
  // their FileSystem from the partition's path on the executor.
  private val conf = SparkSession.active.sessionState.newHadoopConf()

  override def initialOffset(): Offset = TickOffset(-1L)
  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def latestOffset(): Offset =
    TickOffset(QuoteTicks.listTicks(dir, conf).lastOption.map(_._1).getOrElse(-1L))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TickOffset].tickMs
    val hi = end.asInstanceOf[TickOffset].tickMs
    QuoteTicks.listTicks(dir, conf)
      .collect { case (t, p) if t > lo && t <= hi => TickPartition(t, p): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new TickReaderFactory

  /** Staged files are the authority and retention is the store owner's
    * policy (`Sinks`-side compaction), so commit is a no-op — replaying
    * an uncommitted-but-staged tick is exactly-once BECAUSE the file is
    * immutable. */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class TickPartition(tickMs: Long, path: String) extends InputPartition

private[sources] class TickReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val tp = partition.asInstanceOf[TickPartition]
    new PartitionReader[InternalRow] {
      private var rows: Iterator[InternalRow] = _
      private var current: InternalRow = _
      private def ensureOpen(): Unit = if (rows == null) {
        val p = new Path(tp.path)
        val fs = p.getFileSystem(new Configuration())
        val in = fs.open(p)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        rows = QuoteTicks.parsePayload(
          new String(bytes, StandardCharsets.UTF_8), tp.tickMs)
      }
      override def next(): Boolean = {
        ensureOpen()
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
