package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Graft
import graft.streaming.Streams

/** `dashboard_reads`: the dashboard's request mix as a closed loop of
  * `clients` clients over a price store holding four hours of 300 s
  * ticks (48 ticks x 100 coins) in the per-tick `batch_id=N` layout
  * `Graft.startQuoteStream` writes. Every request re-reads the store,
  * as the API must while ticks keep landing: file listing, Catalyst
  * analysis and small-file scans are what it costs. */
final class DashboardReads(spark: SparkSession, o: Opts) extends Workload {
  val clients = 1
  override val round: Int = DashboardReads.Cycle.size
  val Ticks = 48

  private var dir: java.nio.file.Path = _
  private var latest: Gen.Latest = _
  /** symbol -> tick times (ms) at which it has a stored row. */
  private var present: Map[String, IndexedSeq[Long]] = _
  private var symbols: IndexedSeq[String] = _
  private val rngs = (0 until clients).map(c => new Random(o.seed * 31L + c))

  def store: String = dir.toString
  private def storeDir(rep: Int) = o.work.resolve("dash").resolve(s"store-$rep")

  /** Generates the seed's ticks and writes them as the store once, then
    * copies it, so each set-up repetition opens a store no request has
    * read yet. None of this is the engine's work, so it is untimed. */
  override def prepare(): Unit = {
    val market = new Gen.Market(o.seed)
    latest = new Gen.Latest
    val pres = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    val rows = (0 until Ticks).map { b =>
      val t = market.tick()
      latest.add(t)
      t.valid.keys.foreach(s => pres.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += t.ms)
      DashboardReads.rows(t, b)
    }
    present = pres.map { case (k, v) => k -> v.toIndexedSeq }.toMap
    symbols = present.keys.toIndexedSeq.sorted
    DashboardReads.writeStore(spark, rows, storeDir(0).toString)
    (1 until Main.SetupReps).foreach(r => Layout.copyTree(storeDir(0), storeDir(r)))
  }

  /** The engine's part of opening a store: one `latest` request on a
    * store not read before. The first repetition also sends one request
    * of each other kind, so no measured request pays first-use JIT cost
    * (the reported set-up is the median, which excludes the first). */
  def setup(rep: Int): Unit = {
    dir = storeDir(rep)
    val warm = if (rep == 0) DashboardReads.Cycle.distinct else Seq("latest")
    warm.foreach(k => if (!request(0, k, measured = false))
      throw new IllegalStateException(s"warm-up $k request failed"))
  }

  private def read(): DataFrame = spark.read.parquet(store)

  private val sent = Array.fill(clients)(0)

  /** The history-heavy request mix in a fixed cycle (latest, history,
    * doughnut, history), so every run sees the same proportions in the
    * same order; the seed draws each history request's symbol and
    * bound shape. */
  def op(client: Int, id: Long): (String, Boolean) = {
    val kind = DashboardReads.Cycle(sent(client) % DashboardReads.Cycle.size)
    sent(client) += 1
    kind -> request(client, kind, measured = true)
  }

  private def request(client: Int, kind: String, measured: Boolean): Boolean = {
    def perturb(v: Double): Double = if (o.corrupt && measured) v * 1.0001 else v
    kind match {
    case "latest" =>
      val got = Main.current.span("ops.latest", rows = { case a: Array[_] => a.length.toLong; case _ => -1L }) {
        Streams.quoteSnapshot(read()).select("symbol", "current_price", "market_cap").collect()
      }
      val expected = latest.bySymbol.values.map(_._1).toSeq.sorted(Gen.dashboardOrder)
        .map(q => (q.symbol, q.price, q.cap))
      got.toSeq.map(r => (r.getString(0), perturb(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))) == expected
    case "history" =>
      val rnd = rngs(client)
      val sym = symbols(rnd.nextInt(symbols.size))
      // the 30-day default window most often, the other three shapes evenly
      val (lo, hi) = rnd.nextInt(6) match {
        case 0 => (None, None)
        case 1 => (Some(Gen.DayB), None)
        case 2 => (None, Some(Gen.DayA))
        case _ =>
          val (s, e) = graft.ops.History.defaultWindow(Gen.DayB)
          (Some(s), Some(e))
      }
      val got = Main.current.span("ops.history", rows = { case a: Array[_] => a.length.toLong; case _ => -1L }) {
        Graft.history(read(), sym, lo, hi, keyCol = "symbol", tsCol = "timestamp", tieBreak = "batch_id")
          .select("timestamp").collect()
      }
      val dayMs = 86400000L
      val loMs = lo.map(d => java.time.LocalDate.parse(d).toEpochDay * dayMs).getOrElse(Long.MinValue)
      val hiMs = hi.map(d => (java.time.LocalDate.parse(d).toEpochDay + 1) * dayMs).getOrElse(Long.MaxValue)
      val expected = present(sym).filter(t => t >= loMs && t < hiMs)
      val times = got.toSeq.map(_.getTimestamp(0).getTime)
      times.size + (if (o.corrupt && measured) 1 else 0) == expected.size && times == expected
    case "doughnut" =>
      val got = Main.current.span("ops.doughnut", rows = { case a: Array[_] => a.length.toLong; case _ => -1L }) {
        val snap = Streams.quoteSnapshot(read()).select("symbol", "market_cap")
        // topWithOther persists its input; release it as a looping caller must
        try Graft.topWithOther(snap, "symbol", "market_cap", 7).collect()
        finally snap.unpersist(blocking = true): Unit
      }
      DashboardReads.checkDoughnut(got.toSeq.map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(perturb(r.getDouble(1))),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))),
        latest.bySymbol.values.map(_._1).toSeq)
    }
  }

  def finish(ops: Seq[OpRec]): Set[Long] = Set.empty

  def layers(ops: Seq[OpRec], probe: Probe, trace: Trace): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val ids = traced.map(_.id).toSet
    val spans = trace.all.filter(s => ids(s.op))
    def spanMs(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    val resultRows = spans.filter(_.name.startsWith("ops.")).map(_.rows).sum.toDouble
    val (files, bytes) = Metrics.treeSize(dir)
    Map(
      "ops.latest_ms" -> spanMs("ops.latest"),
      "ops.history_ms" -> spanMs("ops.history"),
      "ops.doughnut_ms" -> spanMs("ops.doughnut"),
      "scan.rows_per_result" -> probe.sums("scan_rows") / math.max(1.0, resultRows),
      "store.files" -> files.toDouble,
      "store.bytes" -> bytes.toDouble)
  }

  def close(): Unit = ()
}

object DashboardReads {
  val Cycle = IndexedSeq("latest", "history", "doughnut", "history")

  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("name", StringType),
    StructField("current_price", DoubleType), StructField("market_cap", DoubleType),
    StructField("total_volume", DoubleType), StructField("timestamp", TimestampType),
    StructField("batch_id", IntegerType)))

  /** The store rows of one tick: its valid quotes, shaped. */
  def rows(t: Gen.Tick, batch: Int): Seq[Row] =
    t.valid.values.toSeq.sortBy(_.symbol).map(q =>
      Row(q.symbol, q.name, q.price, q.cap.map(Double.box).orNull, q.volume, t.ts, batch))

  /** Writes shaped quote rows, one sequence per tick, as the per-tick
    * store: one `batch_id=N` directory per tick holding one parquet file
    * and a `_SUCCESS` marker, the layout the quote stream leaves behind.
    * One task per tick, so no shuffle. */
  def writeStore(spark: SparkSession, ticks: Seq[Seq[Row]], path: String): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(ticks, ticks.size).flatMap(identity), schema)
    df.write.mode("overwrite").partitionBy("batch_id").parquet(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, "_SUCCESS"), false)
    fs.listStatus(root).filter(_.isDirectory).foreach { d =>
      fs.create(new org.apache.hadoop.fs.Path(d.getPath, "_SUCCESS"), true).close()
    }
  }

  /** Top 7 by market cap (nulls last, then symbol) plus "Other" summing
    * the remaining non-null caps, each with its percent of the total. */
  def checkDoughnut(got: Seq[(String, Option[Double], Option[Double])], snapshot: Seq[Gen.Quote]): Boolean = {
    val sorted = snapshot.sorted(Gen.dashboardOrder)
    val top = sorted.take(7).map(q => q.symbol -> q.cap)
    val rest = sorted.drop(7).flatMap(_.cap)
    val other = if (rest.isEmpty) Nil else Seq("Other" -> Some(rest.sum))
    val expected = top ++ other
    val total = expected.flatMap(_._2).sum
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    got.size == expected.size && got.zip(expected).forall { case ((s, v, pct), (es, ev)) =>
      s == es && ((v, ev) match {
        case (Some(a), Some(b)) => close(a, b) &&
          pct.exists(p => math.abs(p - 100 * b / total) <= 0.0051)
        case (None, None) => true
        case _ => false
      })
    }
  }
}
