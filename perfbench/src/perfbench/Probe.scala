package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named sums that several listener threads add to. */
final class Sums {
  private val m = new ConcurrentHashMap[String, DoubleAdder]
  def add(k: String, v: Double): Unit = m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def max(k: String, v: Double): Unit = m.compute(k, (_, a) => {
    val r = if (a == null) new DoubleAdder else a
    if (v > r.sum()) { r.reset(); r.add(v) }
    r
  }): Unit
  def apply(k: String): Double = Option(m.get(k)).map(_.sum()).getOrElse(0.0)
}

/** Always-on task counter (every run, traced or not): tasks, jobs, run
  * time and CPU time per operation, attributed through the
  * `perfbench.op` local property the issuing thread sets. It gives the
  * contention ratio and lets curation assert that every pass ran the
  * same tasks (a cache hit cannot pass as a speed-up). One counter
  * update per task; the same on both sides of any A/B. */
final class Guard extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]
  val perOp = new ConcurrentHashMap[String, Sums]
  val total = new Sums
  private def sums(op: String) = perOp.computeIfAbsent(op, _ => new Sums)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Guard.OpKey))).getOrElse("-")
    e.stageIds.foreach(s => stageOp.put(s, op))
    sums(op).add("jobs", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, "-")
    sums(op).add("tasks", 1)
    total.add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      total.add("run_ms", m.executorRunTime.toDouble)
      total.add("cpu_ns", m.executorCpuTime.toDouble)
    }
  }
}
object Guard {
  val OpKey = "perfbench.op"
}

/** The traced run's listeners: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (Catalyst phase times from
  * `qe.tracker`, file-scan node metrics, write commands split by output
  * path) and a StreamingQueryListener (per-trigger `durationMs`).
  * Registered only while a traced block runs; everything it sees while
  * registered is summed, and the workload divides by the operations
  * that block ran. Task, run-time and CPU counts over the block are
  * deltas of the always-on `guard`'s totals. */
final class Probe(spark: SparkSession, guard: Guard, writeKind: String => String) {
  val sums = new Sums
  val progress = new ConcurrentHashMap[Long, Map[String, Long]] // batchId -> durationMs
  val progressRows = new ConcurrentHashMap[Long, Long]

  private object walk extends AdaptiveSparkPlanHelper

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = sums.add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = sums.add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        sums.add("delay_ms", math.max(0L, delay).toDouble)
        sums.add("gc_ms", m.jvmGCTime.toDouble)
        sums.add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        sums.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        sums.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        sums.max("peak_exec_mem_b", m.peakExecutionMemory.toDouble)
        sums.add("input_b", m.inputMetrics.bytesRead.toDouble)
        sums.add("output_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private def plans(qe: QueryExecution): Seq[SparkPlan] =
    qe.executedPlan match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case p => Seq(p)
    }

  private val qeL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      sums.add("analysis_ms", ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      sums.add("optimization_ms", ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
      sums.add("planning_ms", ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
      plans(qe).foreach { root =>
        walk.collectWithSubqueries(root) { case s: FileSourceScanExec => s }.foreach { s =>
          def mv(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          sums.add("scan_files", mv("numFiles"))
          sums.add("scan_metadata_ms", mv("metadataTime"))
          sums.add("scan_rows", mv("numOutputRows"))
        }
        walk.collect(root) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand =>
              val kind = writeKind(c.outputPath.toString)
              sums.add(s"write_${kind}_ms", durationNs / 1e6)
              sums.add(s"write_${kind}_rows",
                w.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0))
            case _ =>
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put(p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      progressRows.put(p.batchId, p.numInputRows)
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var gc0, cpu0 = 0L
  private val fromGuard = Seq("tasks", "run_ms", "cpu_ns")
  private var guard0 = Seq.empty[Double]
  private var compiles0 = 0L
  /** Generated classes compiled so far in this JVM (driver and tasks). */
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs = gcBeans.map(_.getCollectionTime).sum

  private var sessions = Seq.empty[SparkSession]

  /** `extra`: sessions besides the main one whose queries to observe — a
    * streaming query runs its micro-batches on a clone of the session. */
  def attach(extra: Seq[SparkSession]): Unit = {
    sessions = (spark +: extra).distinct
    spark.sparkContext.addSparkListener(sparkL)
    sessions.foreach(_.listenerManager.register(qeL))
    spark.streams.addListener(streamL)
    gc0 = gcMs
    cpu0 = os.getProcessCpuTime
    guard0 = fromGuard.map(guard.total(_))
    compiles0 = compiles
  }

  def detach(): Unit = {
    fromGuard.zip(guard0).foreach { case (k, v0) => sums.add(k, guard.total(k) - v0) }
    sums.add("codegen_compiles", (compiles - compiles0).toDouble)
    sums.add("jvm_gc_ms", (gcMs - gc0).toDouble)
    sums.add("jvm_cpu_ns", (os.getProcessCpuTime - cpu0).toDouble)
    spark.sparkContext.removeSparkListener(sparkL)
    sessions.foreach(_.listenerManager.unregister(qeL))
    spark.streams.removeListener(streamL)
  }
}

object Jvm {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Heap in use right after each pool's most recent collection, MB. */
  def heapAfterGcMb: Double =
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU ticks of the whole box from /proc/stat; zeros
    * where the file is absent. */
  def stealTicks: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total > 0) (after._1 - before._1).toDouble / total else 0.0
  }
}
