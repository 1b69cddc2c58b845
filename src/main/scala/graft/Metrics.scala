package graft

import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics listener: cumulative task, scheduler and Catalyst
  * counters of a session, read as snapshots. A snapshot difference
  * (`since`) is the account of whatever ran in between — one bench
  * line, one micro-batch, one test block.
  *
  * Task counters come from a `SparkListener` (every job of the
  * context); Catalyst phase times (`qe.tracker.phases`) come from a
  * `QueryExecutionListener` on the attached session, so they cover the
  * queries that actually ran, not frames that were only built.
  * Run time next to CPU time is the point: run ≫ cpu means tasks waited
  * for a core (a contended box), while run ≈ cpu means the work itself
  * is that big.
  *
  * Attach it only where it is read (`Metrics.attach`); the session
  * factory never does, so sessions that do not measure carry no extra
  * listener. Readings assume the measured block runs its jobs to
  * completion before `since` is called (the listener bus is drained,
  * not the scheduler). */
final class Metrics private (spark: SparkSession) {
  import Metrics.Snapshot

  private val runMs, cpuNs, gcMs, spillB, shuffleB = new AtomicLong
  private val jobs, stages, tasks = new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new AtomicLong
  /** stage id -> largest per-task peak execution memory (bytes) in that
    * stage. A peak is a max, not a sum, so a window's peak is the max
    * over the stages that ran in it: stage ids only grow. */
  private val stagePeak = new ConcurrentSkipListMap[Integer, java.lang.Long]

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        stagePeak.merge(e.stageId, m.peakExecutionMemory,
          (a: java.lang.Long, b: java.lang.Long) => math.max(a, b))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def add(c: AtomicLong, phase: String): Unit =
        ph.get(phase).foreach(p => c.addAndGet(p.durationMs))
      add(analysisMs, "analysis")
      add(optimizationMs, "optimization")
      add(planningMs, "planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  spark.sparkContext.addSparkListener(taskListener)
  spark.listenerManager.register(queryListener)

  /** The counters so far, after draining the listener bus so every event
    * of a finished action is counted. */
  def snapshot(): Snapshot = {
    org.apache.spark.graft.SparkInternals.flushListenerBus(spark.sparkContext)
    val last = if (stagePeak.isEmpty) -1 else stagePeak.lastKey.intValue
    Snapshot(runMs.get, cpuNs.get, gcMs.get, spillB.get, shuffleB.get,
      peakMemB = 0L, jobs.get, stages.get, tasks.get,
      analysisMs.get, optimizationMs.get, planningMs.get, lastStage = last)
  }

  /** What ran since `from`: every counter's difference, and as peak
    * memory the largest per-task peak of the stages that ran since. */
  def since(from: Snapshot): Snapshot = {
    val to = snapshot()
    val window = stagePeak.subMap(from.lastStage, false, to.lastStage, true).values
    var peak = 0L
    window.forEach(p => peak = math.max(peak, p))
    Snapshot(to.runMs - from.runMs, to.cpuNs - from.cpuNs, to.gcMs - from.gcMs,
      to.spillB - from.spillB, to.shuffleB - from.shuffleB, peak,
      to.jobs - from.jobs, to.stages - from.stages, to.tasks - from.tasks,
      to.analysisMs - from.analysisMs, to.optimizationMs - from.optimizationMs,
      to.planningMs - from.planningMs, to.lastStage)
  }
}

object Metrics {

  /** Registers a new listener pair on `spark`'s context and session. */
  def attach(spark: SparkSession): Metrics = new Metrics(spark)

  /** Cumulative counters (from `snapshot`) or one window's account
    * (from `since`). `peakMemB` is only meaningful in an account;
    * `lastStage` is the newest stage id seen, the bound of the window. */
  final case class Snapshot(
      runMs: Long, cpuNs: Long, gcMs: Long, spillB: Long, shuffleB: Long,
      peakMemB: Long, jobs: Long, stages: Long, tasks: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      lastStage: Int) {
    def runS: Double = runMs / 1e3
    def cpuS: Double = cpuNs / 1e9
    def gcS: Double = gcMs / 1e3
  }
}
