package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: a tick, a dashboard request or a curation pass. */
final case class OpRec(id: Long, client: Int, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What a workload plugs into the shared closed-loop runner. */
trait Workload {
  /** Closed-loop clients; each has at most one operation in flight. */
  def clients: Int
  /** Operations in one round of a fixed request mix: a client that is
    * past the deadline still finishes its round, so every run measures
    * whole rounds and the same mix. */
  def round: Int = 1
  /** Generates the run's inputs once, untimed: the benchmark's own work,
    * identical for every set-up repetition of a seed. */
  def prepare(): Unit = ()
  /** The engine's part of getting ready, timed as `setup_s`. Called
    * `Main.SetupReps` times; the last repetition's state is what the run
    * measures. */
  def setup(rep: Int): Unit
  /** Runs one operation and checks its output; false = failed check. */
  def op(client: Int, id: Long): (String, Boolean)
  /** End-of-run checks (untimed); returns ids of operations they fail. */
  def finish(ops: Seq[OpRec]): Set[Long]
  /** Sessions besides the main one that run this workload's queries. */
  def sessions: Seq[SparkSession] = Nil
  /** Classifies a write command's output path for the traced run. */
  def writeKind(path: String): String = "other"
  /** Workload-specific per-layer metrics; `ops` holds every measured
    * operation, the traced ones flagged. */
  def layers(ops: Seq[OpRec], probe: Probe, trace: Trace): Map[String, Double]
  def close(): Unit
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: Path, work: Path, selftest: String = "", corrupt: Boolean = false)

object Main {
  val SetupReps = 3
  val Threads: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** A run is marked contended when executor run time exceeds CPU time
    * by this factor over the measured window: tasks waited for a core.
    * On a quiet 4-core box tick_live reads 1.3-1.5 and dashboard_reads
    * 2.0-2.3. Load averages are recorded, not judged: back-to-back runs
    * see the previous run's load. */
  val ContendedRunOverCpu = 3.0
  /** ... or when the hypervisor took more than this share of the box's
    * CPU time over the window (`steal` in /proc/stat). An idle 4-core
    * virtual machine reads about 0.02; windows above 0.1 read 40-60 %
    * slower on identical code. */
  val ContendedSteal = 0.1
  /** The run's tracer; disabled outside traced blocks. */
  val current = new Trace
  val guard = new Guard
  /** 1-minute load average when the JVM started, before it did any work. */
  private var loadAtStart = 0.0

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("out")), Paths.get(req("work")), m.getOrElse("selftest", ""),
      m.get("corrupt").contains("1"))
  }

  def session(): SparkSession = {
    val s = graft.Graft.session(s"local[$Threads]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    loadAtStart = Jvm.loadAverage
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session()
    val code =
      try {
        if (o.selftest == "layout") { Files.writeString(o.out, Layout.check(spark, o)); 0 }
        else { run(spark, o); 0 }
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    sys.exit(code)
  }

  def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "tick_live" => new TickLive(spark, o)
    case "dashboard_reads" => new DashboardReads(spark, o)
    case "curation_batch" => new CurationBatch(spark, o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Completed operations per second, per client up to the end of its
    * last operation (no partly-run operation dilutes the rate), summed
    * over clients. */
  def throughput(ops: Seq[OpRec], t0: Long): Double =
    ops.groupBy(_.client).values.map(c => c.size / ((c.map(_.endNs).max - t0) / 1e9)).sum

  /** One measured window: the ops it ran, when it started, and what the
    * box and the process did meanwhile. */
  final case class Window(ops: Seq[OpRec], t0: Long, seconds: Double, cpuMs: Double,
                          runOverCpu: Double, steal: Double, load1Before: Double, load1After: Double)

  /** Runs the workload's closed-loop clients through `blocks` (traced or
    * not, and for how long) back to back. */
  def measure(spark: SparkSession, w: Workload, probe: Probe, blocks: Seq[(Boolean, Long)]): Window = {
    val trace = current
    System.gc()
    val loadBefore = Jvm.loadAverage
    val steal0 = Jvm.stealTicks
    val (run0, cpuTask0) = (guard.total("run_ms"), guard.total("cpu_ns"))
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]
    val ids = new AtomicLong(0)
    val cpu0 = Jvm.processCpuNs
    val t0 = System.nanoTime()
    blocks.foreach { case (traced, len) =>
      if (traced) { Thread.sleep(200); probe.attach(w.sessions); trace.enabled = true }
      val deadline = System.nanoTime() + len
      val threads = (0 until w.clients).map { c =>
        val t = new Thread(() => {
          var n = 0
          while (System.nanoTime() < deadline || n % w.round != 0) {
            n += 1
            val id = ids.incrementAndGet()
            spark.sparkContext.setLocalProperty(Guard.OpKey, id.toString)
            val t0 = System.nanoTime()
            val (kind, ok) =
              try trace.span("op", op = id)(w.op(c, id))
              catch { case e: Exception => e.printStackTrace(); ("error", false) }
            ops.add(OpRec(id, c, kind, t0, System.nanoTime(), ok, traced))
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      if (traced) { trace.enabled = false; Thread.sleep(400); probe.detach() }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuMs = (Jvm.processCpuNs - cpu0) / 1e6
    val steal = Jvm.stealShare(steal0, Jvm.stealTicks)
    val loadAfter = Jvm.loadAverage
    Thread.sleep(300) // let the listener bus deliver the last task ends
    val taskCpuMs = (guard.total("cpu_ns") - cpuTask0) / 1e6
    val runOverCpu = if (taskCpuMs > 0) (guard.total("run_ms") - run0) / taskCpuMs else 0.0
    Window(ops.asScala.toSeq.sortBy(_.startNs), t0, seconds, cpuMs, runOverCpu, steal, loadBefore, loadAfter)
  }

  def run(spark: SparkSession, o: Opts): Unit = {
    // seconds since the JVM started at the end of each phase of the run
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.currentTimeMillis - jvmStart) / 1e3
    phase("session")
    spark.sparkContext.addSparkListener(guard)
    val w = workload(spark, o)
    val trace = current
    val probe = new Probe(spark, guard, w.writeKind)
    w.prepare()
    phase("prepare")
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"setup $r: $dt%.2f s")
      dt
    }
    val budgetNs = o.seconds * 1000000000L
    // untraced runs measure one block; the traced run measures
    // untraced / traced / untraced quarters-half-quarter (ABBA order
    // cancels linear drift such as JIT warm-up) for the overhead figure
    val blocks = if (o.trace) Seq(false -> budgetNs / 4, true -> budgetNs / 2, false -> budgetNs / 4)
                 else Seq(false -> budgetNs)
    phase("setup")
    val win = measure(spark, w, probe, blocks)
    phase("measure")
    val all = win.ops
    val failedIds = all.filterNot(_.ok).map(_.id).toSet ++ w.finish(all)
    val contended = win.runOverCpu > ContendedRunOverCpu || win.steal > ContendedSteal

    val metrics: Map[String, (Double, String)] =
      if (!o.trace) {
        Map(
          "setup_s" -> (median(setupS) -> "s"),
          "p50_ms" -> (median(all.map(_.ms)) -> "ms"),
          "ops_per_s" -> (throughput(all, win.t0) -> "1/s"))
      } else {
        val traced = all.filter(_.traced)
        // the run's first operation is left out: on curation_batch it is
        // the cold first pass
        val untraced = all.filterNot(_.traced).drop(1)
        val n = math.max(1, traced.size).toDouble
        val s = probe.sums
        val cpuS = s("cpu_ns") / 1e9
        val common = Map[String, Double](
          "catalyst.analysis_ms" -> s("analysis_ms") / n,
          "catalyst.optimization_ms" -> s("optimization_ms") / n,
          "catalyst.planning_ms" -> s("planning_ms") / n,
          "catalyst.codegen_compiles" -> s("codegen_compiles") / n,
          "scan.files_read" -> s("scan_files") / n,
          "scan.metadata_ms" -> s("scan_metadata_ms") / n,
          "scheduler.jobs" -> s("jobs") / n,
          "scheduler.stages" -> s("stages") / n,
          "scheduler.tasks" -> s("tasks") / n,
          "scheduler.delay_ms" -> (if (s("tasks") > 0) s("delay_ms") / s("tasks") else 0.0),
          "executor.run_s" -> s("run_ms") / 1e3 / n,
          "executor.cpu_s" -> cpuS / n,
          "executor.gc_s" -> s("gc_ms") / 1e3 / n,
          "executor.shuffle_read_mb" -> s("shuffle_read_b") / 1048576.0 / n,
          "executor.shuffle_write_mb" -> s("shuffle_write_b") / 1048576.0 / n,
          "executor.spill_mb" -> s("spill_b") / 1048576.0 / n,
          "executor.peak_exec_mem_mb" -> s("peak_exec_mem_b") / 1048576.0,
          "executor.input_mb" -> s("input_b") / 1048576.0 / n,
          "executor.output_mb" -> s("output_b") / 1048576.0 / n,
          "executor.run_over_cpu" -> (if (cpuS > 0) s("run_ms") / 1e3 / cpuS else 0.0),
          "jvm.gc_ms" -> s("jvm_gc_ms") / n,
          "jvm.process_cpu_s" -> s("jvm_cpu_ns") / 1e9 / n,
          "jvm.heap_after_gc_mb" -> Jvm.heapAfterGcMb,
          "trace.overhead_pct" -> (if (untraced.nonEmpty && traced.nonEmpty)
            (median(traced.map(_.ms)) / median(untraced.map(_.ms)) - 1) * 100 else 0.0),
          "trace.op_self_ms" -> median(trace.selfMs.collect { case (sp, self) if sp.name == "op" => self }),
          "trace.spans_per_op" -> trace.all.size / n,
          "host.contended" -> (if (contended) 1.0 else 0.0))
        val specific = w.layers(all, probe, trace)
        Metrics.perLayer.map { case (k, unit) =>
          k -> (specific.getOrElse(k, common.getOrElse(k, 0.0)) -> unit)
        }.toMap
      }

    w.close()
    phase("finish")
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "threads" -> Threads,
      "load1_at_start" -> loadAtStart, "load1_before" -> win.load1Before,
      "load1_after" -> win.load1After, "run_over_cpu" -> win.runOverCpu, "steal_frac" -> win.steal,
      "contended_over" -> Map("run_over_cpu" -> ContendedRunOverCpu, "steal_frac" -> ContendedSteal),
      "contended" -> contended, "samples" -> all.size, "setup_s_each" -> setupS,
      "measured_s" -> win.seconds, "phases_s" -> phases, "cpu_ms_per_op" -> win.cpuMs / math.max(1, all.size),
      "ops_ms" -> all.map(op => math.round(op.ms)),
      "by_kind" -> all.groupBy(_.kind).map { case (k, v) =>
        k -> Map("n" -> v.size, "p50_ms" -> median(v.map(_.ms)))
      })
    if (o.trace) {
      val t0 = all.headOption.map(_.startNs).getOrElse(0L)
      Files.write(o.out.resolveSibling(o.out.getFileName.toString + ".spans.jsonl"),
        trace.jsonLines(t0).toSeq.asJava)
    }
    val result = Map(
      "correct" -> failedIds.isEmpty,
      "attempted" -> math.max(1, all.size),
      "failed" -> (if (all.isEmpty) 1 else failedIds.size),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "record" -> record)
    Files.writeString(o.out, Json.mapper.writeValueAsString(result))
  }
}

/** Declared per-layer metrics and units (the `per_layer` list of
  * BENCHMARK.json; the runner checks the two agree). Metrics of a layer
  * a workload does not call read 0 on that workload. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "sources.stage_ms" -> "ms", "sources.latest_offset_ms" -> "ms", "sources.rows_in" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.store_write_ms" -> "ms",
    "streaming.snapshot_write_ms" -> "ms", "streaming.fold_other_ms" -> "ms",
    "streaming.fanout_ms" -> "ms", "streaming.rejected_rows" -> "count",
    "streaming.late_over_early" -> "ratio",
    "ops.latest_ms" -> "ms", "ops.history_ms" -> "ms", "ops.doughnut_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "catalyst.codegen_compiles" -> "count",
    "scan.files_read" -> "count", "scan.metadata_ms" -> "ms", "scan.rows_per_result" -> "ratio",
    "store.files" -> "count", "store.bytes" -> "bytes",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.delay_ms" -> "ms",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.shuffle_read_mb" -> "MB", "executor.shuffle_write_mb" -> "MB",
    "executor.spill_mb" -> "MB", "executor.peak_exec_mem_mb" -> "MB",
    "executor.input_mb" -> "MB", "executor.output_mb" -> "MB", "executor.run_over_cpu" -> "ratio",
    "dedup.near_dup_ms" -> "ms", "dedup.keep_list_ms" -> "ms", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "sim.knn_edges_ms" -> "ms", "sim.cos_pairs_ms" -> "ms",
    "text.score_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.process_cpu_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.op_self_ms" -> "ms", "trace.spans_per_op" -> "count",
    "host.contended" -> "flag")

  /** Bytes and files under a directory tree (data files only). */
  def treeSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
}
