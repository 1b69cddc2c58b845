package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

/** Diagnostic main: run one SparkEntry query (cold, then warm) and print
  * a per-stage task-metric table — executorRunTime vs deserialize vs GC
  * vs scheduler-visible task counts. This is how blocked-thread task-s
  * inflation (threads parked on a shared codegen compile or an
  * over-partitioned tiny frame) is ATTRIBUTED rather than guessed: wall
  * alone cannot tell 20 s of work from 20 s of 32 threads waiting on one
  * Janino compile.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StageProbe q_pagerank_int
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_pagerank_int")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    case class St(var n: Int = 0, var run: Long = 0, var deser: Long = 0,
                  var gc: Long = 0, var cpu: Long = 0, var name: String = "")
    val stages = scala.collection.concurrent.TrieMap.empty[Int, St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val s = stages.getOrElseUpdate(te.stageId, St())
          s.n += 1; s.run += m.executorRunTime
          s.deser += m.executorDeserializeTime; s.gc += m.jvmGCTime
          s.cpu += m.executorCpuTime / 1000000L
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val s = stages.getOrElseUpdate(sc.stageInfo.stageId, St())
        s.name = sc.stageInfo.name.takeWhile(_ != '\n').take(60)
      }
    })
    def runOnce(tag: String): Unit = {
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      org.apache.spark.graft.SparkInternals.flushListenerBus(spark.sparkContext)
      val wall = (System.nanoTime() - t0) / 1e9
      val tot = stages.values
      println(f"== $tag wall=$wall%.2f s stages=${stages.size} tasks=${tot.map(_.n).sum} " +
        f"run=${tot.map(_.run).sum / 1e3}%.1f cpu=${tot.map(_.cpu).sum / 1e3}%.1f " +
        f"deser=${tot.map(_.deser).sum / 1e3}%.1f gc=${tot.map(_.gc).sum / 1e3}%.1f (task-s)")
      stages.toSeq.sortBy(-_._2.run).take(12).foreach { case (id, s) =>
        println(f"  stage $id%4d n=${s.n}%3d run=${s.run / 1e3}%7.2f cpu=${s.cpu / 1e3}%7.2f " +
          f"deser=${s.deser / 1e3}%6.2f gc=${s.gc / 1e3}%5.2f  ${s.name}")
      }
    }
    runOnce("cold")
    Harness.sweepStorage(spark)
    runOnce("warm")
    Harness.sweepStorage(spark)
    runOnce("warm2")
    spark.stop()
  }
}
