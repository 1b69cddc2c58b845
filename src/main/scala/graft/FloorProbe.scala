package graft

/** Diagnostic main: decompose the per-line bench floor for a set of
  * cheap queries — how much of a ~0.3 s line is plan construction,
  * analysis, optimization/physical planning, execution, listener-bus
  * drain, and storage sweep. Drives the round-14 "chip the floor" work
  * with numbers instead of guesses. */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_winnow", "q_window_lag", "q_text_quality", "q_window_rank",
        "q_pii_redact", "q_distinct_keys", "q_scalar_funcs", "q_json_extract")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    spark.range(1000).selectExpr("sum(id)").collect()
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: not found")
        case Some(fn) =>
          // one discarded cold pass (codegen) then measure 3 warm passes
          fn(spark, sfDir).count()
          val phases = (1 to 3).map { _ =>
            var t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val tBuild = ms(t0)
            // the query count() runs is df's global count aggregate: build
            // it once, so plan and exec time the one QueryExecution that runs
            t0 = System.nanoTime()
            val counted = df.groupBy().count()
            counted.queryExecution.assertAnalyzed()
            val tAnalyze = ms(t0)
            t0 = System.nanoTime()
            counted.queryExecution.executedPlan
            val tPlan = ms(t0)
            t0 = System.nanoTime()
            counted.collect()
            val tExec = ms(t0)
            t0 = System.nanoTime()
            org.apache.spark.graft.SparkInternals.flushListenerBus(spark.sparkContext)
            val tFlush = ms(t0)
            t0 = System.nanoTime()
            Harness.sweepStorage(spark)
            val tSweep = ms(t0)
            (tBuild, tAnalyze, tPlan, tExec, tFlush, tSweep)
          }
          def med(f: ((Double, Double, Double, Double, Double, Double)) => Double) =
            phases.map(f).sorted.apply(1)
          println(f"$name%-18s build=${med(_._1)}%6.1f analyze=${med(_._2)}%6.1f " +
            f"plan=${med(_._3)}%6.1f exec=${med(_._4)}%7.1f flush=${med(_._5)}%5.1f " +
            f"sweep=${med(_._6)}%5.1f ms")
      }
    }
    spark.stop()
  }
}
