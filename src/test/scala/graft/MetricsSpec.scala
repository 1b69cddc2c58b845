package graft

/** `graft.Metrics` on the shared test session: a snapshot difference is
  * the account of exactly what ran in between. */
class MetricsSpec extends SparkSpec {

  test("a difference around one aggregate counts its jobs, tasks, CPU and " +
    "Catalyst phases") {
    val m = TestSession.metrics
    val s0 = m.snapshot()
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
    val d = m.since(s0)
    // adaptive execution runs the partial-sum map stage as its own job,
    // then the final sum: two jobs, two stages, 4 + 1 tasks
    assert(d.jobs == 2L, d)
    assert(d.stages == 2L, d)
    assert(d.tasks >= 4L, d)
    assert(d.cpuS > 0.0, d)
    // the partial sum of four partitions is shuffled to the final one
    assert(d.shuffleB > 0L, d)
    assert(d.analysisMs + d.optimizationMs + d.planningMs > 0L, d)
  }

  test("a difference around a block that runs no action is all zero") {
    val m = TestSession.metrics
    val s0 = m.snapshot()
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)") // built, never run
    val d = m.since(s0)
    assert(d == Metrics.Snapshot(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      0L, 0L, 0L, s0.lastStage), d)
  }
}
