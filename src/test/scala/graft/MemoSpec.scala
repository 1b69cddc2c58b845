package graft

import graft.queries.Chains
import graft.store.Memo
import org.apache.spark.sql.functions._

/** The memo store's contract (graft.store.Memo) and the chain registry's
  * resample contract (graft.queries.Chains). */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def builds(name: String): Long =
    Memo.stats(spark).find(_.name == name).map(_.builds).getOrElse(0L)

  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.SparkInternals.flushListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.SparkInternals.flushListenerBus(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  private def storeDirs(): Set[String] =
    Option(Memo.root.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  test("a hit returns the eq frame and starts zero Spark jobs; a fresh " +
    "table read hits the entry the first read built") {
    val first = Memo(Tables.events(spark, sf0001), "memospec_hit") {
      Tables.events(spark, sf0001).groupBy(col("user_id")).count()
    }
    assert(builds("memospec_hit") == 1L)
    val (again, jobs) = jobsDuring {
      Memo(Tables.events(spark, sf0001), "memospec_hit") {
        fail("a hit must not run the build")
      }
    }
    assert(again eq first)
    assert(jobs == 0, s"a memo hit started $jobs Spark jobs")
    val st = Memo.stats(spark).find(_.name == "memospec_hit").get
    assert(st.builds == 1L && st.hits == 1L && st.bytes > 0L)
  }

  test("a different name or a different input misses") {
    val ev = Tables.events(spark, sf0001)
    val a = Memo(ev, "memospec_args|k=1")(ev.select(col("user_id")).distinct())
    val b = Memo(ev, "memospec_args|k=2")(ev.select(col("user_id")).distinct())
    val c = Memo(ev.filter(col("user_id") > 0), "memospec_args|k=1")(
      ev.select(col("user_id")).distinct())
    assert((a ne b) && (a ne c) && (b ne c))
    assert(builds("memospec_args|k=1") == 2L && builds("memospec_args|k=2") == 1L)
  }

  test("churn under one name never evicts another name's entry; each " +
    "name keeps its PerName newest entries") {
    val keep = Memo(spark.range(7).toDF("id"), "memospec_keep")(
      spark.range(7).toDF("id"))
    // one stored frame serves every churn build (a store-backed build is
    // registered as is), so 100 entries cost one write
    val stored = Memo.write(spark.range(3).toDF("id"))
    (1 to 100).foreach { i =>
      Memo(spark.range(1000 + i).toDF("id"), "memospec_churn")(stored)
    }
    val churn = Memo.stats(spark).find(_.name == "memospec_churn").get
    assert(churn.builds == 100L)
    assert(churn.entries == Memo.PerName && churn.peak == Memo.PerName)
    assert(Memo(spark.range(7).toDF("id"), "memospec_keep")(
      fail("the keep entry was evicted")) eq keep)
    // the oldest churn entry is gone, the newest is still there
    assert(Memo(spark.range(1100).toDF("id"), "memospec_churn")(
      fail("the newest churn entry was evicted")) eq stored)
    Memo(spark.range(1001).toDF("id"), "memospec_churn")(stored)
    assert(builds("memospec_churn") == 101L)
  }

  test("a build that returns a bucketed store table is written once") {
    val raw = (1L to 500L).map(i => (i % 13L, i)).toDF("src", "dst")
    val before = storeDirs()
    val got = Memo(raw, "memospec_bucketed") {
      Memo.writeBucketed(raw, "src", 2)
    }
    val added = storeDirs() -- before
    assert(added.size == 1 && added.head.startsWith("b"),
      s"expected exactly the one bucketed table dir, got $added")
    assert(got.count() == 500L)
    assert(Memo.stats(spark).find(_.name == "memospec_bucketed").get.bytes > 0L)
  }

  test("for every registered chain, the resample leaves the stored entry " +
    "untouched and never returns it") {
    assert(Chains.all.map(_.name).distinct.size == 14)
    Chains.all.foreach { c =>
      val entry = c(spark, sf0001)
      val n = builds(c.name)
      val files = entry.inputFiles.toSet
      val again = c.rebuild(spark, sf0001)
      assert(again ne entry, c.name)
      assert(again.inputFiles.toSet.intersect(files).isEmpty,
        s"${c.name}: the rebuild reads the chain's own stored files")
      again.write.format("noop").mode("overwrite").save()
      assert(c(spark, sf0001) eq entry, s"${c.name}: entry replaced")
      assert(builds(c.name) == n, s"${c.name}: the resample stored a build")
    }
  }
}
