package graft

import graft.ops.TopK
import org.apache.spark.sql.functions._

/** Top-K+Other semantics lifted from the reference's doughnut prep
  * (frontend/src/App.js:97-142): <K keys → NO "Other" row; sum
  * preservation; percent-of-total sums to ~100. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def agg(n: Int) =
    (1 to n).map(i => (i.toString, i * 10.0)).toDF("bucket", "rev")

  test("fewer than k keys → no Other row") {
    val out = TopK.topKPlusOther(agg(5), "bucket", "rev", 7)
    assert(out.count() == 5)
    assert(!out.select("bucket").as[String].collect().contains("Other"))
  }

  test("exactly k keys → no Other row") {
    assert(TopK.topKPlusOther(agg(7), "bucket", "rev", 7).count() == 7)
  }

  test("k+m keys → k rows + Other preserving the grand total") {
    val out = TopK.topKPlusOther(agg(10), "bucket", "rev", 7)
    assert(out.count() == 8)
    val total = out.agg(sum("rev")).as[Double].head()
    assert(math.abs(total - (1 to 10).map(_ * 10.0).sum) < 1e-9)
    val other = out.filter($"bucket" === "Other").select("rev").as[Double].head()
    // top-7 by value desc = 10..4 → Other = 1+2+3 = 60
    assert(math.abs(other - 60.0) < 1e-9)
  }

  test("percent-of-total sums to 100 within rounding") {
    val out = TopK.withPercentOfTotal(agg(10), "rev")
    val s = out.agg(sum("pct")).as[Double].head()
    assert(math.abs(s - 100.0) < 0.1)
  }

  test("topWithOther scans once and caches nothing: ≤ 2 jobs over 100 " +
    "rows, the session's cache stays empty") {
    spark.catalog.clearCache()
    val (out, jobs) = jobsDuring(Graft.topWithOther(agg(100), "bucket", "rev").collect())
    assert(out.length == 8)
    // a looping caller that never unpersists must not grow the cache
    assert(spark.sharedState.cacheManager.isEmpty, "topWithOther left a cached plan")
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("topKPlusOther names a key column that is not a string and a " +
    "value column that is not a double") {
    val byKey = intercept[IllegalArgumentException](
      TopK.topKPlusOther(agg(3).withColumn("bucket", $"bucket".cast("int")), "bucket", "rev", 2))
    assert(byKey.getMessage.contains("key column bucket must be StringType"), byKey.getMessage)
    val byValue = intercept[IllegalArgumentException](
      Graft.topWithOther(agg(3).withColumn("rev", $"rev".cast("long")), "bucket", "rev"))
    assert(byValue.getMessage.contains("value column rev must be DoubleType"), byValue.getMessage)
  }

  test("topNPerGroup keeps n rows per group in order") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 9.0))
      .toDF("g", "v")
    val out = TopK.topNPerGroup(df, Seq("g"), 2, col("v").desc)
      .select("g", "v").as[(String, Double)].collect().toSet
    assert(out == Set(("a", 3.0), ("a", 2.0), ("b", 9.0)))
  }
}
