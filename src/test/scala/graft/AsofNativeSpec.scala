package graft

import graft.ops.Latest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native as-of join (graft.plans.AsofJoin/AsofJoinExec) — semantics
  * pinned row-for-row to the union+window form (Latest.asOfJoin), plus
  * the edge cases a merge implementation can get wrong: iterator buffer
  * reuse under string keys, self-derived probe sides (shared exprIds),
  * null keys/times on both sides, and ties at equal fact ts. */
class AsofNativeSpec extends SparkSpec {

  import spark.implicits._

  private def facts(rows: Seq[(String, Long, Long, Double)]): DataFrame =
    rows.toDF("k", "ts", "tb", "v")

  private def probes(rows: Seq[(String, Long)]): DataFrame =
    rows.toDF("k", "pts")

  private def run(f: DataFrame, p: DataFrame): Seq[(String, Long, Option[Double])] =
    Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb")
      .select(col("k"), col("pts"), col("asof_v"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(t => (t._1, t._2))

  test("merge semantics: latest fact at or before each probe, ties by max tiebreak") {
    val f = facts(Seq(
      ("a", 10L, 1L, 1.0), ("a", 20L, 2L, 2.0), ("a", 20L, 3L, 2.5),
      ("a", 30L, 4L, 3.0),
      ("b", 15L, 5L, 9.0)))
    val p = probes(Seq(
      ("a", 5L),   // before first fact -> null
      ("a", 20L),  // inclusive, tie at ts=20 -> tb=3 wins -> 2.5
      ("a", 25L),  // between -> 2.5
      ("a", 99L),  // after last -> 3.0
      ("b", 15L),  // exact hit
      ("c", 50L))) // key with no facts -> null
    assert(run(f, p) === Seq(
      ("a", 5L, None), ("a", 20L, Some(2.5)), ("a", 25L, Some(2.5)),
      ("a", 99L, Some(3.0)),
      ("b", 15L, Some(9.0)),
      ("c", 50L, None)))
  }

  test("tolerance: a candidate older than probe − tol emits null but " +
    "stays buffered; gap == tol matches (inclusive); both forms agree") {
    val f = facts(Seq(
      ("a", 10L, 1L, 1.0), ("a", 30L, 2L, 3.0),
      ("b", 15L, 3L, 9.0)))
    val p = probes(Seq(
      ("a", 10L),  // gap 0 -> 1.0
      ("a", 15L),  // gap 5 == tol -> inclusive match 1.0
      ("a", 16L),  // gap 6 > tol -> null (fact 10 buffered, out of tol)
      ("a", 31L),  // newer fact 30 re-enters tol -> 3.0
      ("b", 25L),  // gap 10 > tol -> null
      ("c", 50L))) // no facts -> null
    val want = Seq(
      ("a", 10L, Some(1.0)), ("a", 15L, Some(1.0)), ("a", 16L, None),
      ("a", 31L, Some(3.0)), ("b", 25L, None), ("c", 50L, None))
    val gotNative = Latest.asOfJoinNativeValues(f, p, "k", "ts", "pts",
        Seq("v"), "tb", toleranceMicros = Some(5L))
      .select(col("k"), col("pts"), col("asof_v"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(t => (t._1, t._2))
    assert(gotNative === want, "native emit-check tolerance")
    val gotWindow = Latest.asOfJoinTol(f, p, "k", "ts", "pts", "v", "tb",
        tolMicros = 5L)
      .select(col("k"), col("pts"), col("asof_v"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(t => (t._1, t._2))
    assert(gotWindow === want, "union+window tolerance")
  }

  test("null keys and null times match nothing, on either side") {
    val f = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 10L, 1L, 1.0),
        org.apache.spark.sql.Row(null, 5L, 2L, 7.0),  // null fact key
        org.apache.spark.sql.Row("a", null, 3L, 8.0)  // null fact ts
      )),
      StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
        StructField("tb", LongType), StructField("v", DoubleType))))
    val p = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 50L),
        org.apache.spark.sql.Row(null, 50L),  // null probe key -> null
        org.apache.spark.sql.Row("a", null)   // null probe ts -> null
      )),
      StructType(Seq(StructField("k", StringType), StructField("pts", LongType))))
    val out = Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb")
      .collect().toSeq
      .map(r => (Option(r.get(0)), Option(r.get(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSet === Set(
      (Some("a"), Some(50L), Some(1.0)),
      (None, Some(50L), None),
      (Some("a"), None, None)))
  }

  test("parity with the union+window form on sf0.001 events (incl. self-derived probes)") {
    val e = Tables.events(spark, sf0001)
    val probeTs = Seq("2024-01-07", "2024-01-14", "2024-01-21", "2024-01-28")
    // probes derive from the SAME scan as facts — the shared-exprId case
    val p = e.select(col("user_id")).distinct()
      .crossJoin(spark.range(1).select(
        explode(array(probeTs.map(d => to_timestamp_ntz(lit(d))): _*)).as("probe_ts")))
    val native = Latest.asOfJoinNative(e, p, "user_id", "ts", "probe_ts", "value", "event_id")
      .orderBy(col("user_id").asc, col("probe_ts").asc).collect().toSeq
    val window = Latest.asOfJoin(e, p, "user_id", "ts", "probe_ts", "value", "event_id")
      .orderBy(col("user_id").asc, col("probe_ts").asc).collect().toSeq
    assert(native.nonEmpty)
    assert(native === window)
    // the facade entry points are the same operators
    val viaFacade = Graft.asOfLookupNative(e, p, "user_id", "ts", "probe_ts",
        Seq("value"), "event_id")
      .orderBy(col("user_id").asc, col("probe_ts").asc).collect().toSeq
    assert(viaFacade === native)
    assert(Graft.asOfLookup(e, p, "user_id", "ts", "probe_ts", "value", "event_id")
      .orderBy(col("user_id").asc, col("probe_ts").asc).collect().toSeq === window)
  }

  test("plan: AsofJoin exec node, one exchange per side, no join re-scan") {
    val f = facts(Seq(("a", 10L, 1L, 1.0)))
    val p = probes(Seq(("a", 20L)))
    val df = Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb")
    df.count() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("AsofJoin"), plan)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$plan")
  }

  test("multi-value as-of: all asof_ columns come from the SAME matched fact row") {
    val f = Seq(("a", 10L, 1L, 1.0, "x1"), ("a", 20L, 2L, 2.0, "x2"),
      ("a", 20L, 3L, 2.5, "x3"))
      .toDF("k", "ts", "tb", "v", "tag")
    val p = probes(Seq(("a", 15L), ("a", 25L), ("a", 5L)))
    val got = Latest.asOfJoinNativeValues(f, p, "k", "ts", "pts",
      Seq("v", "tag"), "tb")
      .select(col("pts"), col("asof_v"), col("asof_tag"))
      .collect().toSeq
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        Option(r.getString(2))))
      .sortBy(_._1)
    // ts=20 tie resolves to tb=3 for BOTH columns — never v from one row
    // and tag from another
    assert(got === Seq((5L, None, None), (15L, Some(1.0), Some("x1")),
      (25L, Some(2.5), Some("x3"))))
  }

  test("matched fact's own NULL value is emitted as NULL by BOTH forms " +
    "(no fallback to an earlier non-null fact)") {
    val f = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 10L, 1L, java.lang.Double.valueOf(1.0)),
        org.apache.spark.sql.Row("a", 20L, 2L, null) // the matched row at t>=20
      )),
      StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
        StructField("tb", LongType), StructField("v", DoubleType))))
    val p = probes(Seq(("a", 15L), ("a", 25L)))
    def canon(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(t => (t._1, t._2))
    val native = canon(Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb"))
    val window = canon(Latest.asOfJoin(f, p, "k", "ts", "pts", "v", "tb"))
    // t=15 matches the ts=10 fact (1.0); t=25 matches ts=20 whose value
    // IS null — the correlated-subquery semantics, not last-non-null
    assert(native === Seq(("a", 15L, Some(1.0)), ("a", 25L, None)))
    assert(window === native)
  }

  test("NULL tie-break wins an equal-ts tie identically in both forms") {
    val f = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 20L, java.lang.Long.valueOf(5L), java.lang.Double.valueOf(2.0)),
        org.apache.spark.sql.Row("a", 20L, null, java.lang.Double.valueOf(9.0)) // null tb sorts LAST -> wins
      )),
      StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
        StructField("tb", LongType), StructField("v", DoubleType))))
    val p = probes(Seq(("a", 20L)))
    val native = Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb")
      .select("asof_v").collect().map(_.getDouble(0)).toSeq
    val window = Latest.asOfJoin(f, p, "k", "ts", "pts", "v", "tb")
      .select("asof_v").collect().map(_.getDouble(0)).toSeq
    assert(native === Seq(9.0))
    assert(window === native)
  }

  test("extra probe columns pass through the native form untouched") {
    val f = facts(Seq(("a", 10L, 1L, 1.0)))
    val p = Seq(("a", 20L, "ctx1"), ("a", 5L, "ctx2")).toDF("k", "pts", "note")
    val got = Latest.asOfJoinNative(f, p, "k", "ts", "pts", "v", "tb")
      .select(col("pts"), col("note"), col("asof_v"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(got === Seq((5L, "ctx2", None), (20L, "ctx1", Some(1.0))))
  }

  test("empty sides: no facts -> all-null as-of; no probes -> empty output") {
    val noFacts = facts(Seq.empty)
    val p = probes(Seq(("a", 10L), ("b", 20L)))
    assert(run(noFacts, p) === Seq(("a", 10L, None), ("b", 20L, None)))
    val f = facts(Seq(("a", 10L, 1L, 1.0)))
    assert(run(f, probes(Seq.empty)) === Seq.empty)
  }

  test("co-bucketed fact and probe tables as-of join with ZERO shuffle exchanges") {
    // the headline scale claim of the native exec: requiredChildDistribution
    // is a REQUIREMENT EnsureRequirements can satisfy from a bucketed scan's
    // existing HashPartitioning — facts bucketed by key join with no
    // exchange at all (a local sort may still be planted; sorts are
    // per-partition and cheap, exchanges are the cluster-wide cost)
    Seq("asof_facts_b", "asof_probes_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (loc.exists()) rm(loc)
    }
    facts((0 until 200).map(i => (s"k${i % 20}", (i / 20) * 10L, i.toLong, i.toDouble)))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k", "ts")
      .saveAsTable("asof_facts_b")
    probes((0 until 40).map(i => (s"k${i % 20}", 35L)))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("asof_probes_b")
    val df = Latest.asOfJoinNative(spark.table("asof_facts_b"),
      spark.table("asof_probes_b"), "k", "ts", "pts", "v", "tb")
    val n = df.count()
    assert(n === 40)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("AsofJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"expected ZERO exchanges over co-bucketed sides:\n$plan")
    // and the merge result is right: probe t=35 sees the ts<=35 max (30)
    val got = df.select(col("k"), col("asof_v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    (0 until 20).foreach { k =>
      // facts for key k${k}: ts=0,10,...,90 with v = k + 20*(ts/10); at
      // t=35 the matched fact is ts=30 -> v = k + 60
      assert(got(s"k$k") === (k + 60).toDouble, s"k$k -> ${got(s"k$k")}")
    }
  }

  test("string keys survive iterator buffer reuse across many keys/partitions") {
    // enough distinct keys that per-partition merges cross many key
    // boundaries; values chosen so a stale-buffer key comparison would
    // misattribute facts between adjacent keys
    val f = facts((0 until 500).flatMap(i =>
      Seq((f"k$i%03d", 10L, i.toLong, i.toDouble),
          (f"k$i%03d", 20L, 1000L + i, 100.0 + i))))
    val p = probes((0 until 500).map(i => (f"k$i%03d", 15L)) ++
      (0 until 500).map(i => (f"k$i%03d", 25L)))
    val got = run(f, p)
    (0 until 500).foreach { i =>
      assert(got.contains((f"k$i%03d", 15L, Some(i.toDouble))))
      assert(got.contains((f"k$i%03d", 25L, Some(100.0 + i))))
    }
  }
}
