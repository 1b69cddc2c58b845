package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named loaders for the driver-generated parquet testdata
  * (TESTDATA.md / FIXTURES.md §B). Parquet is self-describing; no schema
  * pinning needed — Catalyst prunes columns + pushes filters into the scan.
  *
  * Timestamp discipline: the testdata is timezone-naive parquet, which
  * Spark 4 reads as TIMESTAMP_NTZ — except `events.ts`, which is
  * nanosecond-precision and only readable as long ns via
  * `spark.sql.legacy.parquet.nanosAsLong`. We normalize ALL timestamps to
  * TIMESTAMP_NTZ here (session tz is pinned UTC, so NTZ == the instant),
  * keeping engine output bit-compatible with the DuckDB oracle's naive
  * timestamps.
  *
  * At cluster scale these would be `spark.read.table(...)` over a
  * partitioned catalog table; the `dir` indirection keeps the query
  * library storage-agnostic.
  */
object Tables {

  /** Inferred-schema memo per (dir, table): `spark.read.parquet` pays
    * ~85 ms of footer-reading schema inference on EVERY call (measured,
    * local[32]) — at 4 runs x ~590 bench lines that inference alone was
    * the largest single component of the per-line floor. An explicit
    * schema cuts the load to ~12 ms and returns a FRESH relation with
    * fresh attribute ids each call, so (unlike memoizing the DataFrame
    * itself) repeated loads can never trip self-join ambiguity.
    * Schemas are plain structs, session-free. Staleness contract as
    * graft.store.Memo: regenerating the files under `dir` with a
    * DIFFERENT schema mid-JVM would serve the old schema — the driver
    * runs one harness JVM per data generation (documented). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val k = (dir, name)
    val cached = schemaCache.get(k)
    if (cached != null) spark.read.schema(cached).parquet(s"$dir/$name.parquet")
    else {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      schemaCache.putIfAbsent(k, df.schema)
      df
    }
  }

  /** events.ts has shipped as BOTH µs-precision naive parquet (reads
    * directly as TIMESTAMP_NTZ) and TIMESTAMP(NANOS) parquet (only
    * readable as long ns via `spark.sql.legacy.parquet.nanosAsLong`,
    * truncated here to µs — lossless, the data is µs-precision; integer
    * `div`, not double division: ns-since-epoch exceeds 2^53). Dispatch
    * on the read schema so either generation of the testdata loads; the
    * conf is harmless for non-nano files. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case org.apache.spark.sql.types.TimestampNTZType => df
      // fail LOUDLY on anything else (notably TIMESTAMP_LTZ, i.e. an
      // isAdjustedToUTC=true generation): a blanket cast would be
      // session-timezone dependent and could silently shift every
      // timestamp in a third parquet generation.
      case other => throw new IllegalStateException(
        s"events.ts: expected int64-nanos or TIMESTAMP_NTZ parquet, got " +
          s"$other — add an explicit, timezone-pinned dispatch arm for " +
          "this generation rather than casting blindly")
    }
  }
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  // orders.o_orderdate / lineitem.l_shipdate are ms-precision naive parquet
  // → already TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default.
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
