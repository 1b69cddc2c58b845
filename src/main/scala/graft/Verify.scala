package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q_a,q_b restricts the dump to a subset for
    // local iteration (the driver never sets it — its runs stay full);
    // oracle_sql.json is filtered to match so check.py agrees.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // stale-output guard: remove any previous run's result BEFORE running
    // the query, so a query that now throws yields a missing-output FAIL
    // downstream instead of a silent pass against last run's parquet
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        // Fs.deleteRecursively throws if the stale dir survives, landing
        // in this catch — the query then has MISSING output and fails
        // downstream, rather than silently passing on last run's parquet
        val prev = new java.io.File(s"$outDir/$name")
        if (prev.exists()) Fs.deleteRecursively(prev)
        val df = fn(spark, sfDir)
        // Session tz is UTC, so LTZ→NTZ is wall-clock identity; writing
        // NTZ makes the result parquet carry the same timezone-naive
        // timestamps DuckDB produces for the oracle SQL.
        val ntz = df.schema.fields.filter(_.dataType ==
          org.apache.spark.sql.types.TimestampType).foldLeft(df) {
          (d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // storage sweep between queries: per-query persists/checkpoints are
      // dead after the dump, and 571 queries of dead blocks in one
      // session is real pressure; shared chains are parquet-backed
      // (graft.store.Memo) so dropping every cached block is safe
      Harness.sweepStorage(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
