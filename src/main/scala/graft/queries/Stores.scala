package graft.queries

import graft.Tables
import graft.sources.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partitioned-store queries: the §7.4.7 layout story driven END TO END —
  * the event log is written through `Sinks.appendDatePartitioned` into a
  * date-partitioned parquet store, and the history query reads it back
  * with a partition-pruning plan (PartitionFilters on `event_date`,
  * row-level PushedFilters on the key — pinned in PlanSpec). This is the
  * difference between scanning a day and a decade at 100 TB: the
  * reference re-scans its whole unpartitioned PG table per request
  * (`api/server.js:90-143`).
  */
object Stores {

  private val lock = new Object

  /** Cheap content fingerprint of a source parquet file/dir (name +
    * mtime + length over the tree): keys the store path so regenerated
    * testdata can never be served from a stale store built by an earlier
    * run. Children fold through a polynomial hash over the NAME-SORTED
    * listing — an XOR fold would cancel identical sibling fingerprints
    * (two part files with equal mtime+length), and listFiles() order is
    * not stable across filesystems. */
  private def fingerprint(f: java.io.File): Long = {
    val own = f.getName.hashCode.toLong * 1000003L ^
      f.lastModified() ^ java.lang.Long.rotateLeft(f.length(), 31)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .foldLeft(own)((acc, c) => acc * 6364136223846793005L + fingerprint(c))
    else own
  }

  /** Store roots kept per source table: the three driver SF dirs plus a
    * synthetic scale dir can all be live in one round, so keep-latest-1
    * would thrash; a 5th fingerprint only ever means regenerated
    * testdata, whose old roots are exactly the garbage to reap. */
  private val KeepRootsPerTable = 4

  /** Reap stranded store roots for `srcTable`: keep the
    * [[KeepRootsPerTable]] most-recently-touched `graft_store_<table>_*`
    * roots, delete the rest, and delete any legacy un-tabled
    * `graft_store_<16 hex>` root (the pre-round-13 naming — those can
    * no longer be matched to a source, so they could only strand).
    * Safe under the same single-writer assumption as the builds: no
    * OTHER live JVM may hold a registered LOCATION into a reaped root
    * (the driver runs one harness JVM at a time; the lock covers
    * threads within this one). */
  private[graft] def reapStaleRoots(srcTable: String): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val legacy = "graft_store_[0-9a-f]{16}".r
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (legacy.pattern.matcher(f.getName).matches())
        graft.Fs.deleteRecursively(f)
    }
    val mine = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"graft_store_${srcTable}_"))
      .sortBy(-_.lastModified())
    mine.drop(KeepRootsPerTable).foreach(graft.Fs.deleteRecursively)
  }

  private def storeRoot(src: java.io.File, srcTable: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      f"graft_store_${srcTable}_${fingerprint(src)}%016x")

  /** Build (once) a derived store for `dir` and return its path.
    * Idempotent per (testdata fingerprint): a per-store `_OK` marker
    * commits a finished build — a torn previous attempt (no marker) is
    * wiped and rebuilt, never appended into (append-mode double-write is
    * exactly the duplication hazard the marker exists to prevent).
    * Serialized on a JVM-wide lock; the driver runs verify/bench
    * single-threaded per JVM, and cross-JVM runs are separated in time.
    * Every build touches its root's mtime and reaps stale siblings
    * (regenerated testdata otherwise strands whole store trees). */
  private def materialized(dir: String, name: String,
                           srcTable: String = "events")
                          (build: String => Unit): String = lock.synchronized {
    val src = new java.io.File(dir, s"$srcTable.parquet")
    val root = storeRoot(src, srcTable)
    val out = new java.io.File(root, name)
    val ok = new java.io.File(root, s"_OK_$name")
    if (!ok.exists()) {
      if (out.exists()) graft.Fs.deleteRecursively(out)
      root.mkdirs()
      build(out.getPath)
      ok.createNewFile(): Unit
      reapStaleRoots(srcTable)
    }
    root.setLastModified(System.currentTimeMillis()): Unit
    out.getPath
  }

  /** A BUCKETED store, registered in the session catalog (bucket layout
    * lives in table metadata, not the files alone — `spark.read.parquet`
    * on the same directory would see plain files and shuffle anyway).
    * The table name carries the source fingerprint, so a session that
    * outlives a testdata regeneration registers a fresh table instead of
    * serving the stale store. A store directory left by an EARLIER JVM
    * (files on disk, catalog empty — the in-memory catalog dies with its
    * session) is re-registered via `CREATE TABLE ... CLUSTERED BY ...
    * LOCATION`: Spark recovers each file's bucket id from the bucketed
    * file-name scheme, so the layout survives the JVM boundary without a
    * rewrite. At 100 TB this IS the point of bucketing: pay the shuffle
    * once at write time, then every custkey join for months reads
    * co-located buckets.
    */
  private def bucketedTable(s: SparkSession, dir: String, srcTable: String,
                            bucketCol: String, buckets: Int): String =
    lock.synchronized {
      val src = new java.io.File(dir, s"$srcTable.parquet")
      val fp = f"${fingerprint(src)}%016x"
      val tbl = s"g_${srcTable}_b$fp"
      val root = storeRoot(src, srcTable)
      if (!s.catalog.tableExists(tbl)) {
        val df = Tables.load(s, dir, srcTable)
        val out = new java.io.File(root, s"${srcTable}_bucketed")
        val ok = new java.io.File(root, s"_OK_${srcTable}_bucketed")
        if (ok.exists()) {
          s.sql(s"""CREATE TABLE $tbl (${df.schema.toDDL}) USING PARQUET
                   |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
                   |INTO $buckets BUCKETS LOCATION '${out.getPath}'""".stripMargin)
        } else {
          if (out.exists()) graft.Fs.deleteRecursively(out)
          root.mkdirs()
          df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
            .option("path", out.getPath).mode("overwrite").saveAsTable(tbl)
          ok.createNewFile(): Unit
          reapStaleRoots(srcTable)
        }
      }
      // Touch on EVERY access, not only on first registration (ADVICE,
      // round 14): reapStaleRoots ranks roots by mtime, so a session that
      // kept reading an already-registered table never refreshed its root
      // and the IN-USE root became the oldest by construction — a 5th
      // fingerprint could reap it out from under the registered table.
      root.setLastModified(System.currentTimeMillis()): Unit
      tbl
    }

  /** Orders bucketed on o_custkey — one side of the co-located join. */
  def bucketedOrders(s: SparkSession, dir: String): String =
    bucketedTable(s, dir, "orders", "o_custkey", buckets = 8)

  /** Customer bucketed on c_custkey — the matching layout. */
  def bucketedCustomer(s: SparkSession, dir: String): String =
    bucketedTable(s, dir, "customer", "c_custkey", buckets = 8)

  /** The date-partitioned events store for `dir` (see `materialized`). */
  def eventsByDate(s: SparkSession, dir: String): String =
    materialized(dir, "events_by_date") { p =>
      Sinks.appendDatePartitioned(Tables.events(s, dir), p, "ts")
    }

  /** Generation boundary for the time-travel store: generation 0 folds
    * events strictly before this instant, generation 1 the full log. */
  val TimeTravelCutoff = "2024-01-15 00:00:00"

  /** A two-generation keyed snapshot store (the `batch_id=N` committed-
    * generation layout `Streams.startQuoteStream` maintains): per-user
    * last-wins state as of `TimeTravelCutoff` (generation 0) and current
    * (generation 1). Each generation is |keys|-sized — reading "the state
    * as of the snapshot" is a key-sized scan, not an event-log replay. */
  def userStateGens(s: SparkSession, dir: String): String =
    materialized(dir, "user_state_gens") { p =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("value"), col("ts"))
      latest(e.filter(col("ts") < to_timestamp_ntz(lit(TimeTravelCutoff))))
        .write.parquet(s"$p/batch_id=0")
      latest(e).write.parquet(s"$p/batch_id=1")
    }

  /** The events log as JSONL (one JSON object per line) — the staging
    * format the reference's ETL would hand off if it spooled fetched
    * payloads to disk instead of straight to PG. */
  def eventsJsonl(s: SparkSession, dir: String): String =
    materialized(dir, "events_jsonl") { p =>
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").json(p)
    }

  /** The events log as headered CSV — the interchange format the
    * reference's ETL would emit for spreadsheet/export consumers. The
    * timestamp serializes through an EXPLICIT format (engine-controlled
    * on both sides of the trip, never writer-default), and `props` (raw
    * JSON — embedded quotes and commas) rides along to exercise the
    * quoting/escaping path. */
  def eventsCsv(s: SparkSession, dir: String): String =
    materialized(dir, "events_csv") { p =>
      Tables.events(s, dir)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").option("header", "true").csv(p)
    }

  /** The events log as ORC — the other columnar format a warehouse
    * actually serves (Hive estates, Trino federations). TIMESTAMP_NTZ
    * survives the trip natively in Spark 4's ORC support — no string
    * re-parse, unlike the CSV path. */
  def eventsOrc(s: SparkSession, dir: String): String =
    materialized(dir, "events_orc") { p =>
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(p)
    }

  /** Document text as line-oriented files (one doc per line — corpus
    * text is single-line by construction, spec-pinned). The raw-text
    * interchange surface: what a tokenizer-training or grep-style
    * consumer reads. */
  def docsText(s: SparkSession, dir: String): String =
    materialized(dir, "docs_text", srcTable = "documents") { p =>
      Tables.documents(s, dir).select(col("text"))
        .write.mode("overwrite").text(p)
    }

  val defs: Map[String, Q] = Map(
    // Partition health report over the date-partitioned store: per-day
    // row counts, each day's share of the largest partition, and a skew
    // flag against 2x the mean — the monitoring query a compaction /
    // re-partition job is driven by. Reads the STORE (the partition
    // column is free — no ts cast on the scan path); the oracle
    // recomputes from the raw log, doubling as a store-integrity check.
    // Share and mean are identical-operand divisions — bit-exact, no
    // rounding.
    "q_partition_stats" -> ((s, dir) => {
      val perDay = s.read.parquet(eventsByDate(s, dir))
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n_rows"))
      val totals = perDay.agg(
        max(col("n_rows")).as("max_rows"),
        sum(col("n_rows")).as("total_rows"),
        count(lit(1)).as("n_days"))
      perDay.crossJoin(broadcast(totals))
        .select(col("event_date"), col("n_rows"),
          (col("n_rows").cast("double") / col("max_rows").cast("double"))
            .as("share_of_max"),
          (col("n_rows").cast("double") >
            lit(2.0) * (col("total_rows").cast("double")
              / col("n_days").cast("double"))).as("is_skewed"))
        .orderBy(col("event_date").asc)
    }),

    // Raw-text source round-trip: documents written as one-line-per-doc
    // text files and read back with the line-oriented reader. Line and
    // char conservation against the ORIGINAL table pins both directions
    // of the trip (a dropped/split/mangled line shifts either count).
    "q_text_roundtrip" -> ((s, dir) => {
      s.read.text(docsText(s, dir))
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("total_chars"),
          min(length(col("value"))).as("min_chars"),
          max(length(col("value"))).as("max_chars"))
    }),
    // ORC source round-trip: same aggregate contract as the JSONL
    // round-trip (n_ts = n pins that the NTZ timestamp survived the
    // format natively), so a value/timestamp regression in either
    // format's writer or reader shows up as a hash mismatch against the
    // SAME oracle over the original parquet.
    "q_orc_roundtrip" -> ((s, dir) => {
      s.read.orc(eventsOrc(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("ts")).as("n_ts"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy(col("event_type").asc)
    }),

    // Same semantics (and oracle) as q_history, but served from the
    // date-partitioned store: the day-range lands on the PARTITION column
    // (directory pruning — non-selected days are never listed, let alone
    // read), the key equality lands in PushedFilters, and the row-level
    // ts bounds keep the exact [start 00:00, end+1d) semantics within the
    // boundary days.
    "q_history_partitioned" -> ((s, dir) => {
      val store = s.read.parquet(eventsByDate(s, dir))
      store
        .filter(col("event_date") >= to_date(lit("2024-01-05")) &&
          col("event_date") <= to_date(lit("2024-01-20")) &&
          col("user_id") === 7L &&
          graft.ops.History.inclusiveDayRange(col("ts"), "2024-01-05", "2024-01-20"))
        .select("event_id", "ts", "event_type", "value")
        .orderBy(col("ts").asc, col("event_id").asc)
    }),

    // JSON-lines source with schema-on-read (the S1 parse surface over a
    // FILE feed instead of an in-memory payload): events round-trip
    // through JSONL and aggregate back. An EXPLICIT read schema — never
    // inference, which would scan the data twice and lock in whatever
    // the sample happened to contain. n_ts counts successfully parsed
    // timestamps: a serialization-format regression surfaces as
    // n_ts < n, which the oracle (count(ts) over the original table,
    // where ts is never null) would catch as a hash mismatch.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      s.read.schema(schema).json(eventsJsonl(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("ts")).as("n_ts"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy(col("event_type").asc)
    }),

    // CSV source with schema-on-read, round-tripped through the store:
    // same explicit-schema discipline as JSONL, plus the CSV-specific
    // hazards pinned by the aggregate — the timestamp parses back through
    // the SAME explicit format it was written with (n_ts = n or the
    // format regressed), and props_chars sums the length of the raw-JSON
    // column (embedded quotes/commas/braces): one mis-escaped quote
    // shifts the total and the oracle (computed over the ORIGINAL table)
    // hash-mismatches.
    "q_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", StringType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
      s.read.schema(schema).option("header", "true").csv(eventsCsv(s, dir))
        .withColumn("ts", to_timestamp_ntz(col("ts"), lit("yyyy-MM-dd HH:mm:ss.SSSSSS")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("ts")).as("n_ts"),
          sum(length(col("props"))).as("props_chars"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy(col("event_type").asc)
    }))

  val oracle: Map[String, String] = Map(
    "q_partition_stats" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT max(n_rows) AS max_rows, sum(n_rows) AS total_rows,
        |    count(*) AS n_days
        |  FROM d)
        |SELECT event_date, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(max_rows AS DOUBLE) AS share_of_max,
        |  CAST(n_rows AS DOUBLE)
        |    > 2.0 * (CAST(total_rows AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    AS is_skewed
        |FROM d, t ORDER BY event_date""".stripMargin,

    "q_text_roundtrip" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(min(length(text)) AS INTEGER) AS min_chars,
        |  CAST(max(length(text)) AS INTEGER) AS max_chars
        |FROM documents""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(ts) AS n_ts,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The store holds exactly the events rows (+ the derived partition
    // column, projected away), so the oracle reads the ORIGINAL events
    // table — which doubles as a round-trip check on the store write.
    "q_history_partitioned" ->
      """SELECT event_id, ts, event_type, value FROM events
        |WHERE user_id = 7
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-21 00:00:00'
        |ORDER BY ts, event_id""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(ts) AS n_ts,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(ts) AS n_ts,
        |  CAST(sum(length(props)) AS BIGINT) AS props_chars,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
