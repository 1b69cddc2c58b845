package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch/stream sources (SURVEY.md §2.1). The reference's S1 is a REST
  * fetch of a JSON array of quote objects (`etl/crypto_etl.py:15-52`);
  * network egress doesn't exist here, so the source surface is the parse:
  * payload string → typed rows, with the same tolerant-projection
  * semantics (extra JSON fields ignored, missing fields null — the
  * validation filter downstream drops them, graft.ops.Ingest).
  */
object Sources {

  /** The five projected quote fields (etl/crypto_etl.py:88-92). */
  val quoteSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("name", StringType),
    StructField("current_price", DoubleType),
    StructField("market_cap", DoubleType),
    StructField("total_volume", DoubleType)))

  /** Parse one fetched payload (a JSON array of quote objects) into rows.
    * `from_json` + explode — the schema projects away every extra field
    * the upstream API sends. */
  def quotesFromJsonPayload(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    Seq(payload).toDF("payload")
      .select(explode(from_json(col("payload"), ArrayType(quoteSchema))).as("q"))
      .select("q.*")
  }

  /** One poll of the upstream API staged into the tick log the
    * `graft-ticks` DataSourceV2 source ([[QuoteTicks]]) streams from:
    * fetch the payload, validate it is a JSON array (an error body or
    * malformed text is rejected — with the SAME parser the source's
    * reader uses, so "staged" implies "readable"),
    * and write the RAW bytes as one immutable `tick-<ms>.json` file via
    * tmp-file + atomic rename — a reader can never observe a torn
    * payload, and a re-run of the same tick overwrites idempotently.
    *
    * Returns the payload's element count (0 = healthy empty tick,
    * staged so the stream's offset still advances), or -1 for a SKIPPED
    * tick (fetch/parse failure — logged, nothing staged, the
    * reference's log-and-sleep semantics, `etl/crypto_etl.py:47-52`). */
  def stageTickPayload(spark: SparkSession, fetch: () => String,
                       stagingDir: String, tickTime: java.sql.Timestamp): Long =
    try {
      val payload = fetch()
      val n = QuoteTicks.parsePayload(payload, tickTime.getTime).size.toLong
      val dir = new org.apache.hadoop.fs.Path(stagingDir)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(dir)
      val fin = new org.apache.hadoop.fs.Path(dir, s"tick-${tickTime.getTime}.json")
      val tmp = new org.apache.hadoop.fs.Path(dir, s".tick-${tickTime.getTime}.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(fin)) fs.delete(fin, false)
      if (!fs.rename(tmp, fin))
        throw new java.io.IOException(s"rename $tmp -> $fin failed")
      n
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft.Sources.stageTickPayload] tick skipped: ${e.getMessage}")
        -1L
    }
}
