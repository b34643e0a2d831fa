package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.lake.Lake
import graft.source.CsvIngest
import graft.transform.Canonicalize

/** Incremental variant of the ingest pipeline (SURVEY §1.4, §7.2 step 7):
  * the reference's batch directory scan + move-to-processed
  * (datalake/client.go:33-79, datalake/datalake.go:274-318) re-expressed as
  * file-source Structured Streaming, where:
  *
  *  - new CSV files landing in the unprocessed dir are discovered by the
  *    stream source (no external scheduler re-running a batch job),
  *  - `cleanSource=archive` replaces the driver-side `os.Rename` — the
  *    source itself moves consumed files under the archive dir (re-rooted
  *    at their original absolute path), giving the same poor-man's
  *    exactly-once the reference gets from its move. NOTE: Spark commits
  *    (and therefore archives) batch N's files when batch N+1 starts, so
  *    archival lags one micro-batch; the checkpoint's file log already
  *    prevents re-reads in the meantime,
  *  - the merge-upsert + sync-log append run per micro-batch via
  *    `foreachBatch` (MERGE isn't expressible as a pure streaming sink).
  *
  * Scale posture: the streaming source lists incrementally and checkpoints
  * consumed files, so a 100 TB backlog is worked through in bounded
  * micro-batches (`maxFilesPerTrigger`) instead of one giant job; state is
  * only the file log, no aggregation state grows unboundedly.
  *
  * Unlike the batch path (which probes each file's header), a stream needs
  * ONE schema up front: callers pass the expected lowercased header columns
  * (defaults to the reference's canonical export header).
  */
object StreamingIngest {

  /** The reference's canonical bank-export header, lowercased
    * (csv/csv_test.go:26, datalake/datalake.go:184-189).
    */
  val defaultHeader: Seq[String] = Seq(
    "details", "posting date", "description", "amount",
    "type", "balance", "check or slip #")

  /** Open the unprocessed dir as a streaming CSV source. Consumed files are
    * archived under `archiveDir` by the source itself (K6's move, minus the
    * driver-side rename).
    */
  def readCsvStream(
      spark: SparkSession,
      unprocessedDir: String,
      archiveDir: String,
      header: Seq[String] = defaultHeader,
      maxFilesPerTrigger: Int = 1000): DataFrame = {
    // same ragged-row semantics as the batch path (csv.go:82-84 via
    // PERMISSIVE + corrupt-line field count): short rows drop, extra-field
    // rows keep — a file must ingest identically batch or streamed
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    val schema = StructType((header :+ "_corrupt_record").map(StructField(_, StringType)))
    val raw = spark.readStream
      .option("header", "true")
      .option("pathGlobFilter", "*.{csv,CSV}") // S3 file-type predicate
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(unprocessedDir)
      .filter(
        col("_corrupt_record").isNull ||
          org.apache.spark.sql.graftnative.api
            .csvFieldCount(col("_corrupt_record")) >= header.size.toLong ||
          length(coalesce(col(header.head), lit(""))) < 0)
      .drop("_corrupt_record")
    CsvIngest.withSourceInfo(raw)
  }

  /** Full incremental pipeline: stream → canonicalize → per-micro-batch
    * merge into the lake + sync-log append. Returns the running query;
    * callers own its lifecycle (`processAllAvailable`/`awaitTermination`).
    */
  def run(
      spark: SparkSession,
      unprocessedDir: String,
      archiveDir: String,
      lakePath: String,
      syncLogPath: String,
      checkpointDir: String,
      header: Seq[String] = defaultHeader,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = readCsvStream(spark, unprocessedDir, archiveDir, header)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Canonicalize inside foreachBatch: `batch` is a plain DataFrame,
        // so the whole batch-path algebra (P4-P10) is reused verbatim.
        val (valid, _) = Canonicalize.split(spark, batch)
        // Unknown sources (null data_source) can't be routed to a partition;
        // they correspond to the reference's per-file extraction failure.
        val routed = valid.drop("_file").filter(col("data_source").isNotNull)
        val counts = routed
          .groupBy(col("data_source")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        if (counts.nonEmpty) {
          Lake.upsertIntoLake(spark, routed, lakePath)
          Lake.appendSyncLog(spark, syncLogPath, counts)
        }
        ()
      }
      .start()
  }
}
