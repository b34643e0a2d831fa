package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.Lake
import graft.source.CsvIngest

/** Incremental variant of the ingest pipeline (SURVEY §1.4, §7.2 step 7):
  * the reference's batch directory scan + move-to-processed
  * (datalake/client.go:33-79, datalake/datalake.go:274-318) re-expressed as
  * file-source Structured Streaming. It shares the batch path's CSV parse
  * (`CsvIngest.parse`: reader options, `multiLine`, ragged-row filter,
  * source lineage) and its per-batch core (`Lake.ingestBatch`: canonicalize,
  * merge-upsert, sync-log append), so a file ingests the same rows batch or
  * streamed. It differs only in how files are found and archived, and in
  * taking its header up front:
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
  *  - unlike the batch path (which probes each file's header), a stream
  *    needs ONE schema up front: callers pass the expected lowercased
  *    header columns (defaults to the reference's canonical export header).
  *
  * Rejected rows are dropped (the stream keeps no quarantine), and rows of
  * a file whose name yields no source are not routed.
  *
  * Scale posture: the streaming source lists incrementally and checkpoints
  * consumed files, so a 100 TB backlog is worked through in bounded
  * micro-batches (at most 1000 files each) instead of one giant job;
  * state is only the file log, no aggregation state grows unboundedly.
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
      header: Seq[String] = defaultHeader): DataFrame =
    CsvIngest.parse(spark, header) { (options, schema) =>
      spark.readStream
        .options(options)
        .option("pathGlobFilter", "*.{csv,CSV}") // S3 file-type predicate
        .option("maxFilesPerTrigger", 1000)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archiveDir)
        .schema(schema)
        .csv(unprocessedDir)
    }

  /** Full incremental pipeline: stream → per-micro-batch ingest core
    * (canonicalize, merge into the lake, sync-log append). Returns the
    * running query; callers own its lifecycle
    * (`processAllAvailable`/`awaitTermination`). The parse's CSV
    * column-pruning setting is put back on `spark` once the query has
    * started: the query runs on its own clone of the session, taken at
    * start, which keeps pruning off.
    */
  def run(
      spark: SparkSession,
      unprocessedDir: String,
      archiveDir: String,
      lakePath: String,
      syncLogPath: String,
      checkpointDir: String,
      header: Seq[String] = defaultHeader,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    CsvIngest.restoringColumnPruning(spark) {
      readCsvStream(spark, unprocessedDir, archiveDir, header).writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Lake.ingestBatch(spark, batch, lakePath, syncLogPath, quarantinePath = None)
          ()
        }
        .start()
    }
}
