package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Lake
import graft.model.Transaction

/** The reference's HTTP read/write surface (apiClient/apiClient.go) as
  * library calls over the lake — the "second schema": the API `Transaction`
  * DTO (apiClient.go:96-110) is a projection/rename of the datalake model
  * (SURVEY §2.5), so in Spark it's a `select`/`alias` view, and the three
  * query shapes (echo, point lookup, time-range history search) are
  * filters over it.
  *
  * Reads go through [[Lake.readLake]], which reads the lake with the schema
  * it already has (no footer-inference job) and shadows base rows by the
  * pending `_delta` inserts: with a sidecar pending, a point lookup or a
  * range search over it runs 2 Spark jobs (the broadcast of the pending
  * rows and the base scan) and no shuffle. When this process wrote every
  * pending insert, the pending rows are the fold it keeps in memory, so
  * neither job reads `_delta`; otherwise the broadcast job reads and folds
  * the sidecar's files in one task.
  *
  * Job names: the lake's own writes (ingest, upsert, compaction, and
  * [[addTransaction]]'s [[Lake.insertFast]]) name their jobs after the
  * `Lake` entry point ([[graft.Sessions.withCallSite]]). A lookup or range search
  * returns a lazy frame whose actions run in the caller, so its jobs keep
  * the caller's call site.
  *
  * Scale posture: [[historySearch]] filters on the derived epoch column —
  * at 100 TB the lake would additionally be partitioned/z-ordered by a
  * date-derived column so this becomes partition pruning instead of a scan;
  * the predicate shape (range on one column + equality on another) is
  * already the pruning-friendly form.
  */
object ApiSurface {

  /** Stable transaction id: md5 of the composite merge key — the lake has
    * no surrogate id (the reference's Mongo _id is storage-assigned), so the
    * id IS the key, which also makes `add` + `getById` round-trip naturally.
    */
  // Fields are length-prefixed before hashing so distinct keys can never
  // serialize identically, even when a field contains the separator itself.
  private val idCol =
    md5(concat(Transaction.mergeKey.flatMap(k =>
      Seq(length(col(k)).cast("string"), lit(":"), col(k))): _*)).as("id")

  /** The API DTO view (apiClient.go:96-110): transactionType is
    * ingress/egress by amount sign, transactionSource is the lake's
    * data_source, datePosted keeps the reference's MM/dd/yyyy string, and
    * datePostedEpoch adds the UTC epoch-seconds form the range search
    * binds on (apiClient.go:316-319).
    */
  def transactionsView(lake: DataFrame): DataFrame =
    lake.select(
      idCol,
      when(col("amount") >= 0, "ingress").otherwise("egress").as("transactionType"),
      col("data_source").as("transactionSource"),
      col("posting_date").as("datePosted"),
      unix_timestamp(to_date(col("posting_date"), "MM/dd/yyyy")).as("datePostedEpoch"),
      col("description").as("description"),
      col("amount").as("amount"),
      col("check_or_slip_num").as("slipNumber"))

  /** Q1 echo (apiClient.go:131-185): engine liveness round-trip. */
  def echo(spark: SparkSession, inputVal: String): String =
    spark.sql("SELECT ?", Array(inputVal)).collect()(0).getString(0)

  /** Q2 point lookup by id + type (apiClient.go:188-243). */
  def getTransactionById(lake: DataFrame, id: String, transactionType: String): DataFrame =
    transactionsView(lake)
      .filter(col("id") === id && col("transactionType") === transactionType)

  /** Q4 insert (apiClient.go:246-302): returns the transaction id the PUT
    * response carries (TransactionPutResponse.transactionId). Routed through
    * the LSM-style fast path ([[Lake.insertFast]]) — a one-row API insert
    * appends one small delta file instead of rewriting its whole partition;
    * readers see it immediately via [[Lake.readLake]].
    */
  def addTransaction(spark: SparkSession, t: Transaction, lakePath: String): String = {
    import spark.implicits._
    Lake.insertFast(spark, t, lakePath)
    Seq(t).toDF().select(idCol).collect()(0).getString(0)
  }

  /** Q3 time-range history search by type (apiClient.go:305-358): epoch-
    * second bounds, inclusive, returning the id list the API returns
    * (TransactionHistorySearchResponse → HistoryTransaction.ID).
    */
  def historySearch(
      lake: DataFrame,
      transactionType: String,
      startEpochSec: Long,
      endEpochSec: Long): DataFrame =
    transactionsView(lake)
      .filter(
        col("transactionType") === transactionType &&
          col("datePostedEpoch").between(startEpochSec, endEpochSec))
      .select("id")

  /** The `yyyy-MM` months covered by an inclusive epoch-second range (UTC) —
    * the partition values a month-partitioned lake must read for it.
    */
  def monthsBetween(startEpochSec: Long, endEpochSec: Long): Seq[String] = {
    import java.time.{Instant, ZoneOffset}
    val start = Instant.ofEpochSecond(startEpochSec).atZone(ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    val end = Instant.ofEpochSecond(endEpochSec).atZone(ZoneOffset.UTC).toLocalDate
    Iterator.iterate(start)(_.plusMonths(1))
      .takeWhile(!_.isAfter(end))
      .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
      .toSeq
  }

  /** [[historySearch]] against a month-partitioned lake
    * (`Lake.upsertIntoLake(monthPartitioned = true)`): the month list
    * derived from the epoch bounds becomes a PARTITION filter, so at 100 TB
    * the scan reads only the months the window touches — the row-level
    * epoch filter then trims the partial months. Identical results to the
    * unpruned search.
    */
  def historySearchPruned(
      lake: DataFrame,
      transactionType: String,
      startEpochSec: Long,
      endEpochSec: Long): DataFrame = {
    val months = monthsBetween(startEpochSec, endEpochSec)
    historySearch(
      lake.filter(col("posting_month").isin(months.map(x => x: Any): _*)),
      transactionType, startEpochSec, endEpochSec)
  }
}
