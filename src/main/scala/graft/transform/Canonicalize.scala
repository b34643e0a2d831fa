package graft.transform

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Row canonicalization / validation: the reference's `fromRecords` row loop
  * (datalake/datalake.go:208-271) re-expressed as declarative column algebra
  * so Catalyst pushes the filters into the scan and the whole stage is
  * codegen'd (SURVEY §2.2 P1-P10).
  */
object Canonicalize {

  /** Posting-date header synonyms, priority order
    * (reference: datalake/datalake.go:184-189). Headers are already
    * lowercased by the source (csv/csv.go:64-67), so the four reference
    * spellings collapse to these two.
    */
  val postingDateSynonyms: Seq[String] = Seq("post date", "posting date")

  private def colOrNull(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast("string")

  /** Missing-cell padding (reference safeGet, csv/csv.go:103-109): absent
    * column or null cell ⇒ "".
    */
  private def strOrEmpty(df: DataFrame, name: String): Column =
    coalesce(colOrNull(df, name), lit(""))

  /** First non-empty posting-date synonym (P4,
    * reference datalake/datalake.go:167-174).
    */
  def postingDateRaw(df: DataFrame): Column =
    coalesce(postingDateSynonyms.map(s => nullif(colOrNull(df, s), lit(""))): _*)

  /** Raw record → annotated record with a `_reject_reason` column (null =
    * valid). Skip-vs-default semantics are the reference's, asymmetry
    * included (SURVEY §7.4 risk 1):
    *  - posting date empty/absent          ⇒ DROP (P5, datalake.go:218-222)
    *  - posting date not MM/dd/yyyy        ⇒ DROP (P6, datalake.go:224-233)
    *  - amount unparseable                 ⇒ DROP (P7, datalake.go:235-240)
    *  - balance unparseable/missing        ⇒ KEEP, 0.0 (P8, datalake.go:242-255)
    */
  def annotate(df: DataFrame): DataFrame = {
    val rawDate = postingDateRaw(df)
    val parsedDate = try_to_timestamp(rawDate, lit("MM/dd/yyyy"))
    val amount = try_cast_double(colOrNull(df, "amount"))
    df.withColumn("_posting_date_raw", rawDate)
      .withColumn("_posting_date", parsedDate)
      .withColumn("_amount", amount)
      .withColumn(
        "_reject_reason",
        when(rawDate.isNull, "missing posting date")
          .when(parsedDate.isNull, "invalid posting date")
          .when(amount.isNull, "invalid amount")
          .otherwise(lit(null).cast("string")))
  }

  /** Null-on-error double parse (Go strconv.ParseFloat semantics,
    * datalake.go:236). Plain `cast` would throw under ANSI mode; `try_cast`
    * keeps the permissive reference behavior either way.
    */
  def try_cast_double(c: Column): Column = c.try_cast(DoubleType)

  /** Canonical projection (P9, reference datalake.go:257-268): impose the
    * 10-field schema by name, enrich with per-file (data_source, account_id),
    * store the validated date back as its MM/dd/yyyy string
    * (datalake.go:259).
    */
  def project(annotated: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val df = annotated
    df.select(
      Seq(
      strOrEmpty(df, "details").as("details"),
      date_format(col("_posting_date"), "MM/dd/yyyy").as("posting_date"),
      strOrEmpty(df, "description").as("description"),
      col("_amount").as("amount"),
      coalesce(try_cast_double(colOrNull(df, "balance")), lit(0.0)).as("balance"),
      strOrEmpty(df, "category").as("category"),
      strOrEmpty(df, "type").as("txn_type"),
      strOrEmpty(df, "check or slip #").as("check_or_slip_num"),
      col("data_source"),
      col("account_id")) ++ extra: _*)
  }

  /** Valid side of an [[annotate]]d frame: the canonical Transaction
    * columns plus `_file` lineage for per-file accounting; drop `_file`
    * before writing to the lake.
    */
  def validRows(annotated: DataFrame): DataFrame =
    project(annotated.filter(col("_reject_reason").isNull), Seq(col("_file")))

  /** Rejected side of an [[annotate]]d frame, with reason + file lineage
    * for the quarantine/stats path (the reference logs-and-skips,
    * datalake.go:220-239). It carries the WHOLE raw row as JSON (schema
    * varies per header group, so serialize) — a quarantine that only
    * counts skips can't be audited or re-ingested after a fix.
    */
  def rejectedRows(annotated: DataFrame): DataFrame = {
    // every column annotate adds, and every lineage column, starts with `_`
    val rawCols = annotated.columns.filterNot(_.startsWith("_")).toSeq
    annotated
      .filter(col("_reject_reason").isNotNull)
      .select(
        col("_file"),
        col("_reject_reason").as("reason"),
        to_json(struct(rawCols.map(col): _*)).as("raw_row"))
  }

  /** Full canonicalization: ([[validRows]], [[rejectedRows]]) of one
    * [[annotate]]. Both sides are lazy over `raw`; a caller that runs both
    * persists the annotated frame instead (as `Lake.ingestBatch` does).
    */
  def split(spark: SparkSession, raw: DataFrame): (DataFrame, DataFrame) = {
    val ann = annotate(raw)
    (validRows(ann), rejectedRows(ann))
  }
}
