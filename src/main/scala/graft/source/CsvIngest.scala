package graft.source

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV ingest source: directory scan + per-file parse + filename→source-info
  * extraction, re-expressed as ONE distributed Spark scan instead of the
  * reference's sequential per-file loop (reference: datalake/client.go:33-79,
  * csv/csv.go:40-100).
  *
  * Scale posture: files are grouped by their (lowercased) header signature so
  * each distinct schema is a single `spark.read.csv` over ALL its files — at
  * 100 TB a source's exports share one header, so the number of distributed
  * scans stays O(#sources), never O(#files). Only the 1-record header probe is
  * driver-side; listing and probing go through the Hadoop `FileSystem` API so
  * the same code enumerates `file://`, HDFS, or an object store.
  */
object CsvIngest {

  /** (dataSource, accountId) derived from a filename
    * (reference: datalake/datasource/generic_extractor.go:17-41).
    */
  final case class SourceInfo(dataSource: String, accountId: String)

  /** One candidate ingest file: display name + fully-qualified URI. All
    * driver-side accounting is keyed by `name`; all I/O uses `path`.
    */
  final case class CsvFile(name: String, path: String)

  private val ChaseRe = "chase(\\d{4})".r

  /** Driver-side extractor, exact semantics of generic_extractor.go:17-41:
    * lowercase the filename; `chase(\d{4})` ⇒ ("chase", captured digits);
    * contains "synthetic" ⇒ ("synthetic", "0000"); else None (error).
    */
  def extractInfo(filename: String): Option[SourceInfo] = {
    val f = filename.toLowerCase
    ChaseRe.findFirstMatchIn(f) match {
      case Some(m)                          => Some(SourceInfo("chase", m.group(1)))
      case None if f.contains("synthetic")  => Some(SourceInfo("synthetic", "0000"))
      case None                             => None
    }
  }

  /** Lowercased on-disk filename of the file feeding the current row.
    * `input_file_name()` returns a URI whose path segments are URL-encoded;
    * decode so filenames with spaces/%xx match the name used by the per-file
    * accounting and the move-to-processed step. URI paths keep '+' literal
    * but url_decode applies form semantics ('+' → ' '), so protect literal
    * pluses by re-encoding them first.
    */
  private def fileNameCol: Column = {
    val rawSeg = element_at(split(input_file_name(), "/"), -1)
    lower(url_decode(regexp_replace(rawSeg, "\\+", "%2B")))
  }

  /** Column-level variant of [[extractInfo]] over a filename column, used on
    * `input_file_name()` so source attribution happens inside the distributed
    * scan (SURVEY §2.1 S5). Unknown sources yield null data_source and are
    * routed to failure stats, mirroring ErrUnableToExtractInfo.
    */
  private def withSourceInfo(df: DataFrame): DataFrame = {
    val fname = fileNameCol
    val chaseAcct = regexp_extract(fname, "chase(\\d{4})", 1)
    df.withColumn("_file", fname)
      .withColumn(
        "data_source",
        when(chaseAcct =!= "", lit("chase"))
          .when(fname.contains("synthetic"), lit("synthetic"))
          .otherwise(lit(null).cast(StringType)))
      .withColumn(
        "account_id",
        when(chaseAcct =!= "", chaseAcct)
          .when(fname.contains("synthetic"), lit("0000"))
          .otherwise(lit(null).cast(StringType)))
  }

  /** File-type predicate (reference: datalake/datalake.go:321-328): keep
    * names ending `.csv` or `.CSV` — the reference checks exactly those two
    * spellings.
    */
  def isCsvName(name: String): Boolean =
    name.endsWith(".csv") || name.endsWith(".CSV")

  private def fileSystemFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def listAll(spark: SparkSession, dir: String): Seq[(String, Path, Boolean)] = {
    val (fs, p) = fileSystemFor(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(st => (st.getPath.getName, st.getPath, st.isFile))
  }

  /** Candidate ingest files in `dir`: regular `.csv`/`.CSV` files whose name
    * yields source info, sorted by name. Object-store-capable: any Hadoop
    * `FileSystem` scheme works (`file://`, `hdfs://`, `s3a://`, …).
    */
  def listCsvFiles(spark: SparkSession, dir: String): Seq[CsvFile] =
    listAll(spark, dir)
      .collect { case (name, path, true) if isCsvName(name) => CsvFile(name, path.toString) }
      .filter(f => extractInfo(f.name).isDefined)
      .sortBy(_.name)

  /** Files in `dir` that the ingest must report as failures ("Not a valid
    * CSV file" / unextractable source), reference datalake.go:82-89.
    */
  def skippedFiles(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val all = listAll(spark, dir)
    val notCsv = all.collect {
      case (name, _, isFile) if !(isFile && isCsvName(name)) =>
        name -> "Not a valid CSV file"
    }
    val noSource = all.collect {
      case (name, _, true) if isCsvName(name) && extractInfo(name).isEmpty =>
        name -> "unable to extract source info from filename"
    }
    notCsv ++ noSource
  }

  /** Strict-quoting validation (reference parity): Go's `encoding/csv` fails
    * the WHOLE file on a bare quote / malformed quoted field (csv/csv.go:
    * 75-79 → datalake.go:84-96 counts the file failed), while Spark's
    * PERMISSIVE parse degrades row-by-row. One distributed `wholetext` byte
    * scan per file through the codegen [[org.apache.spark.sql.graftnative
    * .CsvQuoteError]] expression recovers the file-level verdict; offending
    * files are excluded from the parse and surface as (name → reason).
    *
    * Cost: one extra pass over raw bytes before the parse — no field
    * materialization, parallel across files. The reference pays the same
    * whole-file materialization per file (csv/csv.go:69-99).
    */
  def quoteErrors(spark: SparkSession, files: Seq[CsvFile]): Map[String, String] = {
    if (files.isEmpty) Map.empty
    else {
      // fileNameCol lowercases (matching `_file` lineage); map back to the
      // caller's original names so accounting reports disk-exact filenames.
      val byLower = files.groupBy(_.name.toLowerCase)
      spark.read
        .format("text")
        .option("wholetext", "true")
        .load(files.map(_.path): _*)
        .select(
          fileNameCol.as("_file"),
          org.apache.spark.sql.graftnative.api.csvQuoteError(col("value")).as("err"))
        .filter(col("err").isNotNull)
        .collect()
        .flatMap { r =>
          byLower.getOrElse(r.getString(0), Seq.empty).map(f => f.name -> r.getString(1))
        }
        .toMap
    }
  }

  /** Read the first CSV *record* of a file (header probe), driver-side via
    * the Hadoop FileSystem. Quote-aware across physical lines: a quoted
    * header field may contain an embedded newline (RFC 4180), so the probe
    * streams characters until a record terminator OUTSIDE quotes. Leading
    * blank lines are skipped like Go's reader; empty/absent header ⇒ None
    * (empty-file tolerance, reference csv/csv.go:57-61). Malformed quoting
    * is tolerated here — [[quoteErrors]] owns that verdict.
    */
  private def readHeader(fs: FileSystem, path: Path): Option[Seq[String]] = {
    val in = new BufferedReader(
      new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    try {
      val rec = new StringBuilder
      var inQ = false
      var done = false
      var sawAny = false
      while (!done) {
        val ci = in.read()
        if (ci < 0) done = true
        else {
          val c = ci.toChar
          if (c == '\n' && !inQ) {
            if (sawAny) done = true // record terminator (leading blanks skipped)
          } else {
            if (c == '"') inQ = !inQ // toggles on "" too; harmless for termination
            if (!(c == '\r' && !inQ)) { rec += c; if (c != '\r') sawAny = true }
          }
        }
      }
      val line = rec.result()
      if (line.trim.isEmpty) None
      else Some(parseCsvLine(line).map(_.trim.toLowerCase)) // header lowercase, csv/csv.go:64-67
    } finally in.close()
  }

  /** Minimal RFC-4180 single-record field splitter for the header probe only
    * (data rows are parsed by Spark's CSV reader, never by this). Embedded
    * newlines inside quotes are kept as field characters.
    */
  private[source] def parseCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** Scan a directory of bank-export CSVs into one raw DataFrame of
    * all-string columns (lowercased headers) + `_file`, `data_source`,
    * `account_id` lineage columns. Quote-corrupt files (see [[quoteErrors]])
    * are EXCLUDED — callers needing their failure reasons run
    * [[quoteErrors]] themselves and use [[readCsvFiles]] (as
    * `Lake.ingestDirectory` does, so the validation scan runs once).
    * The frame is lazy and [[parse]] turns CSV column pruning off on the
    * session; keep it off until the frame's last action has run (see
    * [[restoringColumnPruning]]).
    */
  def readCsvDir(spark: SparkSession, dir: String): DataFrame = {
    val files = listCsvFiles(spark, dir)
    val bad = quoteErrors(spark, files)
    readCsvFiles(spark, files.filterNot(f => bad.contains(f.name)))
  }

  /** The grouped distributed parse over pre-listed (and pre-validated)
    * files: one [[parse]] per distinct header, unioned by name. Lazy, like
    * [[readCsvDir]]: the session's CSV column pruning must stay off while
    * the frame runs.
    */
  def readCsvFiles(spark: SparkSession, files: Seq[CsvFile]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val groups: Map[Seq[String], Seq[CsvFile]] =
      files
        .flatMap { f =>
          val p = new Path(f.path)
          readHeader(p.getFileSystem(conf), p).map(h => (h, f))
        }
        .groupBy(_._1)
        .map { case (h, fs) => (h, fs.map(_._2)) }
    val parts = groups.toSeq.map { case (header, fs) =>
      parse(spark, header) { (options, schema) =>
        spark.read.options(options).schema(schema).csv(fs.map(_.path): _*)
      }
    }
    if (parts.isEmpty) emptyRaw(spark)
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private val ColumnPruningKey = "spark.sql.csv.parser.columnPruning.enabled"

  /** Run `body`, then put the session's CSV column-pruning setting back as
    * it was before: [[parse]] turns pruning off on the session, so a
    * caller whose parsed frames have all run (or been handed to a stream
    * that cloned the session) by the end of `body` scopes that change with
    * this.
    */
  private[graft] def restoringColumnPruning[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(ColumnPruningKey)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ColumnPruningKey, v)
      case None    => spark.conf.unset(ColumnPruningKey)
    }
  }

  /** The one CSV parse, shared by the batch reader ([[readCsvFiles]]) and
    * the stream reader (`StreamingIngest.readCsvStream`): `load` opens the
    * files with the given reader options and schema, and the result gets
    * the ragged-row filter and the `_file`/source lineage columns.
    *
    * Semantics replicated from the reference:
    *  - header lowercased (csv/csv.go:64-67); duplicate names deduped as
    *    in [[dedupHeader]]
    *  - quoted fields may contain embedded newlines (RFC 4180 — Go's
    *    `encoding/csv` default), so `multiLine` is on; the trade-off is
    *    that a file is read by a single task (no intra-file splits). Bank
    *    exports are many small files, so parallelism across files is what
    *    matters.
    *  - ragged rows (fewer fields than header) DROPPED, rows with EXTRA
    *    fields KEPT with the extras ignored — the reference reads with
    *    `FieldsPerRecord = -1` (csv/csv.go:53) and only skips
    *    `len(record) < len(header)` (csv/csv.go:82-84). Spark's PERMISSIVE
    *    mode marks both kinds of token mismatch in `_corrupt_record`; a
    *    short row is distinguished by its null tail column, and the drop is
    *    an explicit filter in the plan (DROPMALFORMED would also drop the
    *    extra-field rows — and is silently bypassed by `count()`-only plans
    *    where nothing is parsed)
    *  - empty file ⇒ 0 rows, no error (csv/csv.go:57-61)
    *  - schema never inferred: all columns string (csv parser emits
    *    map[string]string, csv/parser.go:6-13)
    */
  private[graft] def parse(spark: SparkSession, header: Seq[String])(
      load: (Map[String, String], StructType) => DataFrame): DataFrame = {
    // With CSV column pruning (default on), univocity parses only the
    // indexes a plan needs, so a ragged row is only *detected* when the
    // pruned subset happens to include a missing index — `count()`-shaped
    // plans would keep rows that full scans drop. Ingest correctness
    // (per-file valid/raw accounting) needs one answer, so pin pruning off
    // for this session; ingest projects nearly every column anyway.
    spark.conf.set(ColumnPruningKey, "false")
    val cols = dedupHeader(header)
    val options = Map(
      "header" -> "true",
      "mode" -> "PERMISSIVE",
      "multiLine" -> "true",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    val df = load(options, StructType((cols :+ "_corrupt_record").map(StructField(_, StringType))))
      // reference semantics (csv/csv.go:82-84 with FieldsPerRecord=-1):
      // drop only rows SHORTER than the header; keep extra-field rows,
      // extras ignored. A null tail column can't distinguish "missing
      // field" from "empty field" (both parse to null), so the raw
      // corrupt line's fields are counted with a CSV-aware expression.
      // The last disjunct is always false; it exists so aggressive
      // column pruning (e.g. a bare count()) still references a real
      // data column — Spark rejects scans whose only referenced column
      // is the corrupt-record column [QUERY_ONLY_CORRUPT_RECORD_COLUMN],
      // and the optimizer can't eliminate a length() on live data.
      .filter(
        col("_corrupt_record").isNull ||
          org.apache.spark.sql.graftnative.api
            .csvFieldCount(col("_corrupt_record")) >= cols.size.toLong ||
          length(coalesce(col(cols.head), lit(""))) < 0)
      .drop("_corrupt_record")
    withSourceInfo(df)
  }

  /** Duplicate lowercased header names: last occurrence wins in the
    * reference's colIndex map (csv/csv.go:64-67); we suffix earlier
    * duplicates so the Spark schema stays legal.
    */
  private def dedupHeader(h: Seq[String]): Seq[String] = {
    val lastIdx = h.zipWithIndex.groupBy(_._1).map { case (n, xs) => (n, xs.last._2) }
    h.zipWithIndex.map { case (n, i) => if (lastIdx(n) == i) n else s"${n}__dup$i" }
  }

  private def emptyRaw(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("_file", StringType),
      StructField("data_source", StringType),
      StructField("account_id", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
