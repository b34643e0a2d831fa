package graft.lake

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model.{FileOutcome, IngestStats, SyncLog, Transaction}

/** The datalake write path: composite-key merge-upsert, per-source
  * partitioned tables, sync-log audit append and job stats — the reference's
  * Mongo repository (storage/mongo_repository.go:33-75) re-expressed as
  * parquet-native DataFrame algebra.
  *
  * Scale posture (100 TB): the merge is `existing LEFT ANTI incoming` on the
  * composite key + union — Catalyst picks broadcast-hash when the incoming
  * batch is small (the common ingest case) and AQE handles skewed keys. The
  * lake is hive-partitioned by `data_source` (replacing the reference's
  * collection-per-source, mongo_repository.go:55) with DYNAMIC partition
  * overwrite so a merge only rewrites the sources present in the batch,
  * never the whole lake.
  *
  * Every read the lake makes of its own files passes a known schema
  * ([[lakeSchema]], [[deltaSchema]]): the schema is fixed by
  * [[Transaction.schema]] and the layout the first write chose, so no read
  * pays a parquet footer-inference job, and a sidecar holding no data files
  * reads as empty instead of failing. The layout itself comes from the
  * directory tree ([[monthlyLayout]]), never from a Spark job.
  */
object Lake {

  /** Deterministic keep-one dedup on the composite upsert key (K1,
    * reference storage/mongo_repository.go:44-52). The reference's unordered
    * BulkWrite leaves intra-batch duplicate survival nondeterministic
    * (SetOrdered(false), mongo_repository.go:57); we pin first-by-tiebreak
    * so results are stable and oracle-checkable.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak.map(col): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** MERGE semantics: incoming rows replace existing rows sharing the
    * composite key; unmatched existing rows are kept; intra-batch duplicates
    * collapse to one (K1). `existing LEFT ANTI incoming ∪ dedup(incoming)` —
    * last-write-wins like the reference's `$set` upsert
    * (mongo_repository.go:52).
    */
  def merge(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String] = Transaction.mergeKey,
      tieBreak: Seq[String] = Transaction.tieBreak): DataFrame = {
    val dedupedIncoming = dedupKeepFirst(incoming, keys, tieBreak)
    existing.join(dedupedIncoming, keys, "left_anti").unionByName(dedupedIncoming)
  }

  /** `posting_date` is the validated `MM/dd/yyyy` string; the derived
    * `yyyy-MM` month makes a pruning-friendly second partition level for
    * time-range queries (see `ApiSurface.historySearchPruned`).
    */
  def postingMonth(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(substring(c, 7, 4), lit("-"), substring(c, 1, 2))

  /** The lake's delta sidecar dir. The leading underscore makes it
    * invisible to Spark/parquet discovery (hidden-path convention), so
    * `spark.read.parquet(lakePath)` still reads ONLY the compacted base —
    * readers that want delta-consistent data go through [[readLake]].
    */
  private def deltaDir(lakePath: String): String = lakePath + "/_delta"

  /** Process-local strictly-increasing `_seq` source for [[insertFast]]:
    * O(1) per insert, never touching the sidecar. Time-anchored — epoch
    * millis shifted left 20 bits, OR'd with a pid salt in the low bits —
    * so a RESTARTED writer resumes above everything any earlier process
    * wrote (including pre-existing small integer seqs: millis<<20 ≈ 2^60
    * dwarfs them, and read-side latest-`_seq`-wins semantics are
    * unchanged), and atomically max'd with prev+1 so same-millisecond
    * inserts stay distinct and a clock regression cannot reorder. The
    * previous implementation re-scanned the whole `_delta` sidecar for
    * max(_seq) on EVERY single-row insert — O(delta) driver work per
    * point insert, exactly the cost the LSM path exists to avoid.
    *
    * SINGLE-WRITER-PER-LAKE assumption (deliberate): the monotonicity
    * guarantee is per-process. Two concurrent writer processes in the
    * same millisecond whose pids collide mod 2^20 emit the same `_seq`
    * (latest-wins tie broken arbitrarily), and the clock-regression
    * guard only holds within one process — a clock stepped back across a
    * writer restart can rank the new process's inserts below an earlier
    * process's later writes. Multi-writer deployments need a
    * transactional table format underneath (the same Delta/Iceberg
    * caveat as the partition-swap path) — widening the salt would shrink
    * the collision window, not close it, so we document the boundary
    * instead of pretending to fix it.
    */
  private val deltaSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextDeltaSeq(): Long = deltaSeq.updateAndGet { prev =>
    math.max(
      prev + 1L,
      (System.currentTimeMillis() << 20) | (ProcessHandle.current().pid() & 0xFFFFFL))
  }

  /** Per-lake monthly-layout memo: a lake's layout is fixed at first write
    * (the on-disk-layout-wins rule in [[upsertIntoLake]]), so it is probed
    * once per lakePath per JVM, not on every insert or read;
    * [[upsertIntoLake]] primes it on first write. Process-local like
    * [[nextDeltaSeq]] (same single-writer-per-lake assumption);
    * `layoutProbes` is the spec seam counting actual probes.
    */
  private val layoutCache = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private[graft] val layoutProbes = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def forgetLayout(lakePath: String): Unit = layoutCache.remove(lakePath)

  /** Whether the lake at `lakePath` is month-partitioned, read from the
    * directory tree with no Spark job: does the first `data_source=*` dir
    * hold `posting_month=*` dirs? A path with no partition dir yet (absent,
    * or an empty first write) reads as flat and is not memoised, so the
    * first real write still decides.
    */
  private[graft] def monthlyLayout(spark: SparkSession, lakePath: String): Boolean =
    layoutCache.get(lakePath).getOrElse {
      import org.apache.hadoop.fs.Path
      layoutProbes.incrementAndGet()
      val root = new Path(lakePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def partDirs(dir: Path, partCol: String) =
        fs.listStatus(dir).iterator.filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      val source = if (fs.exists(root)) partDirs(root, "data_source").nextOption() else None
      source.fold(false) { src =>
        val monthly = partDirs(src.getPath, "posting_month").hasNext
        layoutCache.put(lakePath, monthly)
        monthly
      }
    }

  private val postingMonthField = StructField("posting_month", StringType)

  /** The base lake's schema as `spark.read.parquet` would infer it: the
    * [[Transaction]] data columns in file order, then the hive partition
    * columns (`data_source`, plus `posting_month` when monthly).
    */
  private def lakeSchema(monthly: Boolean): StructType = {
    val (parts, data) = Transaction.schema.partition(_.name == "data_source")
    StructType(data ++ parts ++ (if (monthly) Seq(postingMonthField) else Nil))
  }

  /** The `_delta` sidecar's schema as [[insertFast]] writes it: the
    * [[Transaction]] columns, `posting_month` when monthly, then `_seq`.
    */
  private[graft] def deltaSchema(monthly: Boolean): StructType =
    StructType(Transaction.schema ++ (if (monthly) Seq(postingMonthField) else Nil) :+
      StructField("_seq", LongType))

  private def readBase(spark: SparkSession, monthly: Boolean, paths: String*): DataFrame =
    spark.read.schema(lakeSchema(monthly)).parquet(paths: _*)

  private def readDelta(spark: SparkSession, lakePath: String, monthly: Boolean): DataFrame =
    spark.read.schema(deltaSchema(monthly)).parquet(deltaDir(lakePath))

  /** LSM-style single-row insert (the API's `PUT /history/transaction`
    * path): append ONE small parquet file to the `_delta` sidecar instead
    * of merging + rewriting the row's whole partition. At 100 TB a
    * partition is GBs — per-row partition rewrites are the difference
    * between an insert being milliseconds and minutes. Delta rows carry a
    * monotonic `_seq` ([[nextDeltaSeq]] — O(1), no sidecar read) so later
    * inserts win on read; [[readLake]] folds
    * them lazily, [[upsertIntoLake]] folds touched ones on the next batch,
    * and [[compact]] folds everything back to base.
    *
    * Falls back to the merge path when the lake doesn't exist yet (the
    * first write defines the layout).
    */
  def insertFast(spark: SparkSession, t: Transaction, lakePath: String): Unit = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(lakePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) { upsertIntoLake(spark, Seq(t).toDF(), lakePath); return }
    val monthly = monthlyLayout(spark, lakePath)
    val dPath = new org.apache.hadoop.fs.Path(deltaDir(lakePath))
    val row0 = Seq(t).toDF()
    val row = if (monthly) row0.withColumn("posting_month", postingMonth(col("posting_date"))) else row0
    row.withColumn("_seq", lit(nextDeltaSeq()))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(dPath.toString)
  }

  /** Keep-latest-by-`_seq` collapse of raw delta rows, `_seq` dropped.
    * The window runs in ONE task over `delta.coalesce(1)`: a single
    * partition already satisfies the window's key distribution, so there
    * is no hash exchange and no extra AQE stage. Size bound: the sidecar
    * must fit one task — it does by design (compaction cadence bounds it,
    * and [[readLake]] broadcasts this frame, which needs the same).
    */
  private def deltaLatest(delta: DataFrame): DataFrame = {
    val w = Window.partitionBy(Transaction.mergeKey.map(col): _*).orderBy(col("_seq").desc)
    delta.coalesce(1)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn", "_seq")
  }

  /** Delta-consistent view of the lake: base rows shadowed by any pending
    * delta inserts on the same merge key (latest `_seq` wins). Both sides
    * are read with the lake's known schema (no inference job), and
    * building the view submits no Spark job once the layout is memoised;
    * its columns are the base's, in [[lakeSchema]] order, whether or not
    * a sidecar is pending.
    * The sidecar fold is one task with no exchange ([[deltaLatest]]); its
    * result is the anti-join's build side, broadcast to the base scan, so
    * the base never shuffles either. Size bound: the pending sidecar must
    * fit one task and one broadcast — compaction cadence keeps it there.
    */
  def readLake(spark: SparkSession, lakePath: String): DataFrame = {
    val monthly = monthlyLayout(spark, lakePath)
    val base = readBase(spark, monthly, lakePath)
    val dPath = new org.apache.hadoop.fs.Path(deltaDir(lakePath))
    val fs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dPath)) base
    else {
      val latest = deltaLatest(readDelta(spark, lakePath, monthly))
      // the USING join puts the key columns first; keep the base's order
      base.join(latest, Transaction.mergeKey, "left_anti")
        .select(base.columns.map(col).toSeq: _*)
        .unionByName(latest)
    }
  }

  /** Write/merge a canonical batch into the partitioned lake (K2). One
    * physical table partitioned by data_source replaces the reference's
    * collection-per-source naming (`transactions_{dataSource}`,
    * mongo_repository.go:15-16,55) — and drops its one-source-per-batch
    * assumption for free. `monthPartitioned` adds a derived yyyy-MM
    * second partition level.
    *
    * Only partitions the batch touches are affected: existing rows from
    * OTHER sources (and months) never enter the merge, so at 100 TB a
    * small ingest batch rewrites O(batch partitions), not the lake.
    * Spark can't overwrite a parquet path it is lazily reading, so the
    * merged rows are written ONCE to a staging dir and then swapped into
    * the lake partition-directory-by-partition-directory with filesystem
    * renames — a metadata operation on HDFS/local (on true object stores
    * rename is copy; a manifest table format like Delta/Iceberg MERGE is
    * the real fix there). Data is written exactly once per touched
    * partition — the previous re-read + dynamic-overwrite pass paid 2×
    * write amplification. Returns the number of rows written.
    */
  def upsertIntoLake(
      spark: SparkSession,
      batch: DataFrame,
      lakePath: String,
      monthPartitioned: Boolean = false): Long = {
    val hPath = new org.apache.hadoop.fs.Path(lakePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(hPath)
    // The lake's ON-DISK layout wins over the flag once it exists — a
    // single-row API insert or a streaming batch must not need to know how
    // the lake was created (and a mismatched union would throw).
    val effectiveMonthly =
      if (exists) monthlyLayout(spark, lakePath)
      else { layoutCache.put(lakePath, monthPartitioned); monthPartitioned }
    val parts = if (effectiveMonthly) Seq("data_source", "posting_month") else Seq("data_source")
    val batchP =
      if (effectiveMonthly) batch.withColumn("posting_month", postingMonth(col("posting_date")))
      else batch
    if (!exists) {
      // First write: no self-reference, write the deduped batch directly.
      dedupKeepFirst(batchP, Transaction.mergeKey, Transaction.tieBreak)
        .write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(lakePath)
      readBase(spark, effectiveMonthly, lakePath).count()
    } else {
      // Only partitions the batch touches enter the merge: filter the
      // existing side by the batch's sources AND (when month-partitioned)
      // its months, so a daily batch re-reads O(days' partitions), not
      // years of history.
      val sources = batch.select("data_source").distinct().collect().map(_.getString(0))
      val touchedPred = {
        val bySource = col("data_source").isin(sources.toSeq.map(x => x: Any): _*)
        if (effectiveMonthly) {
          val months = batchP.select("posting_month").distinct().collect().map(_.getString(0))
          bySource && col("posting_month").isin(months.toSeq.map(x => x: Any): _*)
        } else bySource
      }
      val base = readBase(spark, effectiveMonthly, lakePath).filter(touchedPred)
      // Pending fast-insert delta rows for the touched partitions fold into
      // this merge (delta wins over base, then the batch wins over both —
      // same precedence readLake shows); rows for untouched partitions stay
      // in the sidecar.
      val dPath = new org.apache.hadoop.fs.Path(deltaDir(lakePath))
      val deltaAll = if (fs.exists(dPath)) Some(readDelta(spark, lakePath, effectiveMonthly)) else None
      val existing = deltaAll match {
        case Some(d) => merge(base, deltaLatest(d).filter(touchedPred))
        case None    => base
      }
      val merged = merge(existing, batchP)
      val staged = lakePath + ".staging"
      merged.write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(staged)
      val written = swapStagedPartitions(spark, staged, lakePath, parts.length)
      // Folded delta rows are now in base; rewrite the sidecar with only the
      // untouched-partition survivors (delta is small — bounded by
      // compaction cadence — so this rewrite is cheap).
      deltaAll.foreach { d =>
        val remaining = d.filter(!touchedPred)
        val stagedDelta = new org.apache.hadoop.fs.Path(lakePath + "/_delta_staging")
        if (remaining.isEmpty) {
          fs.delete(dPath, true)
        } else {
          remaining.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stagedDelta.toString)
          fs.delete(dPath, true)
          fs.rename(stagedDelta, dPath)
        }
      }
      written
    }
  }

  /** Move every hive partition directory under `staged` over its twin in
    * `lake` (delete-old + rename-new per leaf dir), delete the staging
    * root, and return the row count of the swapped-in data (a parquet
    * footer-metadata read with the known schema, not a rewrite). Every
    * batch write above funnels through this so merged bytes land exactly
    * once. The per-partition swap is not transactional across partitions —
    * neither was dynamic partition overwrite; crash-consistency across
    * partitions is a table format's job (Delta/Iceberg), out of scope for a
    * plain-parquet lake.
    */
  private def swapStagedPartitions(
      spark: SparkSession,
      staged: String,
      lake: String,
      depth: Int): Long = {
    import org.apache.hadoop.fs.Path
    val stagedPath = new Path(staged)
    val lakePath = new Path(lake)
    val fs = stagedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def leafDirs(root: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(root)
      else
        fs.listStatus(root)
          .toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .flatMap(st => leafDirs(st.getPath, d - 1))

    val swappedTargets = leafDirs(stagedPath, depth).map { src =>
      // partition-relative path, e.g. data_source=chase/posting_month=2024-01
      val rel = src.toUri.getPath.stripPrefix(stagedPath.toUri.getPath).stripPrefix("/")
      val target = new Path(lakePath, rel)
      if (fs.exists(target)) fs.delete(target, true)
      fs.mkdirs(target.getParent)
      fs.rename(src, target)
      target
    }
    fs.delete(stagedPath, true)
    if (swappedTargets.isEmpty) 0L
    else readBase(spark, depth == 2, swappedTargets.map(_.toString): _*).count()
  }

  /** Compact a lake: collapse every hive partition to ONE parquet file.
    * Merge-heavy ingest accretes small files (every upsert rewrites touched
    * partitions with the writer's task count); at 100 TB the file count —
    * not the byte count — is what kills scan planning and open() overhead.
    * `parallelism` is the shuffle task count (hash on the partition cols
    * sends each partition's rows to exactly one task ⇒ one output file per
    * partition; partitions bigger than one task should handle, salt-split
    * instead). Run as a periodic maintenance job; layout-only, never rows
    * (spec-checked).
    */
  def compact(
      spark: SparkSession,
      lakePath: String,
      parallelism: Int = 32,
      sortBy: Seq[String] = Nil): Long = {
    val df = readLake(spark, lakePath) // folds any pending fast-insert delta
    val partCols = df.schema.fieldNames.filter(Seq("data_source", "posting_month").contains)
    val staged = lakePath + ".compacting"
    // `sortBy` clusters rows inside each rewritten file so parquet's
    // row-group min/max stats become selective: a date-range scan over a
    // posting_date-sorted partition skips every row group outside the
    // window instead of reading the partition end to end — the poor man's
    // z-order, and at 100 TB the difference between a range query reading
    // gigabytes and reading row-group headers.
    val clustered = df.repartition(parallelism, partCols.toSeq.map(col): _*)
    (if (sortBy.isEmpty) clustered
     else clustered.sortWithinPartitions((partCols.toSeq ++ sortBy).map(col): _*))
      .write.mode(SaveMode.Overwrite).partitionBy(partCols.toSeq: _*).parquet(staged)
    val written = swapStagedPartitions(spark, staged, lakePath, partCols.length)
    val dPath = new org.apache.hadoop.fs.Path(deltaDir(lakePath))
    val fs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dPath)) fs.delete(dPath, true) // folded above
    written
  }

  /** Sync-log audit append (K3, reference storage/mongo_repository.go:63-72):
    * one row per (source, batch) with the reference's collection naming.
    */
  def appendSyncLog(
      spark: SparkSession,
      syncLogPath: String,
      counts: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    counts
      .map { case (ds, n) => SyncLog(s"transactions_$ds", now, n) }
      .toDS()
      .write
      .mode(SaveMode.Append)
      .parquet(syncLogPath)
  }

  /** Stats aggregation (A2, reference datalake/stats.go:9-44): per-file
    * outcomes → counters + failure map.
    */
  def stats(outcomes: Dataset[FileOutcome]): IngestStats = {
    val agg = outcomes
      .groupBy(col("outcome"))
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val failures = outcomes
      .filter(col("outcome") === "failed")
      .collect()
      .map(o => o.file -> o.reason)
      .toMap
    IngestStats(
      total_files = agg.values.sum,
      processed_files = agg.getOrElse("processed", 0L),
      failed_files = agg.getOrElse("failed", 0L),
      failures = failures)
  }

  /** End-to-end ingest (reference `ingest` command, main.go:64-91 +
    * datalake/client.go:33-79): scan dir → canonicalize → merge into lake →
    * sync log → stats. The per-file sequential loop collapses into one
    * distributed job; per-file outcomes are recovered from `_file` lineage
    * (O1 fault isolation via outcome rows instead of try/catch).
    */
  def ingestDirectory(
      spark: SparkSession,
      unprocessedDir: String,
      lakePath: String,
      syncLogPath: String,
      processedDir: Option[String] = None,
      quarantinePath: Option[String] = None,
      log: graft.LogCtx = graft.LogCtx.default): IngestStats = {
    import spark.implicits._
    import graft.source.CsvIngest
    import graft.transform.Canonicalize

    // readCsvDir needs CSV parser column pruning off for plan-independent
    // ragged-row detection; every action on `raw` happens inside this
    // method, so scope the session mutation here and restore on exit.
    val pruneKey = "spark.sql.csv.parser.columnPruning.enabled"
    val prevPrune = spark.conf.getOption(pruneKey)
    try {
      ingestDirectoryInner(
        spark, unprocessedDir, lakePath, syncLogPath, processedDir, quarantinePath,
        log.withField("dir", unprocessedDir))
    } finally {
      prevPrune match {
        case Some(v) => spark.conf.set(pruneKey, v)
        case None    => spark.conf.unset(pruneKey)
      }
    }
  }

  private def ingestDirectoryInner(
      spark: SparkSession,
      unprocessedDir: String,
      lakePath: String,
      syncLogPath: String,
      processedDir: Option[String],
      quarantinePath: Option[String],
      log: graft.LogCtx): IngestStats = {
    import spark.implicits._
    import graft.source.CsvIngest
    import graft.transform.Canonicalize

    // Listing + strict-quote validation run once here; quote-corrupt files
    // are whole-file failures like the reference (csv/csv.go:75-79 →
    // datalake.go:84-96) — never partially ingested, never moved.
    val files = CsvIngest.listCsvFiles(spark, unprocessedDir)
    val quoteFailed = CsvIngest.quoteErrors(spark, files)
    val goodFiles = files.filterNot(f => quoteFailed.contains(f.name))
    val raw = CsvIngest.readCsvFiles(spark, goodFiles)
    val (validWithFile, rejected) = Canonicalize.split(spark, raw)
    val validDf = validWithFile.cache()

    // Rejected rows (the reference logs-and-skips, datalake.go:220-239) go
    // to a quarantine table when configured — at scale, silently dropping
    // rows is how a lake rots; (file, reason) lineage makes skips auditable.
    quarantinePath.foreach { qp =>
      rejected
        .withColumn("quarantined_at", current_timestamp())
        .write.mode(SaveMode.Append).parquet(qp)
    }

    // Per-file accounting, both sides keyed by the `_file` lineage column:
    // raw rows vs valid rows per FILE; >0 raw && 0 valid ⇒ file failure
    // "no valid transactions" (P10, reference datalake.go:200-204). Keying
    // valid counts by _file (not data_source/account_id) keeps two files of
    // the same account from cross-contaminating each other's outcome.
    val rawCounts = raw.groupBy(col("_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val validCounts = validDf.groupBy(col("_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val outcomes = goodFiles.map { f =>
      val key = f.name.toLowerCase
      val rawN = rawCounts.getOrElse(key, 0L)
      val validN = validCounts.getOrElse(key, 0L)
      if (rawN > 0L && validN == 0L)
        FileOutcome(f.name, "failed", "no valid transactions", 0L)
      else FileOutcome(f.name, "processed", "", validN)
    } ++ quoteFailed.toSeq.map {
      case (name, reason) => FileOutcome(name, "failed", reason, 0L)
    } ++ CsvIngest.skippedFiles(spark, unprocessedDir).map {
      case (name, reason) => FileOutcome(name, "failed", reason, 0L)
    }

    val uploaded: Seq[(String, Long)] =
      if (validDf.isEmpty) Seq.empty
      else {
        upsertIntoLake(spark, validDf.drop("_file"), lakePath)
        validDf
          .groupBy(col("data_source"))
          .count()
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toSeq
      }
    if (uploaded.nonEmpty) appendSyncLog(spark, syncLogPath, uploaded)

    // Move-to-processed (K6, reference datalake.go:274-318): driver-side
    // rename after a successful write, only for successfully processed
    // files. Hadoop FileSystem so the same code moves files on file://,
    // HDFS, or an object store (where rename is copy+delete — still the
    // reference's semantics, not its syscall).
    processedDir.foreach { pd =>
      val pdPath = new org.apache.hadoop.fs.Path(pd)
      val fs = pdPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(pdPath)) fs.mkdirs(pdPath)
      outcomes.filter(_.outcome == "processed").foreach { o =>
        val src = new org.apache.hadoop.fs.Path(unprocessedDir, o.file)
        if (fs.exists(src)) fs.rename(src, new org.apache.hadoop.fs.Path(pdPath, o.file))
      }
    }

    // O4: per-file outcome lines with run context (the reference logs each
    // failure through its context logger, datalake.go:77-106)
    outcomes.foreach { o =>
      val fileLog = log.withField("file", o.file)
      if (o.outcome == "processed") fileLog.info(s"processed rows=${o.records}")
      else fileLog.warn(s"failed: ${o.reason}")
    }
    val st = stats(spark.createDataset(outcomes))
    log.info(
      s"ingest done total=${st.total_files} processed=${st.processed_files} " +
        s"failed=${st.failed_files}")
    validDf.unpersist()
    st
  }

}
