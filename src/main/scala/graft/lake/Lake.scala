package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Sessions.withCallSite
import graft.model.{FileOutcome, IngestStats, SyncLog, Transaction}
import graft.source.CsvIngest

/** The datalake write path: composite-key merge-upsert, per-source
  * partitioned tables, sync-log audit append and job stats — the reference's
  * Mongo repository (storage/mongo_repository.go:33-75) re-expressed as
  * parquet-native DataFrame algebra.
  *
  * Scale posture (100 TB): the merge is `existing LEFT ANTI incoming` on the
  * composite key + union — Catalyst picks broadcast-hash when the incoming
  * batch is small (the common ingest case) and AQE handles skewed keys. The
  * lake is hive-partitioned by `data_source` (replacing the reference's
  * collection-per-source, mongo_repository.go:55), and every write — the
  * first one, an upsert, a compaction, the `_delta` settle — commits
  * through one stage-and-swap routine ([[replace]]) that swaps in only the
  * partitions the new rows cover, never the whole lake. Two writes append
  * in place instead and rewrite nothing: [[insertFast]]'s one-file
  * `_delta` append, and `Synthetic.persistToLake`
  * (`generate-synthetic-data --persist`), a partitioned append kept for
  * parity with the reference's InsertMany.
  *
  * Every read the lake makes of its own files passes a known schema
  * ([[lakeSchema]], [[deltaSchema]]): the schema is fixed by
  * [[Transaction.schema]] and the layout the first write chose, so no read
  * pays a parquet footer-inference job, and a sidecar holding no data files
  * reads as empty instead of failing. The layout itself comes from the
  * directory tree ([[layout]]), never from a Spark job.
  *
  * The sidecar is folded once per insert, not once per read: the process
  * that appended every pending insert keeps their latest row per merge key
  * in memory (`DeltaMemo`) with the sidecar listing it covers, and a read
  * whose listing matches takes the pending rows from there instead of
  * reading and folding `_delta`. Any other sidecar state (an upsert's
  * partial fold, a compaction, another process's file, a restarted
  * writer) is read and folded from its files.
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
    * O(1) per insert, with no sidecar read. Time-anchored — epoch
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
  private val layoutCache = scala.collection.concurrent.TrieMap.empty[String, Layout]
  private[graft] val layoutProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Forget what this process memoised about the lake at `lakePath` (its
    * layout and its folded sidecar), as a restarted process would.
    */
  private[graft] def forgetLayout(lakePath: String): Unit = {
    layoutCache.remove(lakePath)
    deltaMemo.remove(lakePath)
  }

  /** The folded `_delta` sidecar of a lake whose every pending insert this
    * process wrote: `files`, the visible data-file listing ([[deltaFiles]])
    * the fold covers, and `rows`, the latest inserted row per merge key —
    * what [[deltaLatest]] would compute from those files, with no job.
    * [[insertFast]] extends it by the row it appends; [[readView]] uses it
    * only while the sidecar's listing still equals `files`, so any other
    * change to the sidecar (an upsert's fold, a compaction, another
    * writer's file) makes it miss and the read folds the files instead.
    * Process-local, like [[layoutCache]].
    */
  private final case class DeltaMemo(files: Map[String, Long], rows: Map[Seq[Any], Transaction])
  private val deltaMemo = scala.collection.concurrent.TrieMap.empty[String, DeltaMemo]

  /** The lake's partition layout, fixed by its first write: `data_source`,
    * then a derived `posting_month` level when monthly. A call takes it once
    * ([[layout]]) and every write and read of that call uses its partition
    * columns and its `posting_month` derivation.
    */
  private[graft] final case class Layout(monthly: Boolean) {
    val partCols: Seq[String] = "data_source" +: (if (monthly) Seq("posting_month") else Nil)
    def derive(df: DataFrame): DataFrame =
      if (monthly) df.withColumn("posting_month", postingMonth(col("posting_date"))) else df
  }

  /** The layout of the lake at `lakePath`, read from the directory tree
    * with no Spark job: it is monthly when the first `data_source=*` dir
    * holds `posting_month=*` dirs. A path with no partition dir yet (absent,
    * or an empty first write) reads as flat and is not memoised, so the
    * first real write still decides.
    */
  private[graft] def layout(spark: SparkSession, lakePath: String): Layout =
    layoutCache.get(lakePath).getOrElse {
      layoutProbes.incrementAndGet()
      val root = new Path(lakePath)
      val fs = hfs(spark, root)
      def partDirs(dir: Path, partCol: String) =
        fs.listStatus(dir).iterator.filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      val source = if (fs.exists(root)) partDirs(root, "data_source").nextOption() else None
      source.fold(Layout(monthly = false)) { src =>
        val lay = Layout(partDirs(src.getPath, "posting_month").hasNext)
        layoutCache.put(lakePath, lay)
        lay
      }
    }

  private def hfs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

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

  private def readBase(spark: SparkSession, layout: Layout, paths: String*): DataFrame =
    spark.read.schema(lakeSchema(layout.monthly)).parquet(paths: _*)

  private def readDelta(spark: SparkSession, lakePath: String, layout: Layout): DataFrame =
    spark.read.schema(deltaSchema(layout.monthly)).parquet(deltaDir(lakePath))

  private def deltaExists(spark: SparkSession, lakePath: String): Boolean = {
    val dPath = new Path(deltaDir(lakePath))
    hfs(spark, dPath).exists(dPath)
  }

  /** The sidecar's data files as a read of it sees them: path under
    * `_delta` → length, skipping every file and dir whose name starts with
    * `_` or `.` (Spark's file index hides them: `_SUCCESS`, a crashed
    * write's `_temporary`). Empty when there is no sidecar. A listing, no
    * Spark job.
    */
  private def deltaFiles(spark: SparkSession, lakePath: String): Map[String, Long] = {
    val root = new Path(deltaDir(lakePath))
    val fs = hfs(spark, root)
    def walk(dir: Path, rel: String): Iterator[(String, Long)] =
      fs.listStatus(dir).iterator
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val name = rel + st.getPath.getName
          if (st.isDirectory) walk(st.getPath, name + "/") else Iterator(name -> st.getLen)
        }
    if (fs.exists(root)) walk(root, "").toMap else Map.empty
  }

  private def mergeKeyOf(t: Transaction): Seq[Any] = {
    val fields = t.productElementNames.zip(t.productIterator).toMap
    Transaction.mergeKey.map(fields)
  }

  /** Replace the contents of `target` with `rows`, the one stage-and-swap
    * routine for every directory the program rewrites. The rows are
    * written once to `<target>.staging`, a sibling of `target` (never
    * inside it, however `target` is spelled); then each leaf dir of it
    * (`partCols.length` partition levels deep; with no partition columns,
    * the whole dir) is swapped into `target` by delete and rename, and the
    * staging dir is deleted. Leaves of `target` the rows do not cover are
    * left as they are. The rows are fully written before the first delete,
    * so `rows` may read `target` itself and no caller cuts its plan first.
    * Renames are metadata operations on HDFS/local (on an object store a
    * rename is a copy). The swap is not transactional across leaves: a
    * crash between a leaf's delete and its rename loses that leaf, which is
    * a table format's job (Delta/Iceberg), out of scope for plain parquet.
    * A delete or rename the file system refuses throws before the staging
    * dir is dropped, so the staged rows are never the copy that is lost.
    * Returns the swapped-in leaf dirs.
    */
  private[graft] def replace(
      spark: SparkSession,
      rows: DataFrame,
      target: String,
      partCols: Seq[String] = Nil): Seq[String] = {
    val targetPath = new Path(target)
    val staged = targetPath.suffix(".staging")
    val fs = hfs(spark, staged)
    rows.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(staged.toString)

    def leafDirs(root: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(root)
      else
        fs.listStatus(root)
          .toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .flatMap(st => leafDirs(st.getPath, d - 1))

    val swapped = leafDirs(staged, partCols.length).map { src =>
      // partition-relative path, e.g. data_source=chase/posting_month=2024-01
      val rel = src.toUri.getPath.stripPrefix(staged.toUri.getPath).stripPrefix("/")
      val leaf = if (rel.isEmpty) targetPath else new Path(targetPath, rel)
      if (fs.exists(leaf) && !fs.delete(leaf, true))
        throw new java.io.IOException(s"replace: could not delete $leaf (staged rows kept at $src)")
      fs.mkdirs(leaf.getParent)
      if (!fs.rename(src, leaf))
        throw new java.io.IOException(s"replace: could not rename $src to $leaf")
      leaf.toString
    }
    fs.mkdirs(targetPath) // rows covering no leaf still leave the target dir
    fs.delete(staged, true)
    swapped
  }

  /** The lake's one commit: [[replace]] the partitions `rows` covers, then
    * settle the `_delta` sidecar — delete it when no `pending` row remains
    * (or none is given), else [[replace]] it with the pending rows. Returns
    * the row count of the swapped-in partitions (a parquet footer-metadata
    * read with the known schema, not a rewrite).
    */
  private def commit(
      spark: SparkSession,
      lakePath: String,
      layout: Layout,
      rows: DataFrame,
      pending: Option[DataFrame]): Long = {
    val leaves = replace(spark, rows, lakePath, layout.partCols)
    val written = if (leaves.isEmpty) 0L else readBase(spark, layout, leaves: _*).count()
    if (deltaExists(spark, lakePath)) pending.filterNot(_.isEmpty) match {
      case Some(rest) => replace(spark, rest.coalesce(1), deltaDir(lakePath))
      case None =>
        val dPath = new Path(deltaDir(lakePath))
        hfs(spark, dPath).delete(dPath, true)
    }
    written
  }

  /** LSM-style single-row insert (the API's `PUT /history/transaction`
    * path): append ONE small parquet file to the `_delta` sidecar instead
    * of merging + rewriting the row's whole partition. At 100 TB a
    * partition is GBs — per-row partition rewrites are the difference
    * between an insert being milliseconds and minutes. Delta rows carry a
    * monotonic `_seq` ([[nextDeltaSeq]]) so later inserts win on read;
    * [[readLake]] folds them, [[upsertIntoLake]] folds touched ones on the
    * next batch, and [[compact]] folds everything back to base.
    *
    * O(1) in the sidecar's content: it lists the sidecar before and after
    * its append, and never reads it. When the append added exactly one
    * file to the listing the memo holds (or to a sidecar with no data file
    * yet), the row joins the memo's fold ([[DeltaMemo]]), replacing the
    * memo row with its merge key: every memo row carries an earlier `_seq`
    * of this process. Otherwise the memo goes, and reads fold the files.
    *
    * Falls back to the merge path when the lake doesn't exist yet (the
    * first write defines the layout).
    */
  def insertFast(spark: SparkSession, t: Transaction, lakePath: String): Unit =
    withCallSite(spark, "Lake.insertFast") {
      import spark.implicits._
      val hPath = new Path(lakePath)
      if (!hfs(spark, hPath).exists(hPath)) upsertIntoLake(spark, Seq(t).toDF(), lakePath)
      else insertDelta(spark, t, lakePath)
    }

  private def insertDelta(spark: SparkSession, t: Transaction, lakePath: String): Unit = {
    import spark.implicits._
    val before = deltaFiles(spark, lakePath)
    layout(spark, lakePath).derive(Seq(t).toDF())
      .withColumn("_seq", lit(nextDeltaSeq()))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(deltaDir(lakePath))
    val after = deltaFiles(spark, lakePath)
    val oneMore = after.size == before.size + 1 &&
      before.forall { case (f, n) => after.get(f).contains(n) }
    deltaMemo.synchronized {
      val prior =
        if (before.isEmpty) Some(DeltaMemo(Map.empty, Map.empty))
        else deltaMemo.get(lakePath).filter(_.files == before)
      prior.filter(_ => oneMore) match {
        case Some(m) => deltaMemo.put(lakePath, DeltaMemo(after, m.rows.updated(mergeKeyOf(t), t)))
        case None => deltaMemo.remove(lakePath)
      }
    }
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
    * delta inserts on the same merge key (latest `_seq` wins). The base is
    * read with the lake's known schema (no inference job), and building
    * the view lists the sidecar and submits no Spark job once the layout
    * is memoised; its columns are the base's, in [[lakeSchema]] order,
    * whether or not a sidecar is pending.
    * When the sidecar's listing is the one this process's inserts folded
    * ([[DeltaMemo]]), the pending rows come from that fold as local rows
    * and no job reads `_delta`; otherwise the sidecar is read and folded
    * in one task with no exchange ([[deltaLatest]]). Either way the
    * pending rows are the anti-join's build side, broadcast to the base
    * scan, so the base never shuffles. Size bound: the pending sidecar
    * must fit one task and one broadcast (a driver collect) — compaction
    * cadence keeps it there.
    */
  def readLake(spark: SparkSession, lakePath: String): DataFrame =
    readView(spark, lakePath, layout(spark, lakePath))

  private def readView(spark: SparkSession, lakePath: String, layout: Layout): DataFrame = {
    import spark.implicits._
    val base = readBase(spark, layout, lakePath)
    val files = deltaFiles(spark, lakePath)
    if (files.isEmpty) base
    else {
      val latest = deltaMemo.get(lakePath).filter(_.files == files) match {
        case Some(m) => layout.derive(m.rows.values.toSeq.toDF())
        case None => deltaLatest(readDelta(spark, lakePath, layout))
      }
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
    * small ingest batch rewrites O(batch partitions), not the lake. The
    * merged rows commit through [[replace]]: written ONCE to a staging dir,
    * then swapped into the lake partition dir by partition dir (a manifest
    * table format like Delta/Iceberg MERGE is the real fix on object
    * stores). The first write commits the same way. Returns the number of
    * rows written.
    */
  def upsertIntoLake(
      spark: SparkSession,
      batch: DataFrame,
      lakePath: String,
      monthPartitioned: Boolean = false): Long = withCallSite(spark, "Lake.upsertIntoLake") {
    val hPath = new Path(lakePath)
    val exists = hfs(spark, hPath).exists(hPath)
    // The lake's ON-DISK layout wins over the flag once it exists — a
    // single-row API insert or a streaming batch must not need to know how
    // the lake was created (and a mismatched union would throw).
    val lay =
      if (exists) layout(spark, lakePath)
      else { val l = Layout(monthPartitioned); layoutCache.put(lakePath, l); l }
    val batchP = lay.derive(batch)
    val (rows, pending) =
      if (!exists) (dedupKeepFirst(batchP, Transaction.mergeKey, Transaction.tieBreak), None)
      else {
        // Only partitions the batch touches enter the merge: filter the
        // existing side by the batch's sources AND (when month-partitioned)
        // its months, so a daily batch re-reads O(days' partitions), not
        // years of history.
        val sources = batch.select("data_source").distinct().collect().map(_.getString(0))
        val touchedPred = {
          val bySource = col("data_source").isin(sources.toSeq.map(x => x: Any): _*)
          if (lay.monthly) {
            val months = batchP.select("posting_month").distinct().collect().map(_.getString(0))
            bySource && col("posting_month").isin(months.toSeq.map(x => x: Any): _*)
          } else bySource
        }
        val base = readBase(spark, lay, lakePath).filter(touchedPred)
        // Pending fast-insert delta rows for the touched partitions fold into
        // this merge (delta wins over base, then the batch wins over both —
        // same precedence readLake shows); rows for untouched partitions stay
        // in the sidecar (delta is small — bounded by compaction cadence — so
        // rewriting it is cheap).
        val deltaAll = if (deltaExists(spark, lakePath)) Some(readDelta(spark, lakePath, lay)) else None
        val existing = deltaAll.fold(base)(d => merge(base, deltaLatest(d).filter(touchedPred)))
        (merge(existing, batchP), deltaAll.map(_.filter(!touchedPred)))
      }
    commit(spark, lakePath, lay, rows, pending)
  }

  /** Compact a lake: collapse every hive partition to ONE parquet file.
    * Merge-heavy ingest accretes small files (every upsert rewrites touched
    * partitions with the writer's task count); at 100 TB the file count —
    * not the byte count — is what kills scan planning and open() overhead.
    * Hashing on the partition columns sends each partition's rows to
    * exactly one shuffle task (the session's shuffle partitions, which AQE
    * may coalesce) ⇒ one output file per partition; partitions bigger than
    * one task should handle, salt-split instead. Pending fast-insert delta
    * rows fold in and the sidecar goes. Run as a periodic maintenance job;
    * layout-only, never rows (spec-checked).
    */
  def compact(
      spark: SparkSession,
      lakePath: String,
      sortBy: Seq[String] = Nil): Long = withCallSite(spark, "Lake.compact") {
    val lay = layout(spark, lakePath)
    val parts = lay.partCols.map(col)
    // `sortBy` clusters rows inside each rewritten file so parquet's
    // row-group min/max stats become selective: a date-range scan over a
    // posting_date-sorted partition skips every row group outside the
    // window instead of reading the partition end to end — the poor man's
    // z-order, and at 100 TB the difference between a range query reading
    // gigabytes and reading row-group headers. `posting_date` sorts by
    // the date it spells: its MM/dd/yyyy string order is month-major, so
    // 01/01/2024 would sort before 12/31/2023. The date is a column of its
    // own, parsed once per row: a sort key expression is evaluated again
    // in every comparison the sort's prefix does not settle.
    val clustered = readView(spark, lakePath, lay).repartition(parts: _*)
    val key = (c: String) => if (c == "posting_date") "_posting_day" else c
    commit(spark, lakePath, lay,
      if (sortBy.isEmpty) clustered
      else clustered.withColumn("_posting_day", try_to_date(col("posting_date"), "MM/dd/yyyy"))
        .sortWithinPartitions(parts ++ sortBy.map(c => col(key(c))): _*)
        .drop("_posting_day"),
      None)
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
    * outcomes → counters + failure map, folded locally from one
    * collect (one outcome row per input file).
    */
  def stats(outcomes: Dataset[FileOutcome]): IngestStats = {
    val all = outcomes.collect()
    IngestStats(
      total_files = all.length.toLong,
      processed_files = all.count(_.outcome == "processed").toLong,
      failed_files = all.count(_.outcome == "failed").toLong,
      failures = all.filter(_.outcome == "failed").map(o => o.file -> o.reason).toMap)
  }

  /** End-to-end ingest (reference `ingest` command, main.go:64-91 +
    * datalake/client.go:33-79): scan dir → canonicalize → merge into lake →
    * sync log → stats. The per-file sequential loop collapses into one
    * distributed job; per-file outcomes are recovered from `_file` lineage
    * (O1 fault isolation via outcome rows instead of try/catch). The
    * `quarantinePath` dir exists only once an ingest has rejected a row:
    * a clean ingest writes no quarantine file, so a reader of that path
    * must treat a missing dir as an empty quarantine.
    */
  def ingestDirectory(
      spark: SparkSession,
      unprocessedDir: String,
      lakePath: String,
      syncLogPath: String,
      processedDir: Option[String] = None,
      quarantinePath: Option[String] = None,
      log: graft.LogCtx = graft.LogCtx.default): IngestStats = {
    // The CSV parse (`CsvIngest.parse`) turns CSV parser column pruning off
    // for plan-independent ragged-row detection; every action on the parsed
    // rows happens inside this method, so scope the session change here.
    CsvIngest.restoringColumnPruning(spark) {
      withCallSite(spark, "Lake.ingestDirectory") {
        ingestDirectoryInner(
          spark, unprocessedDir, lakePath, syncLogPath, processedDir, quarantinePath,
          log.withField("dir", unprocessedDir))
      }
    }
  }

  /** The per-batch ingest core, shared by [[ingestDirectory]] and
    * `StreamingIngest`: canonicalize `raw` (the parsed CSV rows with
    * `_file`/source lineage), write the rejected rows to `quarantinePath`
    * when given, merge the valid rows into the lake and append the sync
    * log. The annotated frame is persisted, so the CSV is parsed once: one
    * aggregate over it gives the per-file counts and the per-source upload
    * counts, and the quarantine and the upsert read it too. Persisting all
    * of its columns keeps the ragged-row drop independent of what a later
    * plan projects. Rows with no `data_source` (a file name that yields no
    * source) are not routed. Returns (raw rows, valid rows) per lowercased
    * `_file`.
    */
  private[graft] def ingestBatch(
      spark: SparkSession,
      raw: DataFrame,
      lakePath: String,
      syncLogPath: String,
      quarantinePath: Option[String]): Map[String, (Long, Long)] = withCallSite(spark, "Lake.ingestBatch") {
    import graft.transform.Canonicalize
    val ann = Canonicalize.annotate(raw).persist()
    try {
      // (file, source, (raw rows, valid rows)); a file's source comes from
      // its name, so each file is one group
      val groups = ann.groupBy(col("_file"), col("data_source"))
        .agg(count(lit(1)), count_if(col("_reject_reason").isNull))
        .collect().map(r => (r.getString(0), Option(r.getString(1)), (r.getLong(2), r.getLong(3))))

      // Rejected rows (the reference logs-and-skips, datalake.go:220-239) go
      // to a quarantine table when configured — at scale, silently dropping
      // rows is how a lake rots; (file, reason) lineage makes skips auditable.
      // A batch the aggregate shows no rejected row for writes nothing.
      val rejected = groups.exists { case (_, _, (rawN, validN)) => rawN > validN }
      quarantinePath.filter(_ => rejected).foreach { qp =>
        Canonicalize.rejectedRows(ann)
          .withColumn("quarantined_at", current_timestamp())
          .write.mode(SaveMode.Append).parquet(qp)
      }

      val uploaded = groups.collect { case (_, Some(ds), (_, validN)) => ds -> validN }
        .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0L).toSeq
      if (uploaded.nonEmpty) {
        val routed = Canonicalize.validRows(ann).filter(col("data_source").isNotNull)
        upsertIntoLake(spark, routed.drop("_file"), lakePath)
        appendSyncLog(spark, syncLogPath, uploaded)
      }
      groups.map { case (file, _, n) => file -> n }.toMap
    } finally ann.unpersist()
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

    // Listing + strict-quote validation run once here; quote-corrupt files
    // are whole-file failures like the reference (csv/csv.go:75-79 →
    // datalake.go:84-96) — never partially ingested, never moved.
    val files = CsvIngest.listCsvFiles(spark, unprocessedDir)
    val quoteFailed = CsvIngest.quoteErrors(spark, files)
    val goodFiles = files.filterNot(f => quoteFailed.contains(f.name))
    val counts = ingestBatch(
      spark, CsvIngest.readCsvFiles(spark, goodFiles), lakePath, syncLogPath, quarantinePath)

    // Per-file outcomes, keyed by the `_file` lineage column: >0 raw && 0
    // valid ⇒ file failure "no valid transactions" (P10, reference
    // datalake.go:200-204). Keying by _file (not data_source/account_id)
    // keeps two files of the same account from cross-contaminating each
    // other's outcome.
    val outcomes = goodFiles.map { f =>
      val (rawN, validN) = counts.getOrElse(f.name.toLowerCase, (0L, 0L))
      if (rawN > 0L && validN == 0L)
        FileOutcome(f.name, "failed", "no valid transactions", 0L)
      else FileOutcome(f.name, "processed", "", validN)
    } ++ quoteFailed.toSeq.map {
      case (name, reason) => FileOutcome(name, "failed", reason, 0L)
    } ++ CsvIngest.skippedFiles(spark, unprocessedDir).map {
      case (name, reason) => FileOutcome(name, "failed", reason, 0L)
    }

    // Move-to-processed (K6, reference datalake.go:274-318): driver-side
    // rename after a successful write, only for successfully processed
    // files. Hadoop FileSystem so the same code moves files on file://,
    // HDFS, or an object store (where rename is copy+delete — still the
    // reference's semantics, not its syscall).
    processedDir.foreach { pd =>
      val pdPath = new Path(pd)
      val fs = hfs(spark, pdPath)
      if (!fs.exists(pdPath)) fs.mkdirs(pdPath)
      outcomes.filter(_.outcome == "processed").foreach { o =>
        val src = new Path(unprocessedDir, o.file)
        if (fs.exists(src)) fs.rename(src, new Path(pdPath, o.file))
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
    st
  }

}
