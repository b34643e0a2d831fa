package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.lake.Lake
import graft.model.{FileOutcome, IngestStats}
import graft.source.CsvIngest
import graft.transform.Canonicalize
import perfbench.TxnData.{Batch, Digest, Model}

/** The ingest phase of `lake_daily`: the paper's `ingest` command as it
  * runs each day. An empty lake takes a day-1 directory (about 40 files,
  * with processed-file moves and quarantine on, and the failure-path
  * files), then small day-2 directories whose rows half update existing
  * keys. The source, transform and lake-write layers do this work.
  */
object IngestDaily {
  val Day1Rows = 20000
  val Day2Rows = 5000
  val Day2Batches = 1

  /** The generated inputs, the model's digest after each batch, and the
    * final model.
    */
  final case class Plan(batches: Seq[(String, Batch)], digests: Seq[Digest], model: Model, pristine: Path)

  def plan(ctx: Ctx, tag: String): Plan = {
    val gen = new TxnData.Gen(ctx.seed)
    val model = new Model
    val d1 = gen.day1(Day1Rows)
    model.ingest(d1.valid)
    val digests = Seq.newBuilder[Digest] += model.digest
    val d2 = (1 to Day2Batches).map { k =>
      val b = gen.day2(model, Day2Rows, s"d$k")
      model.ingest(b.valid)
      digests += model.digest
      s"day2-$k" -> b
    }
    val dir = ctx.fresh(s"inputs-$tag")
    val batches = ("day1" -> d1) +: d2
    batches.foreach { case (n, b) => b.write(dir.resolve(n)) }
    Plan(batches, digests.result(), model, dir)
  }

  type Ingest = (String, String, String, String, String, Batch) => IngestStats

  def plain(ctx: Ctx): Ingest = (in, lake, sync, done, q, _) =>
    Lake.ingestDirectory(ctx.spark, in, lake, sync, Some(done), Some(q))

  /** Runs every batch of the plan into a fresh lake, checking each one;
    * returns the lake and the summed ingest wall.
    */
  def load(ctx: Ctx, p: Plan, tag: String, ingest: Ingest, record: Boolean): (Path, Double) = {
    import ctx._
    val base = ctx.fresh(s"cycle-$tag")
    Fs.copy(p.pristine, base.resolve("in"))
    val lake = base.resolve("lake").toString
    val sync = base.resolve("synclog").toString
    val quarantine = base.resolve("quarantine").toString
    var expectedSync = Seq.empty[(String, Long)]
    var expectedQuarantined = 0L
    var total = 0.0
    p.batches.zipWithIndex.foreach { case ((name, b), i) =>
      val in = base.resolve("in").resolve(name)
      val done = base.resolve("done").resolve(name)
      val (stats, wall) = rec.op {
        ingest(in.toString, lake, sync, done.toString, quarantine, b)
      }
      total += wall
      if (record) rec.add(if (i == 0) "day1_s" else "day2_s", wall)
      checkStats(ctx, name, b, stats)
      rec.check(Fs.names(done) == b.processed, s"$name: processed-file moves differ")
      rec.check(Fs.names(in) == b.failures.keySet, s"$name: files left unprocessed differ")
      expectedSync ++= b.syncLog.toSeq
      val logged = spark.read.parquet(sync).select("collection_name", "records_uploaded")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      rec.check(logged.sorted == expectedSync.sorted, s"$name: sync log differs")
      expectedQuarantined += b.rejected
      val quarantined = if (Files.exists(Path.of(quarantine))) spark.read.parquet(quarantine).count() else 0L
      rec.check(quarantined == expectedQuarantined,
        s"$name: quarantine holds $quarantined rows, $expectedQuarantined invalid lines generated")
      if (i == 0 || i == p.batches.size - 1) {
        val d = digest(ctx, lake)
        rec.check(d == p.digests(i), s"$name: lake content $d, model ${p.digests(i)}")
      }
    }
    if (record) rec.add("load_s", total)
    (Path.of(lake), total)
  }

  private def checkStats(ctx: Ctx, name: String, b: Batch, st: IngestStats): Unit = {
    val rec = ctx.rec
    rec.check(st.total_files == b.processed.size + b.failures.size, s"$name: total_files ${st.total_files}")
    rec.check(st.processed_files == b.processed.size, s"$name: processed_files ${st.processed_files}")
    rec.check(st.failed_files == b.failures.size, s"$name: failed_files ${st.failed_files}")
    rec.check(st.failures.keySet == b.failures.keySet, s"$name: failed files ${st.failures.keySet}")
    b.failures.foreach { case (f, reason) =>
      val got = st.failures.getOrElse(f, "")
      rec.check(if (reason.isEmpty) got.nonEmpty else got == reason, s"$name: $f failed with '$got'")
    }
  }

  /** Content digest of a lake; also checks that it is unique on the merge key. */
  def digest(ctx: Ctx, lake: String): Digest = {
    val rows = ctx.spark.read.parquet(lake).collect().map(TxnData.Row.of)
    ctx.rec.check(rows.map(_.key).distinct.length == rows.length, s"lake $lake repeats a merge key")
    Digest.of(rows.iterator)
  }

  /** `Lake.ingestDirectory` re-composed from the public functions it calls,
    * each call in its own span. Per-file accounting, quarantine and moves
    * follow `ingestDirectory` step for step.
    */
  def traced(ctx: Ctx): Ingest = (in, lake, sync, done, q, b) => {
    import ctx._
    import spark.implicits._
    tr.span("ingest") { top =>
      top.tag("lake", lake)
      val pruneKey = "spark.sql.csv.parser.columnPruning.enabled"
      val prevPrune = spark.conf.getOption(pruneKey)
      try {
        val (files, skipped) = tr.span("source.list") { s =>
          val f = CsvIngest.listCsvFiles(spark, in)
          val sk = CsvIngest.skippedFiles(spark, in)
          s.attr("files", (f.size + sk.size).toDouble)
          s.attr("input_bytes", b.inputBytes.toDouble)
          (f, sk)
        }
        val quoteFailed = tr.span("source.quote_check")(_ => CsvIngest.quoteErrors(spark, files))
        val goodFiles = files.filterNot(f => quoteFailed.contains(f.name))
        val raw = tr.span("source.read_plan")(_ => CsvIngest.readCsvFiles(spark, goodFiles))
        val (validWithFile, rejected) = tr.span("transform.split")(_ => Canonicalize.split(spark, raw))
        val validDf = validWithFile.cache()
        tr.span("transform.quarantine") { _ =>
          rejected.withColumn("quarantined_at", current_timestamp())
            .write.mode(SaveMode.Append).parquet(q)
        }
        def perFile(df: DataFrame) = df.groupBy(col("_file")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val (rawCounts, validCounts, anyValid) = tr.span("transform.accounting") { s =>
          val rc = perFile(raw)
          val vc = perFile(validDf)
          s.attr("rows_valid", vc.values.sum.toDouble)
          s.attr("rows_rejected", (rc.values.sum - vc.values.sum).toDouble)
          (rc, vc, !validDf.isEmpty)
        }
        val outcomes = goodFiles.map { f =>
          val rawN = rawCounts.getOrElse(f.name.toLowerCase, 0L)
          val validN = validCounts.getOrElse(f.name.toLowerCase, 0L)
          if (rawN > 0L && validN == 0L) FileOutcome(f.name, "failed", "no valid transactions", 0L)
          else FileOutcome(f.name, "processed", "", validN)
        } ++ (quoteFailed.toSeq ++ skipped).map { case (n, r) => FileOutcome(n, "failed", r, 0L) }
        if (anyValid) {
          tr.span("lake.upsert") { s =>
            s.tag("lake", lake)
            // day-1 writes a new lake; only a merge into an existing one re-reads it
            s.attr("existed", if (Files.exists(Path.of(lake))) 1.0 else 0.0)
            val before = System.currentTimeMillis()
            s.attr("batch_rows", validCounts.values.sum.toDouble)
            Lake.upsertIntoLake(spark, validDf.drop("_file"), lake)
            val written = Fs.dataFiles(Path.of(lake)).filter(_.toFile.lastModified() >= before - 1000L)
            s.attr("files_written", written.size.toDouble)
            s.attr("bytes_written", written.map(_.toFile.length()).sum.toDouble)
            s.attr("input_bytes", b.inputBytes.toDouble)
          }
          tr.span("lake.sync_log") { _ =>
            val uploaded = validDf.groupBy(col("data_source")).count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
            Lake.appendSyncLog(spark, sync, uploaded)
          }
        }
        tr.span("lake.move") { _ =>
          val fs = new org.apache.hadoop.fs.Path(done).getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.mkdirs(new org.apache.hadoop.fs.Path(done))
          outcomes.filter(_.outcome == "processed").foreach { o =>
            fs.rename(new org.apache.hadoop.fs.Path(in, o.file), new org.apache.hadoop.fs.Path(done, o.file))
          }
        }
        val st = tr.span("lake.stats")(_ => Lake.stats(spark.createDataset(outcomes)))
        validDf.unpersist()
        st
      } finally prevPrune match {
        case Some(v) => spark.conf.set(pruneKey, v)
        case None    => spark.conf.unset(pruneKey)
      }
    }
  }
}
