package graft.lake

import graft.SparkSpec
import graft.model.Transaction

/** End-to-end directory ingest: per-file outcomes (P10/O1/A2), per-file
  * counts (A1), move-to-processed (K6), and the single-row API insert (K7).
  */
class IngestDirectorySpec extends SparkSpec {
  import spark.implicits._

  test("ingestDirectory: outcomes, counts, all-invalid guard, move-to-processed") {
    val root = tmpDir("ingest")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val done = new java.io.File(root, "done")
    val lake = new java.io.File(root, "lake").getPath
    val sync = new java.io.File(root, "sync").getPath

    writeFile(in, "chase1234_jan.csv",
      """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
        |DEBIT,01/15/2024,COFFEE SHOP,-4.50,ACH_DEBIT,995.50,
        |CREDIT,01/16/2024,PAYROLL,2000.00,ACH_CREDIT,2995.50,
        |DEBIT,badrow,DROPPED,1.00,X,1.0,""".stripMargin)
    // all-invalid file sharing account 1234 — must fail independently (P10)
    writeFile(in, "chase1234_feb.csv",
      """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
        |DEBIT,notadate,BAD,-1.00,ACH_DEBIT,100.00,""".stripMargin)
    writeFile(in, "mystery.csv", "a,b\n1,2")
    writeFile(in, "notes.txt", "hi")

    val quarantine = new java.io.File(root, "quarantine").getPath
    val stats = Lake.ingestDirectory(
      spark, in.getPath, lake, sync, Some(done.getPath), Some(quarantine))

    assert(stats.total_files === 4)
    assert(stats.processed_files === 1)
    assert(stats.failed_files === 3)
    assert(stats.failures === Map(
      "chase1234_feb.csv" -> "no valid transactions",
      "mystery.csv" -> "unable to extract source info from filename",
      "notes.txt" -> "Not a valid CSV file"))

    // lake holds only jan's 2 valid rows; bad row dropped (P6)
    val rows = spark.read.parquet(lake).as[Transaction].collect()
    assert(rows.map(_.description).toSet === Set("COFFEE SHOP", "PAYROLL"))

    // K6: only the processed file moved
    assert(new java.io.File(done, "chase1234_jan.csv").exists())
    assert(new java.io.File(in, "chase1234_feb.csv").exists())

    // quarantine holds the skipped rows with file + reason lineage AND the
    // raw row payload (JSON), so fixes can be re-ingested
    val q = spark.read.parquet(quarantine)
      .select("_file", "reason", "raw_row").as[(String, String, String)].collect()
    assert(q.map(r => (r._1, r._2)).toSet === Set(
      ("chase1234_jan.csv", "invalid posting date"),
      ("chase1234_feb.csv", "invalid posting date")))
    assert(q.forall(_._3.contains("\"posting date\":")), q.mkString("; "))
    assert(q.exists(_._3.contains("badrow")), q.mkString("; "))

    // A3/K3: sync log records 2 uploaded rows for chase
    val log = spark.read.parquet(sync).collect()
    assert(log.map(r => (r.getAs[String]("collection_name"), r.getAs[Long]("records_uploaded"))).toSeq
      === Seq(("transactions_chase", 2L)))
  }

  test("quote-corrupt file is a WHOLE-file failure: not ingested, not moved (csv.go:75-79 → datalake.go:84-96)") {
    val root = tmpDir("ingestQ")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val done = new java.io.File(root, "done")
    val lake = new java.io.File(root, "lake").getPath
    val sync = new java.io.File(root, "sync").getPath

    writeFile(in, "chase1111_ok.csv",
      """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
        |DEBIT,01/15/2024,CLEAN ROW,-4.50,ACH_DEBIT,995.50,""".stripMargin)
    // line 3 has a bare quote — the file ALSO contains a perfectly valid
    // row, which must NOT be ingested (whole-file atomicity like Go)
    writeFile(in, "chase2222_bad.csv",
      "Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #\n" +
        "DEBIT,01/16/2024,WOULD BE FINE,-1.00,ACH_DEBIT,100.00,\n" +
        "DEBIT,01/17/2024,oops\"quote,-2.00,ACH_DEBIT,98.00,")

    val stats = Lake.ingestDirectory(spark, in.getPath, lake, sync, Some(done.getPath))
    assert(stats.total_files === 2)
    assert(stats.processed_files === 1)
    assert(stats.failed_files === 1)
    assert(stats.failures === Map(
      "chase2222_bad.csv" -> "parse error on line 3: bare \" in non-quoted field"))

    val rows = spark.read.parquet(lake).as[Transaction].collect()
    assert(rows.map(_.description).toSeq === Seq("CLEAN ROW"))

    assert(new java.io.File(done, "chase1111_ok.csv").exists())
    assert(new java.io.File(in, "chase2222_bad.csv").exists()) // failed ⇒ stays
  }

  test("embedded-newline memo survives ingest end-to-end (multiLine parity)") {
    val root = tmpDir("ingestM")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val lake = new java.io.File(root, "lake").getPath
    val sync = new java.io.File(root, "sync").getPath
    writeFile(in, "chase3333_memo.csv",
      "Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #\n" +
        "DEBIT,01/15/2024,\"MEMO line1\nline2\",-4.50,ACH_DEBIT,995.50,")
    val stats = Lake.ingestDirectory(spark, in.getPath, lake, sync)
    assert(stats.processed_files === 1 && stats.failed_files === 0)
    val rows = spark.read.parquet(lake).as[Transaction].collect()
    assert(rows.map(_.description).toSeq === Seq("MEMO line1\nline2"))
  }

  test("ingestDirectory parses each CSV once: quarantine, accounting and upsert read one persisted parse") {
    // R data rows in F files into an empty lake, quarantine on. Records
    // read: the quote check reads one record per file (F), the parse reads
    // R, and the commit counts the rows it wrote (one per valid row).
    // Each extra parse of the CSVs would read R more
    val root = tmpDir("ingestOnce")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val lake = new java.io.File(root, "lake").getPath
    val sync = new java.io.File(root, "sync").getPath
    val quarantine = new java.io.File(root, "quarantine").getPath
    val perFile = 500
    val acct = Seq(1001, 1002, 1003)
    for (a <- acct) {
      // every 10th row has an invalid date and goes to the quarantine
      val rows = (0 until perFile).map { i =>
        val date = if (i % 10 == 0) "notadate" else f"01/${i % 28 + 1}%02d/2024"
        s"DEBIT,$date,ROW $a-$i,-$i.00,ACH_DEBIT,0.00,"
      }
      writeFile(in, s"chase${a}_jan.csv",
        ("Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #" +: rows).mkString("\n"))
    }
    val files = acct.size.toLong
    val rawRows = files * perFile
    val validRows = files * (perFile - perFile / 10)

    val read = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker")) done.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val stats = try {
      val st = Lake.ingestDirectory(spark, in.getPath, lake, sync, quarantinePath = Some(quarantine))
      // the listener bus delivers in order: every stage of the call
      // completes before this marker job starts
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      st
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(stats.processed_files === files && stats.failed_files === 0)
    assert(spark.read.parquet(lake).count() === validRows)
    assert(spark.read.parquet(quarantine).count() === rawRows - validRows)
    val records = read.get()
    val once = rawRows + files + validRows
    info(s"records read $records (one parse: $once), jobs ${jobs.get()}")
    assert(records >= once, s"read $records records")
    // a second parse would read R more; cached-block reads add a handful
    assert(records < once + rawRows / 2, s"read $records records: the CSVs were parsed more than once")
  }

  test("a clean ingest with quarantine on writes no quarantine file and runs no quarantine job") {
    // the same clean file into two empty lakes, quarantine on and off: the
    // aggregate shows no rejected row, so the quarantine write is skipped
    // and both calls run the same jobs
    val root = tmpDir("ingestClean")
    def jobsOf(quarantine: Option[String], name: String): Long = {
      val in = new java.io.File(root, s"in-$name"); in.mkdirs()
      writeFile(in, "chase1234_jan.csv",
        """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
          |DEBIT,01/15/2024,COFFEE SHOP,-4.50,ACH_DEBIT,995.50,
          |CREDIT,01/16/2024,PAYROLL,2000.00,ACH_CREDIT,2995.50,""".stripMargin)
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val st = Lake.ingestDirectory(spark, in.getPath,
          new java.io.File(root, s"lake-$name").getPath,
          new java.io.File(root, s"sync-$name").getPath, quarantinePath = quarantine)
        assert(st.processed_files === 1 && st.failed_files === 0)
        org.apache.spark.ListenerBusDrain(sc)
      } finally sc.removeSparkListener(listener)
      jobs.get()
    }
    val quarantine = new java.io.File(root, "quarantine")
    val withQ = jobsOf(Some(quarantine.getPath), "q")
    val withoutQ = jobsOf(None, "noq")
    info(s"jobs: quarantine on $withQ, off $withoutQ")
    assert(!quarantine.exists(), "a clean ingest wrote a quarantine file")
    assert(withQ === withoutQ)
  }

  test("compact: collapses partitions to one file each; rows unchanged") {
    val lake = new java.io.File(tmpDir("cmp"), "lake").getPath
    // three upserts -> several small files per partition
    for (amt <- Seq(1.0, 2.0, 3.0)) {
      val t = Transaction("DEBIT", "01/01/2024", s"row$amt", amt, 0.0, "", "", "", "chase", "1234")
      Lake.upsertIntoLake(spark, Seq(t).toDF(), lake)
    }
    val before = spark.read.parquet(lake).as[Transaction].collect().toSet
    def files = new java.io.File(lake, "data_source=chase")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1)
    assert(Lake.compact(spark, lake) === 3L)
    assert(files === 1)
    assert(spark.read.parquet(lake).as[Transaction].collect().toSet === before)
  }

  test("insertTransaction: single-row API insert upserts through the merge path (K7/Q4)") {
    val lake = new java.io.File(tmpDir("api"), "lake").getPath
    val t = Transaction("DEBIT", "01/01/2024", "api row", 1.0, 0.0, "", "", "", "chase", "1234")
    assert(Lake.upsertIntoLake(spark, Seq(t).toDF(), lake) === 1L)
    assert(Lake.upsertIntoLake(spark, Seq(t.copy(amount = 2.0)).toDF(), lake) === 1L) // update, not dup
    val rows = spark.read.parquet(lake)
      .select("description", "amount").as[(String, Double)].collect().toSeq
    assert(rows === Seq(("api row", 2.0)))
  }

  test("upsert auto-detects the lake's month layout: flag-less writes into a monthly lake work") {
    val lake = new java.io.File(tmpDir("apiM2"), "lake").getPath
    val t = Transaction("DEBIT", "01/10/2024", "first", 1.0, 0.0, "", "", "", "chase", "1234")
    Lake.upsertIntoLake(spark, Seq(t).toDF(), lake, monthPartitioned = true)
    // a later caller that doesn't know the layout (API insert, streaming)
    Lake.upsertIntoLake(spark,
      Seq(t.copy(description = "second", posting_date = "02/15/2024")).toDF(), lake)
    val rows = spark.read.parquet(lake).as[Transaction].collect()
    assert(rows.map(_.description).toSet === Set("first", "second"))
    assert(new java.io.File(lake, "data_source=chase/posting_month=2024-02").exists())
  }
}
