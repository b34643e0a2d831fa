package graft.streaming

import org.apache.spark.sql.functions.sum

import graft.SparkSpec
import graft.lake.Lake
import graft.model.Transaction

/** End-to-end streaming ingest: files stream in, get canonicalized, merged
  * into the lake, archived by the source; a second wave of files is an
  * incremental micro-batch that upserts (not duplicates) the lake.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val goldenCsv =
    """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
      |DEBIT,01/15/2024,COFFEE SHOP,-4.50,ACH_DEBIT,995.50,
      |CREDIT,01/16/2024,PAYROLL,2000.00,ACH_CREDIT,2995.50,
      |DEBIT,01/17/2024
      |BAD,notadate,DROPPED,1.00,X,1.0,""".stripMargin
  // the ragged 2-field row must drop in streaming exactly as in batch

  test("streaming ingest: canonicalize, merge, archive, incremental upsert") {
    val root = tmpDir("stream")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val archive = new java.io.File(root, "archive").getPath
    val lake = new java.io.File(root, "lake").getPath
    val sync = new java.io.File(root, "sync").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    // source archives batch N's files when batch N+1 commits (see
    // StreamingIngest doc) — so wave-1 files appear under the archive dir
    // only after wave 2 runs
    def archived: Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(archive)).map(_.getName).filter(_.endsWith(".csv"))
    }

    writeFile(in, "chase1234_jan.csv", goldenCsv)
    val q1 = StreamingIngest.run(spark, in.getPath, archive, lake, sync, ckpt)
    q1.processAllAvailable()
    q1.stop()

    val first = spark.read.parquet(lake).as[Transaction].collect()
    assert(first.length === 2) // invalid-date row dropped
    assert(first.map(_.description).toSet === Set("COFFEE SHOP", "PAYROLL"))
    assert(first.forall(t => t.data_source == "chase" && t.account_id == "1234"))

    // wave 2: overlapping key with changed amount + a brand-new row
    writeFile(in, "chase1234_feb.csv",
      """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
        |DEBIT,01/15/2024,COFFEE SHOP,-9.99,ACH_DEBIT,990.01,
        |DEBIT,02/01/2024,NEW ROW,-1.00,ACH_DEBIT,989.01,""".stripMargin)
    val q2 = StreamingIngest.run(spark, in.getPath, archive, lake, sync, ckpt)
    q2.processAllAvailable()
    // wave 2's batch commit triggers (async) archival of wave 1's file
    val deadline = System.currentTimeMillis() + 30000
    while (!archived.contains("chase1234_jan.csv") && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    q2.stop()
    assert(archived.contains("chase1234_jan.csv"))

    val after = spark.read.parquet(lake).as[Transaction].collect()
    assert(after.length === 3)
    val coffee = after.find(_.description == "COFFEE SHOP").get
    assert(coffee.amount === -9.99) // upserted, not duplicated
    assert(after.exists(_.description == "NEW ROW"))

    // sync log has one row per (source, micro-batch)
    val syncRows = spark.read.parquet(sync).collect()
    assert(syncRows.length === 2)
    assert(syncRows.forall(_.getAs[String]("collection_name") == "transactions_chase"))
  }

  test("batch and stream ingest the same files to the same lake rows and upload counts") {
    val root = tmpDir("streamParity")
    val files = Seq(
      // a quoted memo with an embedded newline, a ragged row (valid except
      // for its missing fields) and an invalid date
      "chase4444_jan.csv" ->
        ("Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #\n" +
          "DEBIT,01/15/2024,\"MEMO line1\nline2\",-4.50,ACH_DEBIT,995.50,\n" +
          "CREDIT,01/16/2024,PAYROLL,2000.00,ACH_CREDIT,2995.50,\n" +
          "DEBIT,01/17/2024,SHORT,-1.00\n" +
          "DEBIT,notadate,BAD DATE,-2.00,ACH_DEBIT,1.00,"),
      "chase5555_jan.csv" ->
        ("Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #\n" +
          "DEBIT,01/18/2024,GROCER,-30.25,ACH_DEBIT,70.00,\n" +
          "DEBIT,01/19/2024,\"SPLIT, WITH COMMA\",-5.00,ACH_DEBIT,65.00,"))
    def setUp(name: String): (String, String, String) = {
      val in = new java.io.File(root, s"$name-in"); in.mkdirs()
      files.foreach { case (f, body) => writeFile(in, f, body) }
      (in.getPath, new java.io.File(root, s"$name-lake").getPath, new java.io.File(root, s"$name-sync").getPath)
    }

    val (batchIn, batchLake, batchSync) = setUp("batch")
    Lake.ingestDirectory(spark, batchIn, batchLake, batchSync)
    val (streamIn, streamLake, streamSync) = setUp("stream")
    val q = StreamingIngest.run(spark, streamIn, new java.io.File(root, "archive").getPath,
      streamLake, streamSync, new java.io.File(root, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()

    def lakeRows(lake: String) = spark.read.parquet(lake).as[Transaction].collect().toSet
    def uploaded(sync: String) = spark.read.parquet(sync)
      .groupBy("collection_name").agg(sum("records_uploaded"))
      .as[(String, Long)].collect().toMap
    val batchRows = lakeRows(batchLake)
    assert(batchRows.map(_.description) ===
      Set("MEMO line1\nline2", "PAYROLL", "GROCER", "SPLIT, WITH COMMA"))
    assert(lakeRows(streamLake) === batchRows)
    assert(uploaded(batchSync) === Map("transactions_chase" -> 4L))
    assert(uploaded(streamSync) === uploaded(batchSync))
  }

  test("StreamingIngest.run leaves the session's CSV column-pruning setting as it found it") {
    // the parse turns pruning off on the session it is given; the query
    // runs on its own clone of the session, so the caller's setting goes
    // back once the query has started
    val key = "spark.sql.csv.parser.columnPruning.enabled"
    val prev = spark.conf.getOption(key)
    val root = tmpDir("streamPrune")
    val in = new java.io.File(root, "in"); in.mkdirs()
    writeFile(in, "chase1234_jan.csv", goldenCsv)
    val lake = new java.io.File(root, "lake").getPath
    try {
      spark.conf.set(key, "true")
      val q = StreamingIngest.run(spark, in.getPath, new java.io.File(root, "archive").getPath,
        lake, new java.io.File(root, "sync").getPath, new java.io.File(root, "ckpt").getPath)
      assert(spark.conf.get(key) === "true", "restored once the query has started")
      q.processAllAvailable()
      q.stop()
      assert(spark.conf.get(key) === "true")
      // the ragged row still drops and the invalid date is rejected
      assert(spark.read.parquet(lake).count() === 2)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
