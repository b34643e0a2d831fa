package graft.lake

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.model.Transaction

/** Merge-upsert semantics (K1, reference storage/mongo_repository.go:33-61)
  * + the ScalaCheck idempotence property from SURVEY §5 (generators sampled
  * with fixed seeds — scalatestplus isn't on the offline classpath).
  */
class LakeSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
  import spark.implicits._

  private def tx(
      details: String = "DEBIT",
      date: String = "01/01/2024",
      desc: String = "d",
      amount: Double = 1.0,
      balance: Double = 0.0,
      source: String = "chase",
      acct: String = "1234"): Transaction =
    Transaction(details, date, desc, amount, balance, "", "", "", source, acct)

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[Transaction] =
    df.as[Transaction].collect().toSet

  /** After a lake write: no staging dir of any name is left beside or
    * inside the lake, and the delta-consistent view is key-unique.
    */
  private def assertCommitted(lake: String, step: String): Unit = {
    val leftovers = Seq(lake + ".staging", lake + ".compacting", lake + "/_delta_staging",
      lake + "/_delta.staging").filter(new java.io.File(_).exists())
    assert(leftovers.isEmpty, s"$step left $leftovers")
    val keys = Lake.readLake(spark, lake).select(Transaction.mergeKey.head, Transaction.mergeKey.tail: _*)
    assert(keys.count() === keys.distinct().count(), s"$step: merge key repeats")
  }

  test("matched key: incoming replaces existing ($set upsert, mongo_repository.go:52)") {
    val existing = Seq(tx(amount = 1.0), tx(desc = "other", amount = 5.0)).toDF()
    val incoming = Seq(tx(amount = 9.9)).toDF()
    assert(asSet(Lake.merge(existing, incoming)) ===
      Set(tx(amount = 9.9), tx(desc = "other", amount = 5.0)))
  }

  test("unmatched incoming key inserts") {
    val existing = Seq(tx()).toDF()
    val incoming = Seq(tx(desc = "new")).toDF()
    assert(asSet(Lake.merge(existing, incoming)) === Set(tx(), tx(desc = "new")))
  }

  test("same key, different source/account are distinct rows (key includes both)") {
    val existing = Seq(tx()).toDF()
    val incoming = Seq(tx(acct = "5678", amount = 7.0)).toDF()
    assert(asSet(Lake.merge(existing, incoming)).size === 2)
  }

  test("intra-batch duplicates collapse deterministically to the tie-break minimum") {
    val incoming = Seq(tx(amount = 3.0), tx(amount = 1.0), tx(amount = 2.0)).toDF()
    val merged = Lake.merge(Seq.empty[Transaction].toDF(), incoming)
    assert(asSet(merged) === Set(tx(amount = 1.0)))
  }

  test("merge is idempotent: merge(merge(e,b),b) == merge(e,b) (ScalaCheck)") {
    val genTx: Gen[Transaction] = for {
      details <- Gen.oneOf("DEBIT", "CREDIT")
      date <- Gen.oneOf("01/01/2024", "01/02/2024")
      desc <- Gen.oneOf("a", "b", "c")
      amount <- Gen.chooseNum(-5.0, 5.0)
      source <- Gen.oneOf("chase", "synthetic")
    } yield tx(details, date, desc, amount, 0.0, source)
    val genBatch = Gen.listOfN(8, genTx)

    for (Seq(e, b) <- samples(Gen.zip(genBatch, genBatch).map(t => Seq(t._1, t._2)), 10)) {
      val existing = Lake.merge(Seq.empty[Transaction].toDF(), e.toDF()) // key-unique base
      val once = Lake.merge(existing, b.toDF())
      val twice = Lake.merge(once, b.toDF())
      assert(asSet(once) === asSet(twice), s"e=$e b=$b")
    }
  }

  test("post-merge keys are unique (ScalaCheck)") {
    val genTx = for {
      desc <- Gen.oneOf("a", "b")
      amount <- Gen.chooseNum(0.0, 9.0)
    } yield tx(desc = desc, amount = amount)
    for (Seq(e, b) <- samples(
        Gen.zip(Gen.listOfN(6, genTx), Gen.listOfN(6, genTx)).map(t => Seq(t._1, t._2)), 10)) {
      val merged = Lake.merge(
        Lake.merge(Seq.empty[Transaction].toDF(), e.toDF()), b.toDF())
      val keys = merged.select(Transaction.mergeKey.head, Transaction.mergeKey.tail: _*)
      assert(keys.count() === keys.distinct().count(), s"e=$e b=$b")
    }
  }

  test("upsert writes each merged row ONCE (staging swap, no double-write)") {
    val lake = new java.io.File(tmpDir("lakeW"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0)).toDF(), lake)

    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // merge 2 incoming rows with the 1 existing -> 2 merged rows on disk
      val n = Lake.upsertIntoLake(
        spark, Seq(tx(amount = 9.0), tx(desc = "new", amount = 2.0)).toDF(), lake)
      assert(n === 2L)
      // listener events drain asynchronously; wait for them to arrive
      val deadline = System.currentTimeMillis() + 10000
      while (written.get < n && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500) // a double-write would add MORE records after n
      assert(written.get === n, "merged rows must hit disk exactly once")
      assert(!new java.io.File(lake + ".staging").exists())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("insertFast appends one delta file, base untouched; readLake folds latest-wins") {
    val lake = new java.io.File(tmpDir("lakeD"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0), tx(desc = "other", amount = 5.0)).toDF(), lake)
    val baseFiles = new java.io.File(lake, "data_source=chase").listFiles().map(_.getName).toSet

    Lake.insertFast(spark, tx(desc = "delta", amount = 2.0), lake)
    assert(new java.io.File(lake, "data_source=chase").listFiles().map(_.getName).toSet
      === baseFiles, "fast insert must not rewrite base partition files")
    val deltaParquet = new java.io.File(lake, "_delta").listFiles().count(_.getName.endsWith(".parquet"))
    assert(deltaParquet === 1)

    // visible through readLake, invisible to a plain base read
    assert(spark.read.parquet(lake).count() === 2L)
    assert(asSet(Lake.readLake(spark, lake)
      .select("details", "posting_date", "description", "amount", "balance",
        "category", "txn_type", "check_or_slip_num", "data_source", "account_id"))
      === Set(tx(amount = 1.0), tx(desc = "other", amount = 5.0), tx(desc = "delta", amount = 2.0)))

    // same key again: higher _seq wins on read, no duplicate
    Lake.insertFast(spark, tx(desc = "delta", amount = 9.0), lake)
    val folded = Lake.readLake(spark, lake)
    assert(folded.count() === 3L)
    assert(folded.filter($"description" === "delta").select("amount").as[Double].collect().toSeq
      === Seq(9.0))
  }

  test("insertFast is O(1) per insert: never reads the sidecar, _seq strictly increases") {
    val lake = new java.io.File(tmpDir("lakeO1"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0)).toDF(), lake)
    Lake.insertFast(spark, tx(desc = "dup", amount = 2.0), lake)
    // plant an UNREADABLE .parquet in the sidecar: any insert that scans
    // the sidecar (the old max(_seq) pass did, on every insert) fails on
    // it — the O(1) path must sail through N more inserts untouched
    val garbage = new java.io.File(lake, "_delta/part-garbage.parquet")
    java.nio.file.Files.write(garbage.toPath, "not parquet".getBytes)
    // amount is NOT in the merge key: all six inserts hit the same key
    (1 to 5).foreach(i => Lake.insertFast(spark, tx(desc = "dup", amount = 2.0 + i), lake))
    assert(garbage.delete())
    // later-wins read semantics unchanged: _seq strictly increases in
    // insert order, so the fold keeps the LAST insert per key
    val seqs = spark.read.parquet(lake + "/_delta")
      .orderBy("amount").select("amount", "_seq")
      .as[(Double, Long)].collect()
    assert(seqs.map(_._1).toSeq === (0 to 5).map(i => 2.0 + i))
    assert(seqs.map(_._2).toSeq === seqs.map(_._2).sorted.toSeq &&
      seqs.map(_._2).distinct.length === seqs.length,
      s"_seq must strictly increase in insert order: ${seqs.mkString(",")}")
    val folded = Lake.readLake(spark, lake)
    assert(folded.count() === 2L, "base row + one survivor of the six same-key inserts")
    assert(folded.filter($"description" === "dup").select("amount").as[Double].collect()
      .toSeq === Seq(7.0))
  }

  test("insertFast probes the base-lake layout at most once per lake, not per insert") {
    val lake = new java.io.File(tmpDir("lakeProbe"), "lake").getPath
    // first write primes the layout memo — N subsequent point inserts must
    // trigger ZERO base-lake schema reads (the former code paid a file
    // listing + parquet footer read per insert)
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0)).toDF(), lake)
    val before = Lake.layoutProbes.get()
    (1 to 5).foreach(i => Lake.insertFast(spark, tx(desc = "p", amount = 1.0 + i), lake))
    assert(Lake.layoutProbes.get() === before,
      "a primed lake must never re-probe the base layout on point inserts")
    // a FRESH process (memo forgotten) pays exactly one probe for N
    // inserts — and still detects the monthly layout correctly
    Lake.forgetLayout(lake)
    (1 to 3).foreach(i => Lake.insertFast(spark, tx(desc = "q", amount = 10.0 + i), lake))
    assert(Lake.layoutProbes.get() === before + 1,
      "an unprimed lake pays exactly ONE layout probe, amortized over all inserts")
    // monthly lake: same memo, and the delta rows carry posting_month
    val mLake = new java.io.File(tmpDir("lakeProbeM"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0)).toDF(), mLake, monthPartitioned = true)
    Lake.forgetLayout(mLake)
    val b2 = Lake.layoutProbes.get()
    (1 to 3).foreach(i => Lake.insertFast(spark, tx(desc = "m", amount = 20.0 + i), mLake))
    assert(Lake.layoutProbes.get() === b2 + 1)
    assert(spark.read.parquet(mLake + "/_delta").columns.contains("posting_month"))
  }

  test("batch upsert folds touched delta (batch wins); untouched-source delta survives") {
    val lake = new java.io.File(tmpDir("lakeDF"), "lake").getPath
    Lake.upsertIntoLake(
      spark, Seq(tx(source = "chase"), tx(source = "synthetic", acct = "0000")).toDF(), lake)
    assertCommitted(lake, "first write")
    Lake.insertFast(spark, tx(source = "chase", desc = "dc", amount = 1.0), lake)
    Lake.insertFast(spark, tx(source = "synthetic", acct = "0000", desc = "ds", amount = 1.0), lake)

    // batch touches chase only and updates the same key as the chase delta row
    Lake.upsertIntoLake(spark, Seq(tx(source = "chase", desc = "dc", amount = 7.0)).toDF(), lake)
    assertCommitted(lake, "merge leaving untouched-source delta")

    val base = spark.read.parquet(lake) // no delta fold
    assert(base.filter($"description" === "dc").select("amount").as[Double].collect().toSeq
      === Seq(7.0), "chase delta must be folded into base with the batch winning")
    assert(base.filter($"description" === "ds").count() === 0L,
      "untouched synthetic delta must stay in the sidecar")
    val view = Lake.readLake(spark, lake)
    assert(view.filter($"description" === "ds").count() === 1L)
    assert(view.count() === 4L)

    // a batch touching synthetic folds the last pending row: the sidecar goes
    Lake.upsertIntoLake(spark, Seq(tx(source = "synthetic", acct = "0000", desc = "new")).toDF(), lake)
    assertCommitted(lake, "merge folding every pending row")
    assert(!new java.io.File(lake, "_delta").exists())
    assert(Lake.readLake(spark, lake).count() === 5L)
  }

  test("compact folds pending delta into base and removes the sidecar") {
    val lake = new java.io.File(tmpDir("lakeDC"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0)).toDF(), lake)
    Lake.insertFast(spark, tx(desc = "delta", amount = 2.0), lake)
    val n = Lake.compact(spark, lake)
    assert(n === 2L)
    assertCommitted(lake, "compaction")
    assert(!new java.io.File(lake, "_delta").exists())
    assert(asSet(spark.read.parquet(lake)
      .select("details", "posting_date", "description", "amount", "balance",
        "category", "txn_type", "check_or_slip_num", "data_source", "account_id"))
      === Set(tx(amount = 1.0), tx(desc = "delta", amount = 2.0)))
  }

  test("a crashed insertFast (sidecar holds only _temporary) reads as no pending rows; upsert and compact clean it up") {
    val lake = new java.io.File(tmpDir("lakeCrash"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(amount = 1.0), tx(desc = "other", amount = 5.0)).toDF(), lake)
    // a writer killed mid-commit leaves its attempt dir and nothing else;
    // Spark hides `_temporary`, so the sidecar holds no readable file
    def crashedInsert(): Unit = {
      val attempt = new java.io.File(lake, "_delta/_temporary/0/_temporary/attempt_0")
      assert(attempt.mkdirs())
      java.nio.file.Files.write(new java.io.File(attempt, "part-00000.parquet").toPath, "torn".getBytes)
    }
    val cols = Seq("details", "posting_date", "description", "amount", "balance",
      "category", "txn_type", "check_or_slip_num", "data_source", "account_id")
    def view(): Set[Transaction] = asSet(Lake.readLake(spark, lake).select(cols.head, cols.tail: _*))

    crashedInsert()
    Lake.forgetLayout(lake) // a restarted process
    assert(view() === Set(tx(amount = 1.0), tx(desc = "other", amount = 5.0)))

    Lake.upsertIntoLake(spark, Seq(tx(desc = "new", amount = 3.0)).toDF(), lake)
    assert(!new java.io.File(lake, "_delta").exists(), "the next upsert removes the torn sidecar")
    assert(view() === Set(tx(amount = 1.0), tx(desc = "other", amount = 5.0), tx(desc = "new", amount = 3.0)))

    crashedInsert()
    assert(Lake.compact(spark, lake) === 3L)
    assert(!new java.io.File(lake, "_delta").exists(), "compaction removes the torn sidecar")
    assert(view() === Set(tx(amount = 1.0), tx(desc = "other", amount = 5.0), tx(desc = "new", amount = 3.0)))
  }

  test("compact(sortBy) clusters each rewritten file by the sort key; rows unchanged") {
    val lake = new java.io.File(tmpDir("lakeZ"), "lake").getPath
    val rnd = new scala.util.Random(7)
    val batch = rnd.shuffle((1 to 28).toList)
      .map(d => tx(date = f"01/$d%02d/2024", desc = s"d$d", amount = d.toDouble))
    Lake.upsertIntoLake(spark, batch.toDF(), lake)

    Lake.compact(spark, lake, sortBy = Seq("posting_date"))
    val files = new java.io.File(lake, "data_source=chase").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1) // compaction: one file per partition
    val dates = spark.read.parquet(files.head.getPath)
      .select("posting_date").as[String].collect().toSeq
    assert(dates === dates.sorted, "file must be clustered by posting_date for min/max skipping")
    assert(asSet(spark.read.parquet(lake)
      .select("details", "posting_date", "description", "amount", "balance",
        "category", "txn_type", "check_or_slip_num", "data_source", "account_id"))
      === batch.toSet)
  }

  test("upsertIntoLake only touches partitions present in the batch") {
    val lake = new java.io.File(tmpDir("lake"), "lake").getPath
    Lake.upsertIntoLake(spark, Seq(tx(source = "chase"), tx(source = "synthetic", acct = "0000")).toDF(), lake)
    val syntheticFiles = new java.io.File(lake, "data_source=synthetic").listFiles().map(_.getName).toSet
    // second batch: chase only — synthetic partition files must be untouched
    Lake.upsertIntoLake(spark, Seq(tx(source = "chase", amount = 2.0)).toDF(), lake)
    val after = new java.io.File(lake, "data_source=synthetic").listFiles().map(_.getName).toSet
    assert(after === syntheticFiles)
    val all = asSet(spark.read.parquet(lake)
      .select("details", "posting_date", "description", "amount", "balance",
        "category", "txn_type", "check_or_slip_num", "data_source", "account_id"))
    assert(all === Set(tx(source = "chase", amount = 2.0), tx(source = "synthetic", acct = "0000")))
  }

  test("replace at depth 0 rewrites a dir from a plan that reads that dir, with no checkpoint") {
    val dir = new java.io.File(tmpDir("replace0"), "state").getPath
    (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(dir)
    // the reconcile shape: the new rows are a plan over the target itself
    val leaves = Lake.replace(spark, spark.read.parquet(dir).filter($"id" % 2 === 0), dir)
    assert(leaves === Seq(dir), "depth 0 swaps the whole dir")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet
      === Set((2L, "v2"), (4L, "v4"), (6L, "v6")))
    assert(!new java.io.File(dir + ".staging").exists())
  }

  test("replace stages beside a target spelled with a trailing slash, never inside it") {
    val dir = new java.io.File(tmpDir("replaceSlash"), "state").getPath
    (1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(dir)
    // a staging dir inside the target would go with the target's delete
    val leaves = Lake.replace(spark, spark.read.parquet(dir).filter($"id" > 2), dir + "/")
    assert(leaves === Seq(dir))
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet === Set((3L, "v3"), (4L, "v4")))
    assert(!new java.io.File(dir + ".staging").exists() && !new java.io.File(dir, ".staging").exists())
  }

  test("compact(sortBy = posting_date) orders rows by date across a year boundary") {
    val lake = new java.io.File(tmpDir("lakeZY"), "lake").getPath
    val dates = Seq("01/01/2024", "12/31/2023", "02/15/2024", "11/30/2023")
    Lake.upsertIntoLake(spark, dates.map(d => tx(date = d, desc = s"d$d")).toDF(), lake)
    Lake.compact(spark, lake, sortBy = Seq("posting_date"))
    val files = new java.io.File(lake, "data_source=chase").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1)
    val got = spark.read.parquet(files.head.getPath).select("posting_date").as[String].collect().toSeq
    assert(got === Seq("11/30/2023", "12/31/2023", "01/01/2024", "02/15/2024"))
  }

  /** The lake's rows as this process reads them now, then as a fresh
    * process (no memoised layout or sidecar fold) folds them from the
    * files: they must be the same rows. Leaves the process with no memo.
    */
  private def assertMatchesFold(lake: String, step: String): Seq[String] = {
    def rows() = Lake.readLake(spark, lake).collect().map(_.toString).toSeq.sorted
    val now = rows()
    Lake.forgetLayout(lake)
    assert(now === rows(), step)
    now
  }

  /** A lake of two sources with three pending inserts this process wrote
    * (one of them shadowing a base row), flat or monthly.
    */
  private def memoLake(prefix: String, monthly: Boolean): String = {
    val lake = new java.io.File(tmpDir(prefix), "lake").getPath
    Lake.upsertIntoLake(spark,
      Seq(tx(amount = 1.0), tx(desc = "other", amount = 5.0), tx(source = "synthetic", acct = "0000")).toDF(),
      lake, monthPartitioned = monthly)
    Lake.insertFast(spark, tx(amount = 2.0), lake)
    Lake.insertFast(spark, tx(desc = "new", date = "02/03/2024", amount = 3.0), lake)
    Lake.insertFast(spark, tx(source = "synthetic", acct = "0000", desc = "s", amount = 4.0), lake)
    lake
  }

  test("a sidecar file another writer appends behind the memo is read: readLake equals the fold") {
    for (monthly <- Seq(false, true)) {
      val lake = memoLake(s"lakeMemoOther$monthly", monthly)
      // another writer's insert of an existing key, with a later _seq
      val other = spark.read.parquet(lake + "/_delta").filter($"amount" === 2.0)
        .withColumn("amount", lit(8.0)).withColumn("_seq", $"_seq" + 1L)
      other.coalesce(1).write.mode("append").parquet(lake + "/_delta")
      val now = assertMatchesFold(lake, s"monthly=$monthly")
      assert(now.exists(_.contains(",8.0,")) && !now.exists(_.contains(",2.0,")), now.mkString("\n"))
    }
  }

  test("an upsert that folds part of the sidecar: readLake equals the fold, before and after more inserts") {
    for (monthly <- Seq(false, true)) {
      val lake = memoLake(s"lakeMemoUpsert$monthly", monthly)
      // touches chase only, and overwrites a pending chase insert: the
      // synthetic insert stays pending
      Lake.upsertIntoLake(spark, Seq(tx(amount = 6.0), tx(desc = "batch", amount = 6.0)).toDF(), lake)
      Lake.insertFast(spark, tx(desc = "after", amount = 7.0), lake)
      val now = assertMatchesFold(lake, s"monthly=$monthly")
      assert(now.size === 7 && !now.exists(_.contains(",2.0,")), now.mkString("\n"))
    }
  }

  test("compact folds the memoised sidecar away; inserts after it read as the fold") {
    for (monthly <- Seq(false, true)) {
      val lake = memoLake(s"lakeMemoCompact$monthly", monthly)
      assert(Lake.compact(spark, lake) === 5L)
      Lake.insertFast(spark, tx(desc = "after", amount = 7.0), lake)
      Lake.insertFast(spark, tx(desc = "after", amount = 9.0), lake)
      val now = assertMatchesFold(lake, s"monthly=$monthly")
      assert(now.size === 6 && now.exists(_.contains(",9.0,")) && !now.exists(_.contains(",7.0,")),
        now.mkString("\n"))
    }
  }

  test("a crashed insert's _temporary beside the memoised sidecar: readLake equals the fold") {
    for (monthly <- Seq(false, true)) {
      val lake = memoLake(s"lakeMemoCrash$monthly", monthly)
      val attempt = new java.io.File(lake, "_delta/_temporary/0/_temporary/attempt_0")
      assert(attempt.mkdirs())
      java.nio.file.Files.write(new java.io.File(attempt, "part-00000.parquet").toPath, "torn".getBytes)
      assertMatchesFold(lake, s"monthly=$monthly, torn attempt")
      val fresh = memoLake(s"lakeMemoCrash2$monthly", monthly)
      val attempt2 = new java.io.File(fresh, "_delta/_temporary/0/_temporary/attempt_0")
      assert(attempt2.mkdirs())
      java.nio.file.Files.write(new java.io.File(attempt2, "part-00000.parquet").toPath, "torn".getBytes)
      Lake.insertFast(spark, tx(desc = "after", amount = 7.0), fresh)
      val now = assertMatchesFold(fresh, s"monthly=$monthly, insert after a torn attempt")
      assert(now.size === 6, now.mkString("\n"))
    }
  }

  test("a fresh process with a pending sidecar: readLake equals the fold, before and after more inserts") {
    for (monthly <- Seq(false, true)) {
      val lake = memoLake(s"lakeMemoFresh$monthly", monthly)
      Lake.forgetLayout(lake) // a restarted process
      Lake.insertFast(spark, tx(amount = 11.0), lake)
      Lake.insertFast(spark, tx(desc = "after", amount = 7.0), lake)
      val now = assertMatchesFold(lake, s"monthly=$monthly")
      assert(now.size === 6 && now.exists(_.contains(",11.0,")), now.mkString("\n"))
    }
  }

  test("every job of an ingest, upsert and compaction is named after its Lake entry point, none after a Spark pool's stack") {
    val root = tmpDir("lake-site")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val lake = new java.io.File(root, "lake").getPath
    writeFile(in, "chase1234_jan.csv",
      """Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #
        |DEBIT,01/15/2024,COFFEE SHOP,-4.50,ACH_DEBIT,995.50,
        |CREDIT,01/16/2024,PAYROLL,2000.00,ACH_CREDIT,2995.50,""".stripMargin)
    val sc = spark.sparkContext
    // job id -> (the job's call site, its stages' names)
    val sites = TrieMap.empty[Int, (String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites(e.jobId) = (Option(e.properties).map(_.getProperty("callSite.short")).orNull,
          e.stageInfos.map(_.name))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Lake.ingestDirectory(spark, in.getPath, lake, new java.io.File(root, "sync").getPath)
      Lake.upsertIntoLake(spark, Seq(tx(desc = "day2", amount = 3.0)).toDF(), lake)
      Lake.compact(spark, lake)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val jobs = sites.toSeq.sortBy(_._1).map(_._2)
    assert(jobs.nonEmpty)
    val pooled = jobs.filter { case (site, stages) => (Option(site) ++ stages).exists(_.contains("CompletableFuture")) }
    assert(pooled.size === 0, s"of ${jobs.size} jobs named after a pool thread, e.g. ${pooled.take(2)}")
    assert(sc.getLocalProperty("callSite.short") === null, "the caller's call site is restored")
    assert(Lake.readLake(spark, lake).count() === 3)
  }
}
