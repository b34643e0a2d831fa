package graft.lake

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.model.Transaction
import graft.query.ApiSurface

/** The lake's own reads use the schema the lake already has: the same
  * fields as an inferred read, no Spark job to build the view, and a
  * `_delta` fold with no shuffle. A sidecar this process wrote is folded
  * once per insert: reads of it take its rows from memory and equal the
  * fold of its files.
  */
class LakeReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tx(desc: String, date: String = "01/05/2024", amount: Double = 1.0, source: String = "chase") =
    Transaction("DEBIT", date, desc, amount, 0.0, "", "", "", source, "1234")

  private def fields(s: StructType): Seq[(String, String)] = s.fields.toSeq.map(f => f.name -> f.dataType.sql)

  /** A lake holding two sources over two months, plus one pending insert
    * when `withDelta`.
    */
  private def lake(prefix: String, monthly: Boolean, withDelta: Boolean): String = {
    val path = new java.io.File(tmpDir(prefix), "lake").getPath
    Lake.upsertIntoLake(spark,
      Seq(tx("a"), tx("b", date = "02/07/2024"), tx("c", source = "synthetic")).toDF(),
      path, monthPartitioned = monthly)
    if (withDelta) Lake.insertFast(spark, tx("d", amount = -2.0), path)
    path
  }

  test("readLake has the inferred read's field names, types and order (flat/monthly, with/without _delta)") {
    for (monthly <- Seq(false, true); withDelta <- Seq(false, true)) {
      val path = lake("lakeSchema", monthly, withDelta)
      val ctx = s"monthly=$monthly withDelta=$withDelta"
      assert(fields(Lake.readLake(spark, path).schema) === fields(spark.read.parquet(path).schema), ctx)
      // a fresh process probes the layout from the directory tree
      Lake.forgetLayout(path)
      assert(fields(Lake.readLake(spark, path).schema) === fields(spark.read.parquet(path).schema), ctx)
      assert(Lake.readLake(spark, path).count() === (if (withDelta) 4L else 3L), ctx)
      if (withDelta)
        assert(fields(Lake.deltaSchema(monthly)) === fields(spark.read.parquet(path + "/_delta").schema), ctx)
    }
  }

  test("building readLake submits no Spark job once the layout is memoised") {
    val path = lake("lakeJobs", monthly = true, withDelta = true) // the first write memoises the layout
    val jobs = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val view = Lake.readLake(spark, path)
      assert(view.schema.nonEmpty)
      // the listener bus delivers in order: every job submitted while the
      // view was built arrives before this marker job
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("marker")) {
        val d = jobs.poll(10, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, s"marker job never arrived; saw $seen")
        seen += d
      }
      assert(seen.init.isEmpty, s"readLake submitted jobs: $seen")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a lookup over a lake with a pending _delta runs without a shuffle exchange") {
    val path = lake("lakeShuffle", monthly = false, withDelta = true)
    Lake.insertFast(spark, tx("d", amount = -3.0), path) // same key again: the fold must pick it
    val row = Seq(tx("d", amount = -3.0)).toDF()
    val id = ApiSurface.transactionsView(row).select("id").as[String].head()
    val lookup = ApiSurface.getTransactionById(Lake.readLake(spark, path), id, "egress")
    assert(lookup.collect().map(_.getAs[Double]("amount")).toSeq === Seq(-3.0))
    val plan = lookup.queryExecution.executedPlan
    assert(collect(plan) { case s: ShuffleExchangeExec => s }.isEmpty, plan.toString)
  }

  /** The view's rows, sorted, as a fresh process (no memoised layout or
    * sidecar fold) reads them.
    */
  private def folded(path: String): Seq[String] = {
    Lake.forgetLayout(path)
    rows(Lake.readLake(spark, path))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Whether building or running `df` would read a file of a `_delta` sidecar. */
  private def readsDelta(df: DataFrame): Boolean = df.inputFiles.exists(_.contains("/_delta/"))

  /** Run `body` and count the Spark jobs it starts. */
  private def jobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = TrieMap.empty[Int, Unit]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs(e.jobId) = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.size)
    } finally sc.removeSparkListener(listener)
  }

  test("a lookup and a range search over a sidecar this process wrote read no _delta file: 2 jobs per call") {
    for (monthly <- Seq(false, true)) {
      val ctx = s"monthly=$monthly"
      val path = lake(s"lakeMemo$monthly", monthly, withDelta = true)
      Lake.insertFast(spark, tx("d", amount = -3.0), path) // same key again: the fold must pick it
      Lake.insertFast(spark, tx("e", date = "02/09/2024", amount = -4.0), path)
      val id = ApiSurface.transactionsView(Seq(tx("d", amount = -3.0)).toDF()).select("id").as[String].head()
      def lookup() = ApiSurface.getTransactionById(Lake.readLake(spark, path), id, "egress")
      // 01/01/2024 .. 02/29/2024, UTC
      def range() = ApiSurface.historySearch(Lake.readLake(spark, path), "egress", 1704067200L, 1709251199L)
      assert(!readsDelta(lookup()) && !readsDelta(range()), ctx)
      val (found, lookupJobs) = jobCount(lookup().select("amount").as[Double].collect().toSeq)
      val (ids, rangeJobs) = jobCount(range().as[String].collect().toSet)
      assert(found === Seq(-3.0), ctx)
      assert(ids.size === 2, ctx)
      // each call runs the scan of the base and the broadcast of the
      // pending rows, which are local rows: neither job reads the sidecar
      assert(lookupJobs === 2 && rangeJobs === 2, s"$ctx: lookup $lookupJobs jobs, range $rangeJobs jobs")
      // same names, same lengths, unreadable content: a job reading any
      // sidecar file would now fail
      val deltaFiles = new java.io.File(path, "_delta").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(deltaFiles.length === 3, ctx)
      val saved = deltaFiles.map(f => f -> java.nio.file.Files.readAllBytes(f.toPath))
      saved.foreach { case (f, b) => java.nio.file.Files.write(f.toPath, Array.fill(b.length)('x'.toByte)) }
      try {
        assert(lookup().select("amount").as[Double].collect().toSeq === found, ctx)
        assert(range().as[String].collect().toSet === ids, ctx)
      } finally saved.foreach { case (f, b) => java.nio.file.Files.write(f.toPath, b) }
      val memo = rows(Lake.readLake(spark, path))
      assert(memo === folded(path), ctx)
      assert(readsDelta(Lake.readLake(spark, path)), s"$ctx: a fresh process folds the files")
    }
  }

  /** The view's rows, sorted, folded from the files of a copy of the lake
    * at `path`: this process holds no memo for the copy's path.
    */
  private def foldedCopy(path: String): Seq[String] = {
    val src = java.nio.file.Paths.get(path)
    val dst = new java.io.File(tmpDir("lakeCopy"), "lake").toPath
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
    rows(Lake.readLake(spark, dst.toString))
  }

  test("readLake from the memoised fold equals the fold of the files over random inserts with repeated keys") {
    for (monthly <- Seq(false, true)) {
      val rnd = new scala.util.Random(if (monthly) 17 else 11)
      val path = lake(s"lakeMemoRandom$monthly", monthly, withDelta = false)
      // keys drawn from a small pool, three of them the base's keys
      val pool = Seq(("a", "01/05/2024", "chase"), ("b", "02/07/2024", "chase"), ("c", "01/05/2024", "synthetic"),
        ("p", "03/11/2024", "chase"), ("q", "12/31/2023", "chase"), ("r", "03/11/2024", "synthetic"))
      val keys = scala.collection.mutable.Set(pool.take(3): _*)
      for (i <- 1 to 12) {
        val key @ (d, date, src) = pool(rnd.nextInt(pool.size))
        Lake.insertFast(spark, tx(d, date = date, amount = i.toDouble, source = src), path)
        keys += key
        if (i % 4 == 0) {
          val ctx = s"monthly=$monthly after $i inserts"
          val view = Lake.readLake(spark, path)
          assert(!readsDelta(view), s"$ctx: the memo missed")
          val memo = rows(view)
          assert(memo.size === keys.size, ctx)
          assert(memo === foldedCopy(path), ctx)
        }
      }
      val memo = rows(Lake.readLake(spark, path))
      assert(memo === folded(path), s"monthly=$monthly")
    }
  }
}
