package graft.lake

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.model.Transaction
import graft.query.ApiSurface

/** The lake's own reads use the schema the lake already has: the same
  * fields as an inferred read, no Spark job to build the view, and a
  * `_delta` fold with no shuffle.
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
}
