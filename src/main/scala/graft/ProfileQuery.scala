package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness for the optimization rounds (guide §1): runs named
  * registered queries under the Bench session shape and reports, per query,
  * where the wall-clock goes — plan construction vs execution, Spark job
  * count, stage count, summed task time, shuffle bytes — from a
  * SparkListener. A query whose execution wall is far above its summed task
  * time is dominated by driver-side work (planning, codegen, job scheduling,
  * driver collects between jobs), not by the distributed computation.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProfileQuery x50_joint_dedup,..."
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names: Seq[String] =
      if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q01_pricing_summary")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // battery-equivalent fixture sidecar: media fixtures materialize in the
    // warmup pass, so the measured run prices read + engine like Bench does
    val fixDir = java.nio.file.Files.createTempDirectory("graft-profile-fixtures")
    sys.props(graft.xscale.FixtureSidecar.DirProp) = fixDir.toString

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val stageRows = mutable.ArrayBuffer.empty[(String, Long, Int)]
    val jobSites = mutable.Map.empty[String, Int]
    // job TIMELINE: (jobId, startMs, endMs, description) — serialized wall
    // per job plus the gaps between jobs (driver-side planning/handoff),
    // the decomposition the per-stage summed task times cannot give
    val jobSpans = mutable.Map.empty[Int, (Long, Long, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobSites.synchronized { jobSites(site) = jobSites.getOrElse(site, 0) + 1 }
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(site)
        jobSpans.synchronized { jobSpans(j.jobId) = (j.time, -1L, desc) }
        ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobSpans.synchronized {
          jobSpans.get(e.jobId).foreach { case (s, _, d) =>
            jobSpans(e.jobId) = (s, e.time, d)
          }
        }
        ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val info = sc.stageInfo
        val m = info.taskMetrics
        taskMs.addAndGet(m.executorRunTime)
        tasks.addAndGet(info.numTasks)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val site = info.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .map(_.trim.take(110)).getOrElse(info.name.takeWhile(_ != '\n').take(90))
        stageRows.synchronized {
          stageRows += ((site, m.executorRunTime, info.numTasks))
        }
        jobSites.synchronized { jobSites(site) = jobSites.getOrElse(site, 0) + 1 }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // one untimed warmup of the whole session (codegen compiler, parquet
    // footers), mirroring the battery
    try SparkEntry.entry(spark).count() catch { case scala.util.control.NonFatal(_) => }

    def releaseState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup run (the battery's untimed pass)
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case scala.util.control.NonFatal(e) => println(s"[$name] warmup FAILED: $e") }
      releaseState()
      // measured run
      jobs.set(0); stages.set(0); taskMs.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0); stageRows.clear()
      jobSites.synchronized(jobSites.clear())
      jobSpans.synchronized(jobSpans.clear())
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan // force analysis+optimization+planning
      val nExch = plan.toString.sliding("Exchange ".length).count(_ == "Exchange ")
      val t1 = System.nanoTime()
      Thread.sleep(200)
      val constructionSites = jobSites.synchronized(jobSites.toSeq.sortBy(-_._2))
      val constructionJobs = jobs.get
      df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      Thread.sleep(400) // let the listener bus drain (no public waitUntilEmpty)
      val planMs = (t1 - t0) / 1e6
      val execMs = (t2 - t1) / 1e6
      println(f"[$name] plan=${planMs}%.0fms exec=${execMs}%.0fms jobs=${jobs.get} " +
        f"(constr=$constructionJobs) stages=${stages.get} tasks=${tasks.get} taskTime=${taskMs.get}ms " +
        f"shufR=${shufRead.get / 1024}KB shufW=${shufWrite.get / 1024}KB exch=$nExch")
      constructionSites.take(8).foreach { case (s, c) =>
        println(f"    constr-jobs $c%3d  $s")
      }
      val top = stageRows.sortBy(-_._2).take(12)
      top.foreach { case (n, ms, nt) => println(f"    ${ms}%6dms ${nt}%4d tasks  $n") }
      // serialized job timeline: overlapping jobs (concurrent broadcast
      // builds) merge into one busy interval; what's left of the query
      // wall is driver-side gap (planning, AQE replanning, handoffs)
      val spans = jobSpans.synchronized(
        jobSpans.toSeq.filter(_._2._2 > 0).sortBy(_._2._1))
      if (spans.nonEmpty) {
        val t0j = spans.head._2._1
        var busy = 0L
        var curS = -1L
        var curE = -1L
        spans.foreach { case (_, (s, e, _)) =>
          if (s > curE) { busy += curE - math.max(curS, 0); curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        busy += curE - math.max(curS, 0)
        val lastE = spans.map(_._2._2).max
        println(f"    jobs-busy=${busy}ms span=${lastE - t0j}ms " +
          f"gaps=${lastE - t0j - busy}ms")
        spans.sortBy { case (_, (s, e, _)) => s - e }.take(10).foreach {
          case (id, (s, e, d)) =>
            println(f"    job $id%3d ${e - s}%6dms +${s - t0j}%6dms  ${d.take(90)}")
        }
      }
      // SPARK_GRAFT_PROFILE_PLAN=1: after execution, print the FINAL
      // (post-AQE) plan tree with per-node SQLMetrics — rows out and the
      // node-level timing metrics — so a slow stage can be attributed to a
      // specific operator instead of a lambda call site.
      if (sys.env.contains("SPARK_GRAFT_PROFILE_PLAN")) {
        def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
            : org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        val interesting = Seq("numOutputRows", "dataSize", "time", "Time", "duration")
        def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
          val q = unwrap(p)
          val ms = q.metrics.toSeq
            .filter { case (k, v) =>
              v.value > 0 && interesting.exists(k.contains)
            }
            .sortBy(_._1)
            .map { case (k, v) => s"$k=${v.value}" }
            .mkString(" ")
          println(("  " * d) + s"    ${q.nodeName} $ms")
          q.children.foreach(walk(_, d + 1))
          q match {
            case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(qs.plan, d + 1)
            case re: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
              println(("  " * (d + 1)) + s"    (reuses ${re.child.nodeName})")
            case _ =>
          }
        }
        walk(df.queryExecution.executedPlan, 0)
      }
      releaseState()
    }
    spark.stop()
  }
}
