package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --work <dir> --out <result.json>`
  *
  * Writes the raw samples and the check tally, and with `--trace 1` the
  * spans, jobs, queries and machine-state sentinels, to `--out`; `run.py`
  * turns them into metrics.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "lake_daily" -> LakeDaily.run,
    "admit_stream" -> AdmitStream.run)

  /** Drops the blocks that localCheckpoints and caches left persisted, as
    * `Bench` does between queries, so each operation starts from the same
    * JVM state.
    */
  def releaseState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${Workloads.keys.mkString(", ")}"))
    val cores = opt("cores").toInt
    val work = Path.of(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "org.apache.spark.sql.graftnative.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    rec.set("session_s", (System.nanoTime() - t0) / 1e9)
    val tr = new Tracer(spark, opt("trace") == "1")
    val ctx = Ctx(spark, rec, tr, work.resolve("data"), opt("seed").toLong, opt("seconds").toDouble)
    ctx.mark("session")

    try workload(ctx)
    catch { case scala.util.control.NonFatal(e) => rec.crashed(e); e.printStackTrace() }
    spark.sparkContext.clearJobGroup()
    if (tr.enabled) Sentinels.run(spark, cores, rec)
    ctx.mark("end")
    rec.set("peak_rss_mb", Fs.peakRssMb())
    val trace = if (tr.enabled) tr.toMap else null
    spark.stop()
    Files.writeString(Path.of(opt("out")),
      org.json4s.jackson.Serialization.write(Map("run" -> rec.toMap, "trace" -> trace))(org.json4s.DefaultFormats))
  }
}

/** `Bench`'s two machine-state sentinels, re-timed in the benchmark's own
  * session after the workload: a cpu plan (`bit_xor(xxhash64)` over 2^31
  * generated rows) and a shuffle plan (a merge-hinted 1:1 join of two
  * 2^24-row sides). They are context for comparing runs, not metrics. Both
  * take 13-25 s together at 4 cores, too long for every run, so only
  * traced runs time them.
  */
object Sentinels {
  def run(spark: SparkSession, cores: Int, rec: Recorder): Unit = {
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    rec.set("sentinel_cpu_s", time {
      spark.range(0L, 1L << 31, 1L, cores).selectExpr("bit_xor(xxhash64(id)) AS s")
        .queryExecution.toRdd.count()
    })
    val n = 1L << 24
    rec.set("sentinel_shuffle_s", time {
      val a = spark.range(0L, n, 1L, cores).selectExpr("id AS k", "id AS v")
      val b = spark.range(0L, n, 1L, cores).selectExpr("(id ^ 10855845) AS k", "id AS w")
      a.hint("merge").join(b.hint("merge"), "k").selectExpr("bit_xor(xxhash64(v + w)) AS s")
        .queryExecution.toRdd.count()
    })
  }
}
