package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named registered queries into a
  * directory — the optimization-round evidence files
  * (`plans/rN/<query>_{before,after}.txt`). Runs the [[Sessions]] shape
  * Bench runs, so the plans match what the battery executes.
  *
  *   sbt "runMain graft.PlanDump plans/r16 _before x92_rag_retrieval,..."
  *
  * An empty/omitted query list dumps every registered query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = if (args.length > 1) args(1) else "_before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(
        Paths.get(outDir, s"$name$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
