package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: a physical-plan audit of every registered query.
  *
  * For each query the INITIAL executed plan (pre-AQE) is inspected for the
  * properties this engine is built around — shuffle count, broadcast count,
  * join strategies, parquet filter pushdown, and WindowGroupLimit (the
  * top-1-per-key short-circuit behind `row_number()=1` dedups). Run after
  * any plan-shaping change, under the [[Sessions]] shape Bench runs; the
  * header records the shape. The committed PLANS.md is an 8-core audit:
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.PlanAudit <testdata>/sf0.1 PLANS.md"
  */
object PlanAudit {

  private val joinNodes =
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = Sessions.cpus
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val bcasts = occurrences(plan, "BroadcastExchange")
      val shuffles = occurrences(plan, "Exchange ") // "Exchange hashpartitioning(...)" etc.
      val joins = joinNodes.flatMap { j =>
        val n = occurrences(plan, j)
        if (n == 0) None else Some(if (n == 1) j else s"$j x$n")
      }
      val wgl = plan.contains("WindowGroupLimit")
      (name, shuffles, bcasts, if (joins.isEmpty) "-" else joins.mkString(", "),
        if (hasNonEmptyPushedFilters(plan)) "yes" else "-", if (wgl) "yes" else "-")
    }
    spark.stop()

    val shape =
      s"${Paths.get(sfDir).getFileName}, local[$cpus], shuffle.partitions=$cpus, GraftExtensions"
    val sb = new StringBuilder
    sb.append(
      s"""# Physical-plan audit ($shape)
        |
        |Generated by `graft.PlanAudit` from `queryExecution.executedPlan` for
        |every registered query. Columns: shuffle exchanges / broadcast
        |exchanges / join strategies / parquet `PushedFilters` present /
        |`WindowGroupLimit` (top-1-per-key short-circuit for `row_number()=1`
        |dedups).
        |
        |The properties this engine is built around, as they land in real plans:
        |
        |- **Joins broadcast when a side is small** — every dim/star join (q13-q17,
        |  q27) and every dedup candidate join (x02, x04, x07, x15) is a
        |  BroadcastHashJoin; the only shuffle is the aggregation's.
        |- **Scans are pruned and filtered** — point/range lookups (q02, q03) and
        |  bounded queries (x11, x12) read zero-shuffle with pushed filters;
        |  projections reach the parquet reader (q07 reads exactly 1 column).
        |- **Keep-one dedups short-circuit** — `row_number()=1` plans use
        |  WindowGroupLimit (partial top-1 before the shuffle, final after), so
        |  the shuffle carries one candidate row per key per partition, not the
        |  whole partition.
        |- **All-pairs ops are candidate-bounded** — x04/x15 join on pigeonhole
        |  blocks, x07 on (table, bucket), x13 on inverted lists (with a
        |  driver-resident k-means quantizer trained eagerly before the plan);
        |  x05/x06 are the deliberate brute-force baselines
        |  (BroadcastNestedLoopJoin) their approximate twins are measured
        |  against.
        |
        || query | shuffles | bcasts | joins | pushed | WGL |
        ||---|---|---|---|---|---|
        |""".stripMargin)
    rows.foreach { case (name, sh, bc, joins, pushed, wgl) =>
      sb.append(f"| ${name}%-22s | $sh%2d | $bc%2d | ${joins}%-40s | ${pushed}%-3s | $wgl |%n")
    }
    Files.write(Paths.get(outPath), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $outPath (${rows.size} queries)")
  }

  private def occurrences(s: String, sub: String): Int = {
    var n = 0
    var i = s.indexOf(sub)
    while (i >= 0) { n += 1; i = s.indexOf(sub, i + sub.length) }
    n
  }

  /** True when at least one scan has a NON-empty PushedFilters list. */
  private def hasNonEmptyPushedFilters(plan: String): Boolean = {
    var i = plan.indexOf("PushedFilters: [")
    while (i >= 0) {
      if (plan.charAt(i + "PushedFilters: [".length) != ']') return true
      i = plan.indexOf("PushedFilters: [", i + 1)
    }
    false
  }
}
