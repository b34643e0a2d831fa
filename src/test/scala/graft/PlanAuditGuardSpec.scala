package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The PLANS.md staleness guard: the plan audit is the scale-honesty
  * artifact, and it shipped one batch behind the registry two rounds
  * running (x94–x98 in r8, x131–x136 in r9) because nothing failed when a
  * query registered without a plan row. This spec makes that structurally
  * impossible — `sbt test` goes red the moment the registered query set
  * and PLANS.md's row set diverge, in either direction. Regenerate with:
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.PlanAudit <testdata>/sf0.1 PLANS.md"
  *
  * (Deliberately a plain FunSuite — no SparkSession; parsing a committed
  * artifact must not cost a JVM-wide Spark startup.)
  */
class PlanAuditGuardSpec extends AnyFunSuite {

  private def planRows: Set[String] = {
    val p = Paths.get("PLANS.md")
    assert(Files.exists(p), "PLANS.md must be committed at the repo root")
    Files.readAllLines(p).asScala.iterator
      .map(_.trim)
      .filter(l => l.startsWith("| ") && !l.startsWith("| query") && !l.startsWith("|---"))
      .map(_.stripPrefix("|").split('|').head.trim)
      .filter(_.nonEmpty)
      .toSet
  }

  test("every registered query has a PLANS.md row and every row names a registered query") {
    val registered = SparkEntry.queries.keySet
    val rows = planRows
    val missing = (registered -- rows).toSeq.sorted
    val stale = (rows -- registered).toSeq.sorted
    assert(missing.isEmpty,
      s"queries registered without a plan row (regenerate PLANS.md): ${missing.mkString(", ")}")
    assert(stale.isEmpty,
      s"PLANS.md rows for unregistered queries (regenerate PLANS.md): ${stale.mkString(", ")}")
  }

  test("README.md's oracle-keyed count matches the live registry") {
    // the r15 verdict's #4: the README quoted a two-round-stale count
    // ("184/184 ... round 12") because nothing regenerated it — pin the
    // quoted N/N against SparkEntry.oracleSql so registering a query
    // without bumping the README goes red like a missing PLANS.md row
    val readme = new String(
      Files.readAllBytes(Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val m = "(\\d+)/(\\d+) oracle-keyed".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md must state the N/N oracle-keyed query count")
    val quoted = m.get.group(1).toInt
    assert(m.get.group(2).toInt == quoted,
      "README.md's oracle-keyed count must be N/N with matching halves")
    val live = SparkEntry.oracleSql.size
    assert(quoted == live,
      s"README.md quotes $quoted/$quoted oracle-keyed queries but the registry has " +
        s"$live - update the README count (and the as-of round/artifact reference)")
  }
}
