package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape every entry point runs (Bench, Verify,
  * ProfileQuery, PlanDump, PlanAudit, ScaleSmoke, Cli and the test
  * session): `local[n]` with `n` shuffle partitions, the
  * `GraftExtensions` planner rules, UTC session time, nanosecond parquet
  * timestamps readable as longs (`Registry.table` normalizes them), and
  * no UI. Callers add anything
  * else to the returned builder before `getOrCreate()`.
  */
object Sessions {

  /** Worker threads: `SPARK_GRAFT_CPUS` if set, else the JVM's available
    * processors.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(n: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.extensions", "org.apache.spark.sql.graftnative.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
