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

  /** Run `body` with `site` as the Spark call site of every job it starts,
    * restoring the caller's after. Spark runs a query's exchanges and its
    * result stage through `SQLExecution.withThreadLocalCaptured` on pools
    * of its own (shuffle and broadcast exchanges, the result query stage),
    * so a job of any query with an exchange takes its call site from a
    * pool thread's stack, which holds no program frame:
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`,
    * whichever thread ran the action. Those pools copy the acting thread's
    * local properties, so the call-site property set here names each such
    * job after the program step it belongs to (`Admission.legs`,
    * `Lake.compact`, ...).
    */
  def withCallSite[T](spark: SparkSession, site: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(CallSiteShort)
    sc.setLocalProperty(CallSiteShort, site)
    try body finally sc.setLocalProperty(CallSiteShort, prior)
  }

  /** Run `body` with `dir` as the context's checkpoint dir, so every
    * [[graft.xscale.DedupClusters.ckpt]] cut inside it is a reliable one
    * (storage-backed, survives executor loss) instead of a lazy local one.
    * The dir is a property of the SparkContext, not of a thread: the scope
    * covers every job the context runs until it ends, and the dir is unset
    * after `body`, on the throw path too. A context that already has a dir
    * keeps it: `body` runs under that dir unchanged (an existing setting
    * wins), so an inner scope never redirects an outer one.
    */
  def withCheckpointDir[T](spark: SparkSession, dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.nonEmpty) body
    else {
      sc.setCheckpointDir(dir)
      try body finally sc.setCheckpointDir(null)
    }
  }

  // the local property Spark reads a job's short call site from
  // (`org.apache.spark.util.CallSite.SHORT_FORM`, private to Spark)
  private val CallSiteShort = "callSite.short"
}
