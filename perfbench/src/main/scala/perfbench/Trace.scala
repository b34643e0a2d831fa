package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each layer, with Spark's
  * public listener APIs attributing jobs and queries to them.
  *
  * Each span sets the Spark job group to its id, so every job the span's
  * calls submit (broadcast jobs included: SQL captures local properties)
  * carries the span in its properties. The listeners keep per-job and
  * per-query records in memory; `toMap` hands them over at the end of
  * the run. With `enabled = false` a span only runs its body.
  *
  * A `QueryExecutionListener` callback carries no execution id, so a query
  * is tied to its SQL execution through its plan's metric accumulator ids,
  * which the execution-start and adaptive-update events list, and the
  * execution to its span through the job group those events carry.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = originMs + (System.nanoTime() - origin) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Whether spans are being recorded now: tracing is on and not paused. */
  def on: Boolean = enabled && !paused
  private var paused = false

  /** Runs `body` with span recording paused (its jobs go unattributed). */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  def span[T](name: String)(body: Span => T): T =
    if (!on) body(Noop)
    else {
      val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name, nowMs)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body(s)
      finally {
        s.endMs = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val accumExec = mutable.HashMap.empty[Long, Long]

  private def planAccums(p: SparkPlanInfo): Seq[Long] =
    p.metrics.map(_.accumulatorId) ++ p.children.flatMap(planAccums)
  @volatile private var lastEventMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop("spark.jobGroup.id").filter(_.startsWith("pb-")).map(_.drop(3).toInt)
      val rec = new JobRec(e.jobId, span.getOrElse(0), e.time.toDouble)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      lastEventMs = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.filter(_.startsWith("pb-")).foreach(g => execSpan(s.executionId) = g.drop(3).toInt)
          planAccums(s.sparkPlanInfo).foreach(accumExec(_) = s.executionId)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          planAccums(u.sparkPlanInfo).foreach(accumExec(_) = u.executionId)
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .map { s =>
          def m(n: String) = s.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
          Scan(s.relation.location.rootPaths.headOption.map(_.toUri.getPath).getOrElse(""),
            m("numFiles"), m("filesSize"), m("numOutputRows"))
        }
      val accums = collectWithSubqueries(qe.executedPlan) { case p => p }
        .flatMap(_.metrics.values.map(_.id)).take(8)
      val rec = QueryRec(accums, funcName, phases.values.sum, durationNs / 1e6, scans)
      lock.synchronized { queries += rec; lastEventMs = System.currentTimeMillis() }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and the bus has been quiet for a moment.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 15000L
    def settled = lock.synchronized {
      jobs.values.forall(_.endMs > 0) && System.currentTimeMillis() - lastEventMs > 500L
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(100L)
  }

  def toMap: Map[String, Any] = {
    drain()
    lock.synchronized {
      Map(
        "spans" -> spans.toList.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "attrs" -> s.attrs.toMap, "tags" -> s.tags.toMap)),
        "jobs" -> jobs.values.toList.map(j => Map(
          "job" -> j.jobId, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
          "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill)),
        "queries" -> queries.toList.map { q =>
          val exec = q.accums.flatMap(accumExec.get)
          Map(
            "exec" -> exec.headOption.getOrElse(-1L),
            "span" -> exec.flatMap(execSpan.get).headOption.getOrElse(0),
            "func" -> q.func, "plan_ms" -> q.planMs, "exec_ms" -> q.execMs,
            "scans" -> q.scans.toList.map(c =>
              Map("path" -> c.path, "files" -> c.files, "bytes" -> c.bytes, "rows" -> c.rows)))
        })
    }
  }
}

object Tracer {
  private val lock = new Object

  class Span(val id: Int, val parent: Int, val name: String, val startMs: Double) {
    var endMs: Double = 0.0
    val attrs = mutable.LinkedHashMap.empty[String, Double]
    val tags = mutable.LinkedHashMap.empty[String, String]
    def attr(k: String, v: Double): Unit = attrs(k) = v
    def tag(k: String, v: String): Unit = tags(k) = v
  }

  /** The span handed to bodies when tracing is off: attributes go nowhere. */
  object Noop extends Span(0, 0, "", 0.0) {
    override def attr(k: String, v: Double): Unit = ()
    override def tag(k: String, v: String): Unit = ()
  }

  final class JobRec(val jobId: Int, val span: Int, val startMs: Double) {
    var endMs = 0.0
    var stages, tasks = 0
    var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  final case class Scan(path: String, files: Double, bytes: Double, rows: Double)
  final case class QueryRec(accums: Seq[Long], func: String, planMs: Double, execMs: Double, scans: Seq[Scan])
}
