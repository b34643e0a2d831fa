package perfbench

import scala.collection.mutable

/** Raw measurements of one benchmark run: named sample lists, single
  * values, and the operation/check tally. Statistics (medians, tails) are
  * computed by `stats.py` from the raw samples, so the math lives in one
  * place and is unit-tested there.
  */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedOps = 0L
  private var opFailed = false

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def set(name: String, v: Double): Unit = values(name) = v

  /** One timed operation: returns (result, wall seconds). The checks that
    * follow it (until the next `op`) count against it.
    */
  def op[T](body: => T): (T, Double) = {
    closeOp()
    attempted += 1
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      opFailed = true
      if (failures.size < 20) failures += what
    }

  /** An operation that threw: counted as attempted and failed. */
  def crashed(e: Throwable): Unit = {
    opFailed = true
    if (attempted == 0) attempted = 1
    failures += s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  private def closeOp(): Unit = {
    if (opFailed) failedOps += 1
    opFailed = false
  }

  def toMap: Map[String, Any] = {
    closeOp()
    Map(
      "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
      "values" -> values.toMap,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures.toList)
  }
}
