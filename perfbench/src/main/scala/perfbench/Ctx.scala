package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the recorder, the tracer, a
  * private work directory, and the run's seed and measuring time.
  */
final case class Ctx(
    spark: SparkSession, rec: Recorder, tr: Tracer, work: Path, seed: Long, seconds: Double) {

  /** A fresh, empty directory under the work dir. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Fs.delete(p)
    Files.createDirectories(p.getParent)
    p
  }

  /** Runs a workload's day. Untraced: once. Traced: twice in this JVM,
    * first untraced as an untraced run does (its figures are reported), then
    * traced over the same inputs and the same op count. The difference of
    * the two walls is the tracing overhead; the traced pass runs in the
    * warmer JVM, so it understates the overhead. `day(tag, record, limit)`
    * returns its result and op count; this returns each pass's result.
    */
  def days[T](day: (String, Boolean, Option[Int]) => (T, Int)): Seq[T] =
    if (!tr.enabled) Seq(day("day", true, None)._1)
    else {
      val t1 = System.nanoTime()
      val (untraced, n) = tr.untraced(day("untraced", true, None))
      rec.set("untraced_wall_s", (System.nanoTime() - t1) / 1e9)
      val t2 = System.nanoTime()
      val (traced, _) = day("traced", false, Some(n))
      rec.set("traced_wall_s", (System.nanoTime() - t2) / 1e9)
      Seq(untraced, traced)
    }

  /** Records when a phase of the run ended, in seconds since the JVM
    * started, as the report's `at.<phase>_s`; the report then shows where
    * a run's wall goes.
    */
  def mark(phase: String): Unit =
    rec.set(s"at.${phase}_s",
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

  /** Runs `body` as the repeated part of set-up, `times` times, recording
    * each wall; returns the last result.
    */
  def setup[T](times: Int)(body: Int => T): T = {
    val r = (1 to times).map { i =>
      val t0 = System.nanoTime()
      val r = body(i)
      rec.add("setup_repeat_s", (System.nanoTime() - t0) / 1e9)
      r
    }.last
    mark("setup")
    r
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  /** Regular files under `p` whose names do not start with `.` or `_`
    * (the parquet data files of a lake or table), excluding `_delta`.
    */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && {
          val rel = p.relativize(f).iterator().asScala.map(_.toString).toSeq
          rel.forall(n => !n.startsWith(".") && !n.startsWith("_"))
        }
      }.toSeq
      finally s.close()
    }

  def names(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`). */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Path.of("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }.getOrElse(0.0)
}
