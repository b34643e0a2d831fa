package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM (suites run
  * sequentially under sbt's single Test fork).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    val s = Sessions.builder(4).config("spark.sql.warehouse.dir", wh.getPath).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  /** RDD checkpoint dirs (`rdd-<id>`) written anywhere under `dir`. */
  def rddCheckpoints(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else java.nio.file.Files.walk(root).filter(_.getFileName.toString.startsWith("rdd-")).count()
  }

  def writeFile(dir: java.io.File, name: String, content: String): java.io.File = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, content)
    f
  }
}
