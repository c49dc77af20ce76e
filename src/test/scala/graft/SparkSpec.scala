package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM; sbt forks tests). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one directory every spec's tables live under in this (forked)
    * test JVM, deleted when the JVM exits. */
  lazy val scratch: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(SparkTestSession.scratch, prefix).toString

  /** Run `body` with projection codegen MANDATORY: a native expression whose
    * doGenCode fails to compile aborts the query instead of silently
    * degrading to interpreted eval — so identity tests run under this prove
    * the generated path, not the fallback. */
  def withCodegenOnly[A](body: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
