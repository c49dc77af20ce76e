package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The program opens Hadoop file systems only through
  * `graft.table.LocalFileBinding`, which binds the `file` scheme to classes
  * that start no process per file. A conf or file system taken anywhere
  * else in `src/main` would bring back a `chmod` fork for every file it
  * creates. Table metadata (the commit's manifest carry-forward, GC) is
  * read and written on the driver alone: no code under `graft/table/`
  * ships files to Spark tasks through `parallelize(`, and nothing in
  * `src/main` picks a code path by the calling thread's active session
  * (`getActiveSession`). */
class FileSystemGuardSpec extends AnyFunSuite {

  private val helper = "graft/table/LocalFileBinding.scala"
  private val lookup =
    """getFileSystem\(|FileSystem\.(get|getLocal|newInstance)\(|newHadoopConf\(|\.hadoopConfiguration\b|FileContext\.get""".r

  private val activeSession = """\bgetActiveSession\b""".r
  private val parallelize = """\bparallelize\(""".r

  private val root = Paths.get("src/main/scala")

  /** Every `.scala` file under `src/main/scala`, by its path relative to it. */
  private lazy val sources: Seq[(String, Seq[String])] = {
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => rel(p) -> Files.readAllLines(p).asScala.toSeq).toSeq
  }

  /** 0-based lines of `lines` matching `re`, outside comment lines. */
  def hits(lines: Seq[String], re: Regex): Seq[Int] = lines.zipWithIndex.collect {
    case (line, i) if re.findFirstIn(line).nonEmpty && !isComment(line) => i
  }

  /** `file:line: text` of each hit of `re` in the sources `where` selects. */
  private def offenders(re: Regex, where: String => Boolean): Seq[String] =
    sources.filter { case (f, _) => where(f) }.flatMap { case (f, lines) =>
      hits(lines, re).map(i => s"$f:${i + 1}: ${lines(i).trim}")
    }

  test("only LocalFileBinding takes a Hadoop conf or file system in src/main") {
    assert(sources.map(_._1).contains(helper), s"$helper missing under $root")
    val stray = offenders(lookup, _ != helper)
    assert(stray.isEmpty, s"Hadoop conf or file system taken outside $helper:\n${stray.mkString("\n")}")
  }

  test("the session and job detectors skip comments") {
    assert(hits(Seq("    val session = org.apache.spark.sql.SparkSession.getActiveSession"),
      activeSession) == Seq(0))
    assert(hits(Seq("  // SparkSession.getActiveSession picked the Spark-job body"), activeSession).isEmpty)
    assert(hits(Seq("x", "    sc.parallelize(toRead, slices).map { m =>"), parallelize) == Seq(1))
    assert(hits(Seq("    * a Spark job (`sc.parallelize(manifests)`) per GC pass"), parallelize).isEmpty)
  }

  test("no getActiveSession in src/main and no parallelize under graft/table") {
    val sessions = offenders(activeSession, _ => true)
    val jobs = offenders(parallelize, _.startsWith("graft/table/"))
    assert(sessions.isEmpty, s"a path picked by the active session:\n${sessions.mkString("\n")}")
    assert(jobs.isEmpty, s"a Spark job over table metadata:\n${jobs.mkString("\n")}")
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
