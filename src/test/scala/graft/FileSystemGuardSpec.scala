package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program opens Hadoop file systems only through
  * `graft.table.LocalFileBinding`, which binds the `file` scheme to classes
  * that start no process per file. A conf or file system taken anywhere
  * else in `src/main` would bring back a `chmod` fork for every file it
  * creates. */
class FileSystemGuardSpec extends AnyFunSuite {

  private val helper = "graft/table/LocalFileBinding.scala"
  private val lookup =
    """getFileSystem\(|FileSystem\.(get|getLocal|newInstance)\(|newHadoopConf\(|\.hadoopConfiguration\b|FileContext\.get""".r

  test("only LocalFileBinding takes a Hadoop conf or file system in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    assert(sources.map(rel).contains(helper), s"$helper missing under $root")
    val offenders = sources.filter(p => rel(p) != helper).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if lookup.findFirstIn(line).nonEmpty && !isComment(line) =>
          s"${rel(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"Hadoop conf or file system taken outside $helper:\n${offenders.mkString("\n")}")
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
