package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators report through `graft.metrics` and benchmark spans, not
  * through environment-gated prints or dumps. Only three program files may
  * read the environment: the `Bench` and `Verify` mains (deployment
  * settings such as the CPU count) and the pipeline DSL's `!env` value
  * provider, a user feature. */
class EnvReadGuardSpec extends AnyFunSuite {

  private val allowed =
    Set("graft/Bench.scala", "graft/Verify.scala", "graft/plans/PipelineDsl.scala")
  private val envRead = """sys\.env|System\.getenv""".r

  test("only Bench, Verify and PipelineDsl read the environment in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    assert(allowed.subsetOf(sources.map(rel).toSet), s"allow-listed files missing under $root")
    val offenders = sources.filterNot(p => allowed(rel(p))).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).nonEmpty => s"${rel(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, s"environment read outside the allow-list:\n${offenders.mkString("\n")}")
  }
}
