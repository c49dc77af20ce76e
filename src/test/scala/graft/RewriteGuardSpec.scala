package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every operation that rewrites data files stages, ledgers and commits
  * through `Maintenance.rewrite`; hand-rolled copies of that path drift
  * apart. In `src/main`, `new Ledger(` may appear only inside `rewrite`,
  * and a `commit(` that passes replaced files only inside `rewrite` and
  * `deleteWhereMor`, which stages no data file: its replaced files are
  * metadata-only drops next to its delete keys. Manifest regrouping
  * commits through `commitManifestGroups`, a different call. */
class RewriteGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val maintenance = "graft/maintenance/Maintenance.scala"

  /** Lines of the body of `def name(` in `lines`: from the def down to the
    * closing brace at its own indentation. */
  private def bodyOf(lines: Seq[String], name: String): Range = {
    val start = lines.indexWhere(_.contains(s"def $name("))
    assert(start >= 0, s"def $name not found")
    val indent = lines(start).takeWhile(_ == ' ')
    val end = lines.indexWhere(_ == indent + "}", start)
    assert(end > start, s"end of def $name not found")
    start to end
  }

  /** 0-based lines of the `commit(` calls in `src` that pass replaced
    * files: a `replaced =` argument or a third positional one. */
  def replacingCommits(src: String): Seq[Int] = {
    val call = """(?<!def )(?<!\w)commit\(""".r
    call.findAllMatchIn(src).flatMap { m =>
      val lineStart = src.lastIndexOf('\n', m.start) + 1
      val line = src.substring(lineStart, m.start).trim
      if (line.startsWith("*") || line.startsWith("//") || line.startsWith("/*")) None
      else {
        val args = topLevelArgs(src, m.end)
        val named = """^\w+\s*=[^=>]""".r
        val positional = args.takeWhile(a => named.findFirstIn(a).isEmpty)
        if (positional.size >= 3 || args.exists(_.matches("""(?s)replaced\s*=[^=].*""")))
          Some(src.substring(0, m.start).count(_ == '\n'))
        else None
      }
    }.toSeq
  }

  /** The top-level arguments of the call whose '(' ends at `from`. */
  private def topLevelArgs(src: String, from: Int): Seq[String] = {
    val args = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inString = false
    var i = from
    while (i < src.length && depth >= 0) {
      val c = src.charAt(i)
      var keep = true
      if (inString) {
        if (c == '"') inString = false
        else if (c == '\\') { cur += c; i += 1 }
      } else c match {
        case '"' => inString = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1; keep = depth >= 0
        case ',' if depth == 0 => args += cur.toString.trim; cur.clear(); keep = false
        case _ => ()
      }
      if (keep && i < src.length) cur += src.charAt(i)
      i += 1
    }
    if (cur.toString.trim.nonEmpty) args += cur.toString.trim
    args.result()
  }

  test("the commit detector tells replacing commits from appends") {
    assert(replacingCommits("""t.commit("append", staged, summary = Map("a" -> "b"))""").isEmpty)
    assert(replacingCommits("""t.commit("append", t.stageWrite(df, "x"), branch = Some("b"))""").isEmpty)
    assert(replacingCommits("""  def commit(op: String, added: Seq[X], replaced: Set[String])""").isEmpty)
    assert(replacingCommits("""  // table.commit("delete", staged, victims)""").isEmpty)
    assert(replacingCommits(
      "x\ntable.commit(\"merge\", staged, touched.map(_.path).toSet,\n  summary = m)") == Seq(1))
    assert(replacingCommits("""table.commit("d", Seq.empty, replaced = covered.toSet)""") == Seq(0))
    assert(replacingCommits("""t.commitManifestGroups("rewrite-manifests", groups)""").isEmpty)
  }

  test("only Maintenance.rewrite keeps a ledger and commits rewritten files in src/main") {
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val maint = sources.find(rel(_) == maintenance).map(p => Files.readAllLines(p).asScala.toSeq)
    assert(maint.nonEmpty, s"$maintenance missing under $root")
    val rewrite = bodyOf(maint.get, "rewrite")
    val mayCommit = rewrite ++ bodyOf(maint.get, "deleteWhereMor")

    val ledgers = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("new Ledger(") => (rel(p), i)
      }
    }
    val commits = sources.flatMap(p => replacingCommits(Files.readString(p)).map((rel(p), _)))
    assert(ledgers.count { case (f, i) => f == maintenance && rewrite.contains(i) } == 1,
      "rewrite keeps no ledger")
    assert(commits.count { case (f, i) => f == maintenance && rewrite.contains(i) } == 1,
      "rewrite commits no replaced files")
    def at(hits: Seq[(String, Int)]) = hits.map { case (f, i) => s"$f:${i + 1}" }.mkString(", ")
    val strayLedgers = ledgers.filterNot { case (f, i) => f == maintenance && rewrite.contains(i) }
    val strayCommits = commits.filterNot { case (f, i) => f == maintenance && mayCommit.contains(i) }
    assert(strayLedgers.isEmpty, s"a Ledger outside Maintenance.rewrite: ${at(strayLedgers)}")
    assert(strayCommits.isEmpty,
      s"a commit of replaced files outside Maintenance.rewrite: ${at(strayCommits)}")
  }
}
