package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every operation that rewrites data files stages, ledgers and commits
  * through `Maintenance.rewrite`; hand-rolled copies of that path drift
  * apart. In `src/main`, `new Ledger(` may appear only inside `rewrite`,
  * and a `commit(` that passes replaced files only inside `rewrite` and
  * `deleteWhereMor`, which stages no data file: its replaced files are
  * metadata-only drops next to its delete keys. Manifest regrouping
  * commits through `commitManifestGroups`, a different call. Likewise
  * every key-range plan samples, cuts and routes through the one planner
  * in `Clustering`: `murmurPreimages(` is called only by its route helper,
  * and `.sample(` appears only in its `sample` and in the k-means seeding
  * of `AnnOps.ivfTopK`. And only `Ledger.scala` knows the on-disk format of
  * crash-resume state: the ledger directory name, the step id's
  * `-snap<N>-` part and the paths built from a step id. Table files have
  * two readers, a Spark job's and the driver's point lookup, and one
  * projection and one parquet reader serve them: only
  * `TokenTable.versionRead` turns a schema version's field ids into a map
  * from field id to physical column (`fieldIds` swapped), the map that
  * projects a file into the current schema, and only
  * `TokenTable.readKeyRows` builds a parquet reader. Every merge debounces
  * its batch through `Maintenance.planDebounce`, the one place that
  * collapses a batch to one partition by its planned size: `debounceBatch(`
  * is called, and a `sizeInBytes` read followed by a `coalesce(1)` in the
  * same block is written, only inside it. */
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

  /** Matches of `re` in `src` outside comment lines, each with its
    * 0-based line. */
  private def codeMatches(src: String, re: Regex): Seq[(Regex.Match, Int)] =
    re.findAllMatchIn(src).flatMap { m =>
      val line = src.substring(src.lastIndexOf('\n', m.start) + 1, m.start).trim
      if (line.startsWith("*") || line.startsWith("//") || line.startsWith("/*")) None
      else Some((m, src.substring(0, m.start).count(_ == '\n')))
    }.toSeq

  /** 0-based lines of the `commit(` calls in `src` that pass replaced
    * files: a `replaced =` argument or a third positional one. */
  def replacingCommits(src: String): Seq[Int] = {
    val named = """^\w+\s*=[^=>]""".r
    codeMatches(src, """(?<!def )(?<!\w)commit\(""".r).filter { case (m, _) =>
      val args = topLevelArgs(src, m.end)
      args.takeWhile(a => named.findFirstIn(a).isEmpty).size >= 3 ||
        args.exists(_.matches("""(?s)replaced\s*=[^=].*"""))
    }.map(_._2)
  }

  private val preimageCall = """(?<!def )\bmurmurPreimages\(""".r
  private val sampleCall = """\.sample\(""".r

  private val fieldIdProjection =
    """\bfieldIds\b[^\n]*(\.swap\b|\{\s*case\s*\((\w+),\s*(\w+)\)\s*=>\s*\(?\3\s*(->|,)\s*\2\b)""".r
  private val debounceCall = """(?<!def )\bdebounceBatch\(""".r
  /** The planned-size collapse: a read of a plan's planned size (not a
    * `sizeInBytes = ` named argument) followed by a `coalesce(1)` before the
    * block ends. */
  private val plannedCollapse = """(?<!def )\bsizeInBytes\b(?!\s*=[^=])[^{}]*?\.coalesce\(1\)""".r
  private val parquetReader = ("""\bnew\s+(VectorizedParquetRecordReader|ParquetFileReader)\b|""" +
    """\bbuildReaderWithPartitionValues\(|\bParquetFileReader\.open\(""").r

  /** What only `Ledger.scala` may spell out, each with its pattern. */
  private val ledgerFormat = Seq(
    "the ledger directory name" -> """"ledger"|\bledger/|/ledger\b""".r,
    "the -snap<N>- step-id pattern" -> """-snap(?![a-zA-Z])""".r,
    "a path built from a step id" -> """\$\{?stepId\}?/""".r)

  /** 0-based lines of `src` calling `re`, outside comments. */
  def callLines(src: String, re: Regex): Seq[Int] = codeMatches(src, re).map(_._2)

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

  /** Every `.scala` file under `src/main/scala`: path relative to it, text. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString.replace('\\', '/'), Files.readString(p))).toSeq
  }

  private def linesOf(file: String): Seq[String] = {
    val src = sources.collectFirst { case (`file`, text) => text }
    assert(src.nonEmpty, s"$file missing under $root")
    src.get.split("\n", -1).toSeq
  }

  private def at(hits: Seq[(String, Int)]) =
    hits.map { case (f, i) => s"$f:${i + 1}" }.mkString(", ")

  test("the call detector skips comments and definitions") {
    assert(callLines("""  private def murmurPreimages(parts: Int): Array[Int] = {""", preimageCall).isEmpty)
    assert(callLines("""  * ([[Clustering.murmurPreimages]]) routes (murmurPreimages(n))""", preimageCall).isEmpty)
    assert(callLines("""  // df.sample(false, 0.1)""", sampleCall).isEmpty)
    assert(callLines("x\n  typedLit(Clustering.murmurPreimages(n + 1).toSeq)", preimageCall) == Seq(1))
    assert(callLines("""val p = murmurPreimages(8)""", preimageCall) == Seq(0))
    assert(callLines("df.select(col(\"a\"))\n  .sample(withReplacement = false, 0.5)", sampleCall) == Seq(1))
    assert(callLines("""rows.sample(false, f, seed = 7).collect()""", sampleCall) == Seq(0))
    assert(callLines("""    val id = cur.fieldIds.getOrElse(f.name, -1)""", fieldIdProjection).isEmpty)
    assert(callLines("""  // ver.fieldIds.map(_.swap)""", fieldIdProjection).isEmpty)
    assert(callLines("""    val oldById = oldIds.map(_.swap)""", fieldIdProjection).isEmpty)
    assert(callLines("""    val byId = ver.fieldIds.map { case (n, id) => id -> n }""", fieldIdProjection) == Seq(0))
    assert(callLines("""    val idToPhys: Map[Int, String] = ver.fieldIds.map(_.swap)""", fieldIdProjection) == Seq(0))
    assert(callLines("x\n  m.schemaVersion(sid).fieldIds.toSeq.map(_.swap).toMap", fieldIdProjection) == Seq(1))
    assert(callLines("""  v.fieldIds.map { case (n, i) => (i, n) }""", fieldIdProjection) == Seq(0))
    assert(callLines("""  VectorizedParquetRecordReader}""", parquetReader).isEmpty)
    assert(callLines("""  * [[ParquetFileFormat.buildReaderWithPartitionValues]]""", parquetReader).isEmpty)
    assert(callLines("val r = new VectorizedParquetRecordReader(false, 4096)", parquetReader) == Seq(0))
    assert(callLines("x\n  fmt.buildReaderWithPartitionValues(spark, s, p, r, f)", parquetReader) == Seq(1))
    assert(callLines("""val r = ParquetFileReader.open(file)""", parquetReader) == Seq(0))
    assert(callLines("""  private def debounceBatch(batch: DataFrame): DataFrame = {""", debounceCall).isEmpty)
    assert(callLines("""    * 'upsert'. Merges call debounceBatch(b) through [[planDebounce]].""", debounceCall).isEmpty)
    assert(callLines("x\n    val debounced = debounceBatch(batch).cache()", debounceCall) == Seq(1))
    assert(callLines("""  // debounceBatch(batch.coalesce(1))""", debounceCall).isEmpty)
    assert(callLines("x\n    val plannedBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes\n" +
      "    debounceBatch(if (plannedBytes <= targetFileBytes) batch.coalesce(1) else batch)",
      plannedCollapse) == Seq(1))
    assert(callLines("""if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= t) df.coalesce(1) else df""",
      plannedCollapse) == Seq(0))
    assert(callLines("val st = plan.stats\nif (st.sizeInBytes > limit) df else broadcast(df)",
      plannedCollapse).isEmpty)
    assert(callLines("def a = { p.stats.sizeInBytes }\ndef b(df: DataFrame) = { df.coalesce(1) }",
      plannedCollapse).isEmpty)
    assert(callLines("""    Statistics(sizeInBytes = sizeBytes).copy(x = df.coalesce(1))""", plannedCollapse).isEmpty)
    assert(callLines("""  // stats.sizeInBytes small: df.coalesce(1)""", plannedCollapse).isEmpty)
  }

  test("the ledger-format detector finds each fact outside comments") {
    def found(src: String) = ledgerFormat.filter { case (_, re) => callLines(src, re).nonEmpty }.map(_._1)
    assert(found("""new Path(metadataDir, "ledger")""") == Seq("the ledger directory name"))
    assert(found("""s"metadata/ledger/${st.getPath.getName}"""") == Seq("the ledger directory name"))
    assert(found("""private val LedgerSnapshot = "-snap(\\d+)-".r""") == Seq("the -snap<N>- step-id pattern"))
    assert(found("""val id = s"$op-snap${m.currentSnapshotId.getOrElse(0L)}-$h"""") ==
      Seq("the -snap<N>- step-id pattern"))
    assert(found("""table.stageWrite(placed, s"$stepId/chunk-$i-${java.util.UUID.randomUUID()}")""") ==
      Seq("a path built from a step id"))
    assert(found("""prefixes += s"data/${stepId}/"""") == Seq("a path built from a step id"))
    assert(found("""  * `metadata/ledger/<stepId>/` under `data/$stepId/` and `-snap0-`""").isEmpty)
    assert(found("""Map("retained-snapshots" -> n, "published-snapshot" -> id)""").isEmpty)
    assert(found("""val ledger = new Ledger(table, Ledger.stepId(op, m, hash))""").isEmpty)
  }

  test("only the Clustering planner samples and routes key ranges in src/main") {
    val clustering = "graft/functions/ClusterExpressions.scala"
    val ann = "graft/text/AnnOps.scala"
    val route = bodyOf(linesOf(clustering), "routed")
    val sampler = bodyOf(linesOf(clustering), "sample")
    val seeding = bodyOf(linesOf(ann), "ivfTopK")
    def hits(re: Regex) = sources.flatMap { case (f, src) => callLines(src, re).map((f, _)) }
    val preimages = hits(preimageCall)
    val samples = hits(sampleCall)
    assert(preimages.count { case (f, i) => f == clustering && route.contains(i) } == 1,
      "the planner's route helper computes no preimages")
    assert(samples.exists { case (f, i) => f == clustering && sampler.contains(i) },
      "the planner's sample draws no sample")
    val strayRoutes = preimages.filterNot { case (f, i) => f == clustering && route.contains(i) }
    val straySamples = samples.filterNot { case (f, i) =>
      f == clustering && sampler.contains(i) || f == ann && seeding.contains(i)
    }
    assert(strayRoutes.isEmpty, s"a route column outside Clustering.routed: ${at(strayRoutes)}")
    assert(straySamples.isEmpty, s"a sample outside Clustering.sample: ${at(straySamples)}")
  }

  test("only Maintenance.rewrite keeps a ledger and commits rewritten files in src/main") {
    val maint = linesOf(maintenance)
    val rewrite = bodyOf(maint, "rewrite")
    val mayCommit = rewrite ++ bodyOf(maint, "deleteWhereMor")

    val ledgers = sources.flatMap { case (f, src) =>
      src.split("\n", -1).toSeq.zipWithIndex.collect {
        case (line, i) if line.contains("new Ledger(") => (f, i)
      }
    }
    val commits = sources.flatMap { case (f, src) => replacingCommits(src).map((f, _)) }
    assert(ledgers.count { case (f, i) => f == maintenance && rewrite.contains(i) } == 1,
      "rewrite keeps no ledger")
    assert(commits.count { case (f, i) => f == maintenance && rewrite.contains(i) } == 1,
      "rewrite commits no replaced files")
    val strayLedgers = ledgers.filterNot { case (f, i) => f == maintenance && rewrite.contains(i) }
    val strayCommits = commits.filterNot { case (f, i) => f == maintenance && mayCommit.contains(i) }
    assert(strayLedgers.isEmpty, s"a Ledger outside Maintenance.rewrite: ${at(strayLedgers)}")
    assert(strayCommits.isEmpty,
      s"a commit of replaced files outside Maintenance.rewrite: ${at(strayCommits)}")
  }

  test("only Maintenance.planDebounce debounces a merge batch and collapses it by planned size in src/main") {
    val plan = bodyOf(linesOf(maintenance), "planDebounce")
    def hits(re: Regex) = sources.flatMap { case (f, src) => callLines(src, re).map((f, _)) }
    def inPlan(hit: (String, Int)) = hit._1 == maintenance && plan.contains(hit._2)
    val debounces = hits(debounceCall)
    val collapses = hits(plannedCollapse)
    assert(debounces.exists(inPlan), "planDebounce debounces nothing")
    assert(collapses.exists(inPlan), "planDebounce collapses no batch by its planned size")
    val strayDebounces = debounces.filterNot(inPlan)
    val strayCollapses = collapses.filterNot(inPlan)
    assert(strayDebounces.isEmpty,
      s"a debounce outside Maintenance.planDebounce: ${at(strayDebounces)}")
    assert(strayCollapses.isEmpty,
      s"a planned-size collapse outside Maintenance.planDebounce: ${at(strayCollapses)}")
  }

  test("only Ledger spells out the on-disk format of crash-resume state in src/main") {
    val ledger = "graft/maintenance/Ledger.scala"
    val stray = for {
      (f, src) <- sources if f != ledger
      (what, re) <- ledgerFormat
      i <- callLines(src, re)
    } yield s"$what at $f:${i + 1}"
    assert(stray.isEmpty, s"crash-resume format outside Ledger: ${stray.mkString(", ")}")
    val own = linesOf(ledger).mkString("\n")
    ledgerFormat.foreach { case (what, re) =>
      assert(callLines(own, re).nonEmpty, s"Ledger.scala does not define $what")
    }
  }

  test("one projection and one parquet reader serve both readers of table files in src/main") {
    val table = "graft/table/TokenTable.scala"
    val lines = linesOf(table)
    val projection = bodyOf(lines, "versionRead")
    val reader = bodyOf(lines, "readKeyRows")
    def hits(re: Regex) = sources.flatMap { case (f, src) => callLines(src, re).map((f, _)) }
    val idMaps = hits(fieldIdProjection)
    val readers = hits(parquetReader)
    assert(idMaps.exists { case (f, i) => f == table && projection.contains(i) },
      "versionRead maps no field id to a physical column")
    assert(readers.exists { case (f, i) => f == table && reader.contains(i) },
      "readKeyRows builds no parquet reader")
    val strayIdMaps = idMaps.filterNot { case (f, i) => f == table && projection.contains(i) }
    val strayReaders = readers.filterNot { case (f, i) => f == table && reader.contains(i) }
    assert(strayIdMaps.isEmpty,
      s"a field-id projection outside TokenTable.versionRead: ${at(strayIdMaps)}")
    assert(strayReaders.isEmpty,
      s"a parquet reader built outside TokenTable.readKeyRows: ${at(strayReaders)}")
  }
}
