package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.plans.{PipelineDsl, PipelineRunner}
import graft.table.{Describe, LocalFileBinding, MigrationGraph, Migrator, TokenTable}

/**
 * spark-submit entry point — the engine's analogue of the reference CLI's
 * `nodestream run <pipeline> [--annotations ...] [--json] [--auto-migrate]`
 * (reference nodestream/cli/commands/run.py:21-67, shared option surface at
 * cli/commands/shared_options.py): a declarative YAML maintenance pipeline
 * runs against a token table with load-time annotation filtering, optional
 * pending-migration execution first (run.py's --auto-migrate), per-step
 * progress lines (JSON with --json, run.py's JSON_OPTION), and an optional
 * post-run audit report (the audit command, cli/commands/audit_command.py).
 *
 *   spark-submit --class graft.Run nodestreamspark_2.13-0.1.0.jar \
 *     pipeline.yaml --table /data/tbl [--create] [--annotations a,b] \
 *     [--config k=v]... [--auto-migrate migrations/] [--audit] [--json]
 *
 * Subcommands beyond `run` (the default when the first argument is a YAML
 * path) mirror the reference's sibling commands:
 *
 *   graft.Run schema --table /data/tbl [--format plain|ddl|graphql|cypher]
 *     [--out file]        # print-schema command, print_schema.py:10-50
 *   graft.Run audit --table /data/tbl   # audit command; any failure -> exit 3
 *   graft.Run history --table /data/tbl     # snapshot log (`show`-style)
 *   graft.Run partitions --table /data/tbl  # partition spec + live tuples
 *   graft.Run copy --table /src --to /dst [--create]  # copy command,
 *     cli/commands/copy.py — a snapshot-consistent scan MERGEd into the
 *     destination under the Create rule (upsert matched, insert new)
 *   graft.Run migrations --table /data/tbl --migrations-dir migs/
 *     # `migrations show`, show_migrations.py — applied/pending per
 *     # migration in plan order; any pending -> exit 3, like audit
 *   graft.Run migrations --table /data/tbl --migrations-dir migs/ \
 *     --make [--name mN_x] [--dry-run]
 *     # `migrations make`, make_migrations.py — auto-detects the drift
 *     # between the DAG's accumulated schema and the table's ACTUAL
 *     # schema (a table evolved directly via evolveSchema) and writes a
 *     # migration depending on the current leaves, replayable onto other
 *     # tables; re-applying to the source table conflicts loudly by design
 *   graft.Run migrations --table /data/tbl --migrations-dir migs/ \
 *     --from m001 [--to m003] [--name squashed] [--dry-run]
 *     # `migrations squash`, squash_migrations.py — squash the contiguous
 *     # topological span into one algebraically-reduced migration that
 *     # `replaces` the originals (squash-aware planning skips them on
 *     # tables where any original already applied)
 *
 * Master and executor conf come from spark-submit and are respected;
 * local[*] and shuffle=32 apply only as fallbacks for bare-JVM launches,
 * so the same command line runs unchanged on a 1000-executor cluster.
 * Exit codes: 0 success, 1 usage/pipeline failure, 3 audit failures
 * (mirroring the audit command's count-as-exit-status contract).
 */
object Run {

  final case class Args(
      command: String,
      pipeline: String,
      table: String,
      create: Boolean = false,
      annotations: Option[Set[String]] = None,
      config: Map[String, AnyRef] = Map.empty,
      autoMigrate: Option[String] = None,
      audit: Boolean = false,
      json: Boolean = false,
      format: String = "plain",
      out: Option[String] = None,
      to: Option[String] = None,
      make: Boolean = false,
      dryRun: Boolean = false,
      name: Option[String] = None,
      from: Option[String] = None)

  private val Subcommands =
    Set("schema", "audit", "history", "partitions", "copy", "migrations")

  private val usage =
    """usage: graft.Run <pipeline.yaml> --table <root>
      |         [--create] [--annotations a,b] [--config k=v]...
      |         [--auto-migrate <migrations-dir>] [--audit] [--json]
      |   or: graft.Run schema --table <root> [--format plain|ddl|graphql|cypher] [--out file]
      |   or: graft.Run audit|history|partitions --table <root>
      |   or: graft.Run copy --table <src-root> --to <dst-root> [--create]
      |   or: graft.Run migrations --table <root> --migrations-dir <dir>""".stripMargin

  /** Thrown by parseArgs on --help; main prints usage and exits 0. */
  private[graft] final class HelpRequested extends RuntimeException(usage)

  private[graft] def parseArgs(argv: Array[String]): Args = {
    require(argv.nonEmpty, usage)
    if (argv(0) == "help" || argv(0) == "--help") throw new HelpRequested
    var a =
      if (Subcommands.contains(argv(0))) Args(command = argv(0), pipeline = null, table = null)
      else Args(command = "run", pipeline = argv(0), table = null)
    var i = 1
    while (i < argv.length) {
      def value: String = {
        require(i + 1 < argv.length, s"option ${argv(i)} expects a value\n$usage")
        argv(i + 1)
      }
      argv(i) match {
        case "--table"        => a = a.copy(table = value); i += 2
        case "--create"       => a = a.copy(create = true); i += 1
        case "--annotations"  =>
          a = a.copy(annotations = Some(value.split(",").map(_.trim).toSet)); i += 2
        case "--config"       =>
          val kv = value.split("=", 2)
          require(kv.length == 2, s"--config expects k=v, got '$value'")
          a = a.copy(config = a.config + (kv(0) -> kv(1))); i += 2
        case "--auto-migrate" | "--migrations-dir" =>
          a = a.copy(autoMigrate = Some(value)); i += 2
        case "--audit"        => a = a.copy(audit = true); i += 1
        case "--json"         => a = a.copy(json = true); i += 1
        case "--format"       => a = a.copy(format = value); i += 2
        case "--out"          => a = a.copy(out = Some(value)); i += 2
        case "--to"           => a = a.copy(to = Some(value)); i += 2
        case "--make"         => a = a.copy(make = true); i += 1
        case "--dry-run"      => a = a.copy(dryRun = true); i += 1
        case "--name"         => a = a.copy(name = Some(value)); i += 2
        case "--from"         => a = a.copy(from = Some(value)); i += 2
        // only at an OPTION position: `--help` as the VALUE of another
        // option (weird but legal) is consumed by `value` above, never here
        case "--help"         => throw new HelpRequested
        case other            => sys.error(s"unknown option '$other'\n$usage")
      }
    }
    require(a.table != null, s"--table is required\n$usage")
    a
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private def renderStep(r: PipelineRunner.StepResult, json: Boolean): String =
    if (json) {
      val summary = r.summary.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
      s"""{"step":${jsonStr(r.step)},"duration_ms":${r.durationMs},""" +
        s""""snapshot_id":${r.snapshotId.map(_.toString).getOrElse("null")},""" +
        s""""summary":$summary}"""
    } else {
      val snap = r.snapshotId.map(id => s" snapshot=$id").getOrElse("")
      val extra = if (r.summary.isEmpty) ""
        else r.summary.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          .mkString(" [", ", ", "]")
      f"step ${r.step}%-20s ${r.durationMs}%6d ms$snap$extra"
    }

  /** The runnable body, separated from main so tests drive it in-process
    * (no System.exit) against an existing session. Returns the audit
    * failure count (0 when no audit ran). */
  private[graft] def execute(spark: SparkSession, a: Args): Int = {
    val table =
      if (TokenTable.exists(spark, a.table)) TokenTable.load(spark, a.table)
      else if (a.create && a.command == "run") TokenTable.create(spark, a.table)
      else sys.error(s"no table at ${a.table}" +
        (if (a.command == "run") " (pass --create to initialize)" else ""))

    a.command match {
      case "schema" =>
        val text = a.format match {
          case "plain"   => Describe.schema(table)
          case "ddl"     => Describe.schemaDdl(table)
          case "graphql" => Describe.schemaGraphql(table)
          case "cypher"  => Describe.schemaCypher(table)
          case f         => sys.error(s"unknown schema format '$f' (plain|ddl|graphql|cypher)")
        }
        a.out match {
          case Some(p) =>
            // through Hadoop FS like every other path — a java.nio write
            // would fail on hdfs:///s3a:// --out targets on a real cluster
            val hp = new org.apache.hadoop.fs.Path(p)
            val fs = LocalFileBinding.fileSystem(spark, hp)
            val os = fs.create(hp, true)
            try os.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally os.close()
          case None    => print(text)
        }
        return 0
      case "audit" =>
        val report = Describe.audit(table)
        print(report.render)
        return report.failureCount
      case "history" =>
        print(Describe.history(table)); return 0
      case "partitions" =>
        print(Describe.partitions(table)); return 0
      case "copy" =>
        val dstRoot = a.to.getOrElse(sys.error(s"copy requires --to <dst-root>\n$usage"))
        val dst =
          if (TokenTable.exists(spark, dstRoot)) TokenTable.load(spark, dstRoot)
          else if (a.create) TokenTable.create(spark, dstRoot)
          else sys.error(s"no table at $dstRoot (pass --create to initialize)")
        val snap = graft.maintenance.Maintenance.mergeInto(
          spark, dst, table.scan(spark), graft.maintenance.CreationRule.Create)
        println(s"copied ${snap.summary.getOrElse("added-records", "?")} records " +
          s"into $dstRoot (snapshot ${snap.snapshotId})")
        return 0
      case "migrations" =>
        val dir = a.autoMigrate.getOrElse(
          sys.error(s"migrations requires --migrations-dir <dir>\n$usage"))
        val p = new org.apache.hadoop.fs.Path(dir)
        val dirFs = LocalFileBinding.fileSystem(spark, p)
        val graph =
          if (dirFs.exists(p)) MigrationGraph.fromDirectory(dirFs, p)
          else graft.table.MigrationGraph.fromMigrations(Nil)
        val plan = graph.topologicalOrder
        a.from.foreach { fromName =>
          // `migrations squash` (squash_migrations.py --from/--to)
          val newName = a.name.getOrElse(s"${fromName}_squashed")
          val sq = graph.squashBetween(newName,
            graph.get(fromName), a.to.map(graph.get))
          println(s"squash $newName replaces [${sq.replaces.mkString(", ")}] " +
            s"with ${sq.operations.size} reduced operations")
          sq.operations.foreach(op => println(s"  $op"))
          if (!a.dryRun) {
            sq.writeToDirectory(dirFs, p)
            println(s"wrote $newName.yaml")
          }
          return 0
        }
        if (a.make) {
          // `migrations make` (make_migrations.py): replay the DAG onto the
          // canonical base schema and name-diff against the table's actual
          // schema — the drift a direct evolveSchema left uncaptured.
          // PENDING migrations first: their columns are not on the table
          // yet, so the diff would emit them as reverse drift — destructive
          // DropColumn ops that undo the pending migrations when replayed.
          val doneForMake = Migrator.completed(table)
          val pendingForMake = plan.filterNot(m => doneForMake.contains(m.name))
          if (pendingForMake.nonEmpty) {
            System.err.println(
              s"--make refused: ${pendingForMake.size} pending migration(s) " +
                s"(${pendingForMake.map(_.name).mkString(", ")}) — apply them " +
                "first, or the diff would emit their columns as destructive " +
                "DropColumn drift")
            return 3
          }
          val base = TokenTable.sequenceSchema
          val (accumulated, _) = plan.foldLeft(
              (base, base.fieldNames.zipWithIndex.toMap)) { case ((s, ids), m) =>
            graft.table.SchemaEvolution.applyOps(s, ids, m.operations)
          }
          val ops = graft.table.SchemaEvolution.diffByName(accumulated, table.schema)
          if (ops.isEmpty) { println("no changes detected"); return 0 }
          val migName = a.name.getOrElse(f"m${plan.size + 1}%03d_auto")
          ops.foreach(op => println(s"  $op"))
          if (a.dryRun) return 0
          val mig = graft.table.Migration(migName, ops, graph.leaves.map(_.name))
          mig.writeToDirectory(dirFs, p)
          println(s"wrote $migName.yaml (${ops.size} operations)")
          return 0
        }
        val done = Migrator.completed(table)
        plan.foreach(m => println(
          f"${m.name}%-40s ${if (done.contains(m.name)) "applied" else "pending"}"))
        return plan.count(m => !done.contains(m.name))
      case _ => () // "run" falls through to the pipeline path
    }

    a.autoMigrate.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val graph = MigrationGraph.fromDirectory(
        LocalFileBinding.fileSystem(spark, p), p)
      val applied = Migrator.migrate(table, graph)
      applied.foreach(m => println(s"migrated ${m.name}"))
    }

    val steps = PipelineDsl.parseFile(a.pipeline, a.annotations, a.config)
    val results = PipelineRunner.run(spark, table, steps)
    results.foreach(r => println(renderStep(r, a.json)))

    if (a.audit) {
      table.refresh()
      val report = Describe.audit(table)
      print(report.render)
      report.failureCount
    } else 0
  }

  def main(argv: Array[String]): Unit = {
    val a = try parseArgs(argv) catch {
      case h: HelpRequested => println(h.getMessage); sys.exit(0)
      case e: Throwable     => System.err.println(e.getMessage); sys.exit(1)
    }
    // spark-submit populates spark.master in the conf; only a bare JVM
    // launch (sbt runMain, IDE) falls back to local[*] + shuffle 32.
    val submitted = new SparkConf(true).contains("spark.master")
    val builder = SparkSession.builder().appName("graft-run")
    val spark =
      (if (submitted) builder
       else builder.master("local[*]").config("spark.sql.shuffle.partitions", "32"))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val auditFailures = try execute(spark, a) catch {
      case e: Throwable =>
        System.err.println(s"pipeline failed: ${e.getMessage}")
        spark.stop(); sys.exit(1)
    }
    spark.stop()
    if (auditFailures > 0) sys.exit(3)
  }
}
