package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.{AbstractConstruct, SafeConstructor}
import org.yaml.snakeyaml.nodes.{Node, ScalarNode, Tag}

import graft.maintenance._
import graft.table.{AddColumn, DropColumn, RenameColumn, SchemaOp, Snapshot, TokenTable}

/**
 * The declarative maintenance-pipeline DSL — nodestream's YAML pipeline shape
 * (a list of `implementation:`/`arguments:`/`annotations:` step definitions,
 * reference nodestream/pipeline/pipeline_file_loader.py:79-145, class
 * registry at nodestream/pipeline/class_loader.py:44-81) recast over table
 * maintenance: each step is a maintenance operator on a [[TokenTable]], and
 * the "logical plan" (the ordered step list) passes through a peephole
 * optimizer before execution — the analogue of the reference's migration-op
 * reduction (nodestream/schema/migrations/operations.py:94-149).
 *
 * Example:
 * {{{
 * - implementation: compact
 *   annotations: [nightly]
 *   arguments: { target_file_bytes: 134217728, small_file_threshold: 33554432 }
 * - implementation: zorder
 *   arguments: { columns: [doc_id, source, n_tok] }
 * - implementation: expire_snapshots
 *   arguments: { retain_last: !env GRAFT_RETAIN }   # !env like the reference's
 * - implementation: remove_orphans                  # argument resolvers
 * }}}
 */
sealed trait PipelineStep { def name: String }
final case class CompactStep(
    targetFileBytes: Long, smallFileThreshold: Option[Long], chunks: Int) extends PipelineStep {
  def name = "compact"
}
final case class ClusterStep(layout: Layout, targetFileBytes: Long) extends PipelineStep {
  def name = layout match {
    case _: ZOrder  => "zorder"
    case _: Hilbert => "hilbert"
    case _: SortBy  => "sort"
    case Concat     => "concat"
  }
}
final case class RewriteManifestsStep(entriesPerManifest: Int) extends PipelineStep {
  def name = "rewrite_manifests"
}
/** Omitted arguments resolve at EXECUTION time from the table's declared
  * retention policy ([[graft.table.Describe.RetentionKeys]]):
  * `retain_last` ← `retention.snapshot.keep-last` (else 1), `older_than_ms`
  * ← now − `retention.snapshot.max-age-ms` — so the policy the audit lints
  * for is the one the nightly pipeline actually applies. */
final case class ExpireSnapshotsStep(
    retainLast: Option[Int], olderThanMs: Option[Long]) extends PipelineStep {
  def name = "expire_snapshots"
}
/** `grace_ms` optionally overrides the table's `gc.grace-period-ms` window
  * (pass 0 only on tables with no concurrent writers). */
final case class RemoveOrphansStep(graceMs: Option[Long] = None) extends PipelineStep {
  def name = "remove_orphans"
}
final case class DeleteWhereStep(pred: Maintenance.DeletePredicate) extends PipelineStep {
  def name = "delete_where"
}
final case class DeleteWhereMorStep(pred: Maintenance.DeletePredicate) extends PipelineStep {
  def name = "delete_where_mor"
}
case object MaterializeDeletesStep extends PipelineStep { def name = "materialize_deletes" }
final case class SetRefStep(refName: String, kind: String) extends PipelineStep {
  def name = "set_ref"
}
final case class FastForwardStep(branch: String) extends PipelineStep { def name = "fast_forward" }
final case class RollbackStep(snapshotId: Long) extends PipelineStep { def name = "rollback" }
final case class MergeStep(rule: CreationRule.Value) extends PipelineStep { def name = "merge" }
case object MergeMorStep extends PipelineStep { def name = "merge_mor" }
final case class SchemaStep(op: SchemaOp) extends PipelineStep { def name = "schema" }

object PipelineDsl {

  /** Parse a YAML pipeline. `annotationTargets`: like the reference's
    * load-time filtering (pipeline_file_loader.py:107-125) — when given,
    * annotated steps run only if one of their annotations is targeted;
    * un-annotated steps always run. `config` backs the `!config key`
    * resolver; `!include path` splices another YAML document. */
  def parse(
      yaml: String,
      annotationTargets: Option[Set[String]] = None,
      config: Map[String, AnyRef] = Map.empty): Seq[PipelineStep] = {
    val loader = new Yaml(new ArgumentResolvers(config))
    val raw = loader.load[java.util.List[java.util.Map[String, AnyRef]]](yaml)
    require(raw != null, "empty pipeline")
    raw.asScala.toSeq.flatMap { m0 =>
      val m = m0.asScala
      val impl = m.getOrElse("implementation",
        m.getOrElse("step", sys.error("step missing 'implementation'"))).toString
      val anns: Set[String] = m.get("annotations") match {
        case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSet
        case _                          => Set.empty
      }
      val keep = annotationTargets.forall(t => anns.isEmpty || anns.exists(t.contains))
      if (!keep) None
      else {
        val args: Map[String, AnyRef] = m.get("arguments") match {
          case Some(a: java.util.Map[_, _]) =>
            a.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[AnyRef] }.toMap
          case _ => Map.empty
        }
        Some(buildStep(impl, args))
      }
    }
  }

  def parseFile(
      path: String,
      annotationTargets: Option[Set[String]] = None,
      config: Map[String, AnyRef] = Map.empty): Seq[PipelineStep] =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8), annotationTargets, config)

  private def buildStep(impl: String, args: Map[String, AnyRef]): PipelineStep = {
    def long(k: String, d: Long): Long = args.get(k).map(_.toString.toLong).getOrElse(d)
    def optLong(k: String): Option[Long] = args.get(k).map(_.toString.toLong)
    def optInt(k: String): Option[Int] = args.get(k).map(_.toString.toInt)
    def int(k: String, d: Int): Int = args.get(k).map(_.toString.toInt).getOrElse(d)
    def str(k: String): String = args(k).toString
    def cols(k: String, d: Seq[String]): Seq[String] = args.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
      case Some(s)                    => s.toString.split(",").map(_.trim).toSeq
      case None                       => d
    }
    val defaultCols = Seq("doc_id", "source", "n_tok")
    impl match {
      case "compact" => CompactStep(
        long("target_file_bytes", Maintenance.DefaultTargetFileBytes),
        optLong("small_file_threshold"), int("chunks", 8))
      case "zorder" => ClusterStep(
        ZOrder(cols("columns", defaultCols), int("bits", graft.functions.Clustering.DefaultBits)),
        long("target_file_bytes", Maintenance.DefaultTargetFileBytes))
      case "hilbert" => ClusterStep(
        Hilbert(cols("columns", defaultCols), int("bits", graft.functions.Clustering.DefaultBits)),
        long("target_file_bytes", Maintenance.DefaultTargetFileBytes))
      case "sort" => ClusterStep(SortBy(cols("columns", Seq("doc_id"))),
        long("target_file_bytes", Maintenance.DefaultTargetFileBytes))
      case "rewrite_manifests" => RewriteManifestsStep(int("entries_per_manifest", 1000))
      case "expire_snapshots" => ExpireSnapshotsStep(optInt("retain_last"), optLong("older_than_ms"))
      case "remove_orphans" => RemoveOrphansStep(optLong("grace_ms"))
      case "delete_where" =>
        if (args.contains("source_in"))
          DeleteWhereStep(Maintenance.SourceIn(cols("source_in", Seq.empty).toSet))
        else if (args.contains("n_tok_gt"))
          DeleteWhereStep(Maintenance.NTokGreaterThan(int("n_tok_gt", 0)))
        else DeleteWhereStep(Maintenance.DocIdBetween(str("doc_id_lo"), str("doc_id_hi")))
      case "delete_where_mor" =>
        if (args.contains("source_in"))
          DeleteWhereMorStep(Maintenance.SourceIn(cols("source_in", Seq.empty).toSet))
        else if (args.contains("n_tok_gt"))
          DeleteWhereMorStep(Maintenance.NTokGreaterThan(int("n_tok_gt", 0)))
        else DeleteWhereMorStep(Maintenance.DocIdBetween(str("doc_id_lo"), str("doc_id_hi")))
      case "materialize_deletes" => MaterializeDeletesStep
      case "set_ref" => SetRefStep(str("name"), args.get("kind").map(_.toString).getOrElse("tag"))
      case "fast_forward" => FastForwardStep(str("branch"))
      // snapshot_id has no sensible default — a missing/mistyped key must
      // fail at parse like every other required argument
      case "rollback" => RollbackStep(str("snapshot_id").toLong)
      case "merge" =>
        val rule = args.get("rule").map(_.toString).getOrElse("eager") match {
          case "eager"      => CreationRule.Eager
          case "match_only" => CreationRule.MatchOnly
          case "create"     => CreationRule.Create
          case r            => sys.error(s"unknown creation rule $r")
        }
        MergeStep(rule)
      case "merge_mor"     => MergeMorStep
      case "add_column"    => SchemaStep(AddColumn(str("name"), str("type")))
      case "rename_column" => SchemaStep(RenameColumn(str("from"), str("to")))
      case "drop_column"   => SchemaStep(DropColumn(str("name")))
      case other => sys.error(s"unknown step implementation '$other'")
    }
  }

  /** The reference's three argument resolvers, as YAML tag constructors:
    * `!env VAR` (nodestream/pipeline/argument_resolvers/
    * environment_variable_resolver.py:6-11), `!config key`
    * (configuration_argument_resolver.py:27-35 — looks up a caller-provided
    * configuration map), and `!include path` (include_file_resolver.py:7-16 —
    * splices the parsed contents of another YAML file). */
  private final class ArgumentResolvers(config: Map[String, AnyRef])
      extends SafeConstructor(new LoaderOptions) {
    yamlConstructors.put(new Tag("!env"), new AbstractConstruct {
      def construct(node: Node): AnyRef = {
        val name = constructScalar(node.asInstanceOf[ScalarNode])
        sys.env.getOrElse(name, sys.error(s"!env: $name is not set"))
      }
    })
    yamlConstructors.put(new Tag("!config"), new AbstractConstruct {
      def construct(node: Node): AnyRef = {
        val key = constructScalar(node.asInstanceOf[ScalarNode])
        config.getOrElse(key, sys.error(s"!config: no configuration value for '$key'"))
      }
    })
    yamlConstructors.put(new Tag("!include"), new AbstractConstruct {
      def construct(node: Node): AnyRef = {
        val path = constructScalar(node.asInstanceOf[ScalarNode])
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8)
        new Yaml(new ArgumentResolvers(config)).load[AnyRef](text)
      }
    })
  }
}

/**
 * Peephole plan optimizer over the step list — a fixpoint rewrite like the
 * reference's migration-operation reduction/squash
 * (nodestream/schema/migrations/operations.py:94-149, migrations.py:90-127):
 *
 *   - compact/cluster immediately followed by a full re-cluster is dead work
 *   - adjacent identical compacts collapse
 *   - rewrite_manifests before any data-rewriting commit is dead work
 *   - adjacent expire_snapshots merge (min retain, max cutoff)
 *   - adjacent remove_orphans collapse
 *   - adjacent schema ops reduce algebraically (add+drop ⇒ ∅, rename chains)
 */
object PlanOptimizer {

  private def rewritesData(s: PipelineStep): Boolean = s match {
    case _: CompactStep | _: ClusterStep | _: MergeStep | _: DeleteWhereStep => true
    case _ => false
  }

  def optimize(steps: Seq[PipelineStep]): Seq[PipelineStep] = {
    var cur = steps.toList
    var changed = true
    while (changed) {
      changed = false
      val next = rewriteOnce(cur)
      if (next != cur) { cur = next; changed = true }
    }
    cur
  }

  private def rewriteOnce(steps: List[PipelineStep]): List[PipelineStep] = steps match {
    case Nil          => Nil
    case last :: Nil  => last :: Nil
    // squash a run of schema steps into its algebraic reduction
    case SchemaStep(a) :: SchemaStep(b) :: rest =>
      val run = steps.takeWhile(_.isInstanceOf[SchemaStep]).collect { case SchemaStep(op) => op }
      val tail = steps.drop(run.size)
      graft.table.SchemaEvolution.reduce(run).map(SchemaStep.apply).toList ++ rewriteOnce(tail)
    // any data layout pass immediately before a full re-cluster is dead work
    case (_: CompactStep | _: ClusterStep) :: (c: ClusterStep) :: rest =>
      rewriteOnce(c :: rest)
    case (a: CompactStep) :: (b: CompactStep) :: rest if a == b =>
      rewriteOnce(b :: rest)
    // manifest regrouping is overwritten by the next data commit
    case (_: RewriteManifestsStep) :: n :: rest if rewritesData(n) =>
      rewriteOnce(n :: rest)
    // adjacent expire runs merge when the retains are comparable at optimize
    // time: both explicit (min) or both property-defaulted (still one run);
    // mixed explicit/default stays two steps — the property value is a
    // table state unknown here, so min() cannot be taken
    case ExpireSnapshotsStep(r1, o1) :: ExpireSnapshotsStep(r2, o2) :: rest
        if r1.isDefined == r2.isDefined =>
      val merged = ExpireSnapshotsStep(
        for (a <- r1; b <- r2) yield math.min(a, b),
        (o1.toSeq ++ o2.toSeq).maxOption)
      rewriteOnce(merged :: rest)
    // running GC twice == running it once at the smaller grace window;
    // mixed explicit/default windows stay as two steps (the default is a
    // table property unknown at optimize time)
    case RemoveOrphansStep(g1) :: RemoveOrphansStep(g2) :: rest
        if g1.isDefined == g2.isDefined =>
      rewriteOnce(RemoveOrphansStep((g1.toSeq ++ g2.toSeq).minOption) :: rest)
    case h :: rest => h :: rewriteOnce(rest)
  }
}

/** Executes an optimized pipeline against a table, one step at a time, with
  * per-step timing and snapshot lineage — the engine's analogue of the
  * reference's per-step progress reporting + metrics
  * (nodestream/pipeline/progress_reporter.py:32-91, metrics.py:100-130). */
object PipelineRunner {

  final case class StepResult(
      step: String,
      snapshotId: Option[Long],
      durationMs: Long,
      summary: Map[String, String])

  def run(
      spark: SparkSession,
      table: TokenTable,
      steps: Seq[PipelineStep],
      mergeBatch: Option[DataFrame] = None,
      optimize: Boolean = true): Seq[StepResult] = {
    val plan = if (optimize) PlanOptimizer.optimize(steps) else steps
    val metrics = graft.metrics.Metrics.get
    import graft.metrics.{StandardMetrics => M}
    plan.map { step =>
      val t0 = System.nanoTime()
      val (snap, extra): (Option[Snapshot], Map[String, String]) = try { step match {
        case CompactStep(target, thresh, chunks) =>
          (Maintenance.compact(spark, table, SortBy(Seq("doc_id")), target, thresh, chunks),
            Map.empty)
        case ClusterStep(layout, target) =>
          (Maintenance.cluster(spark, table, layout, target), Map.empty)
        case RewriteManifestsStep(n) => (Some(Maintenance.rewriteManifests(table, n)), Map.empty)
        case ExpireSnapshotsStep(retainOpt, olderThanOpt) =>
          val props = table.metadata.properties
          val retain = retainOpt.orElse(
            props.get("retention.snapshot.keep-last").map(_.trim.toInt)).getOrElse(1)
          val olderThan = olderThanOpt.orElse(
            props.get("retention.snapshot.max-age-ms").map(age =>
              System.currentTimeMillis() - age.trim.toLong))
          val m = table.expireSnapshots(retain, olderThan)
          (None, Map("retained-snapshots" -> m.snapshots.size.toString))
        case RemoveOrphansStep(graceMs) =>
          val removed = graceMs.fold(table.removeOrphans())(table.removeOrphans)
          (None, Map("removed" -> removed.size.toString))
        case DeleteWhereStep(pred) => (Maintenance.deleteWhere(spark, table, pred), Map.empty)
        case DeleteWhereMorStep(pred) =>
          (Maintenance.deleteWhereMor(spark, table, pred), Map.empty)
        case MaterializeDeletesStep =>
          (Maintenance.materializeDeletes(spark, table), Map.empty)
        case SetRefStep(refName, kind) =>
          val id = table.metadata.currentSnapshotId.getOrElse(sys.error("no snapshot to ref"))
          table.setRef(refName, id, kind)
          (None, Map("ref" -> refName, "snapshot" -> id.toString))
        case FastForwardStep(b) =>
          val m = table.fastForward(b)
          (None, Map("published-snapshot" -> m.currentSnapshotId.get.toString))
        case RollbackStep(id) =>
          table.rollbackTo(id)
          (None, Map("rolled-back-to" -> id.toString))
        case MergeStep(rule) =>
          val batch = mergeBatch.getOrElse(sys.error("merge step needs a batch DataFrame"))
          (Some(Maintenance.mergeInto(spark, table, batch, rule)), Map.empty)
        case MergeMorStep =>
          val batch = mergeBatch.getOrElse(sys.error("merge_mor step needs a batch DataFrame"))
          (Maintenance.mergeMor(spark, table, batch), Map.empty)
        case SchemaStep(op) =>
          val m = table.evolveSchema(Seq(op))
          (None, Map("schema-id" -> m.schemaIdNow.toString))
      } } catch {
        case e: Throwable =>
          // tick before rethrowing: line-emitting handlers must surface the
          // fatal-error count — the one event metrics exist for
          metrics.increment(M.FatalErrors); metrics.tick(); throw e
      }
      val ms = (System.nanoTime() - t0) / 1000000
      // per-step counters into the scoped registry (no-op outside a scope)
      metrics.increment(M.StepsRun)
      metrics.setValue(M.StepDurationMs, ms.toDouble)
      snap.foreach { s =>
        metrics.increment(M.SnapshotsCommitted)
        s.summary.get("added-records").map(_.toDouble)
          .foreach(metrics.increment(M.RecordsWritten, _))
        s.summary.get("observed-rows").map(_.toDouble)
          .foreach(metrics.increment(M.Records, _))
      }
      metrics.tick()
      StepResult(step.name, snap.map(_.snapshotId), ms,
        snap.map(_.summary).getOrElse(Map.empty) ++ extra)
    }
  }
}
