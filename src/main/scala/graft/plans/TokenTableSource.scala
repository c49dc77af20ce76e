package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.StructType

import graft.table.TokenTable

/**
 * Catalyst integration of the token table as a first-class relation: a
 * custom leaf [[TokenTableRelation]] plus an optimizer [[Rule]] that turns
 * query predicates into MANIFEST-level file pruning before Spark ever opens
 * a file — the engine's min/max stats participate in Catalyst optimization
 * exactly like a DataSource's pushdown (SURVEY.md §4; the reference
 * analogue is the DynamoDB extractor's server-side filter pushdown,
 * reference nodestream/…/stores/aws/dynamodb_extractor.py:70-85).
 *
 * Registration, either way:
 *   - `GraftTableSource.install(spark)` (runtime, via experimental methods)
 *   - `--conf spark.sql.extensions=graft.plans.GraftExtensions`
 *
 * The original filter is kept on top of the pruned scan, so pruning is
 * purely an optimization: unsupported predicates simply prune nothing.
 * Below the rewrite, the parquet source still applies its own row-group
 * pruning and column pruning — two stacked pushdown layers.
 */
final case class TokenTableRelation(
    path: String, output: Seq[Attribute], sizeBytes: BigInt) extends LeafNode {
  override def simpleString(maxFields: Int): String = s"TokenTableRelation $path"
  /** Manifest-derived size so Catalyst's CBO (join selection, broadcast
    * thresholds) sees real numbers even before the pruning rule rewrites
    * the leaf into a parquet scan. */
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = sizeBytes)
}

object GraftTableSource {

  /** DataFrame over a token table that the optimizer rule can prune. */
  def table(spark: SparkSession, path: String): DataFrame = {
    val t = TokenTable.load(spark, path)
    val schema = t.schema
    val attrs = schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    // an empty table (no snapshot yet) has no files: minimal positive size
    val size = BigInt(t.liveFiles().map(_.bytes).sum).max(1)
    PlanBridge.ofRows(spark, TokenTableRelation(path, attrs, size))
  }

  /** Idempotently add the pruning rule to this session's optimizer. */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[PruneTokenTableScans]))
      spark.experimental.extraOptimizations = existing :+ new PruneTokenTableScans(spark)
  }
}

/** spark.sql.extensions entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(session => new PruneTokenTableScans(session))
}

/**
 * Rewrites `Filter(cond, TokenTableRelation)` (and bare relations) into a
 * parquet scan over ONLY the manifest-pruned file list. Conjuncts over
 * doc_id / source / n_tok become min-max bounds checked against per-file
 * stats; everything else is ignored for pruning and re-applied by the
 * retained Filter.
 */
class PruneTokenTableScans(spark: SparkSession) extends Rule[LogicalPlan] {

  // top-down so Filter(cond, relation) is seen before the bare leaf
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Filter(cond, r: TokenTableRelation) =>
      Filter(cond, prunedScan(r, splitConjunctivePredicates(cond)))
    case r: TokenTableRelation =>
      prunedScan(r, Nil)
  }

  private def splitConjunctivePredicates(cond: Expression): Seq[Expression] = cond match {
    case And(l, rr) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(rr)
    case other      => Seq(other)
  }

  private def prunedScan(r: TokenTableRelation, conjuncts: Seq[Expression]): LogicalPlan = {
    val t = TokenTable.load(spark, r.path)

    var docLo: Option[String] = None; var docHi: Option[String] = None
    var tokLo: Option[Int] = None; var tokHi: Option[Int] = None
    var sources: Option[Set[String]] = None

    def tightenDoc(lo: Option[String], hi: Option[String]): Unit = {
      docLo = (docLo.toSeq ++ lo.toSeq).maxOption
      docHi = (docHi.toSeq ++ hi.toSeq).minOption
    }
    def tightenTok(lo: Option[Int], hi: Option[Int]): Unit = {
      tokLo = (tokLo.toSeq ++ lo.toSeq).maxOption
      tokHi = (tokHi.toSeq ++ hi.toSeq).minOption
    }

    def bound(name: String, v: Any, eq: Boolean = false, lo: Boolean = false, hi: Boolean = false): Unit = {
      val s = String.valueOf(v)
      name match {
        case "doc_id" =>
          if (eq) tightenDoc(Some(s), Some(s))
          else tightenDoc(if (lo) Some(s) else None, if (hi) Some(s) else None)
        case "n_tok" =>
          val i = v.asInstanceOf[Number].intValue
          if (eq) tightenTok(Some(i), Some(i))
          else tightenTok(if (lo) Some(i) else None, if (hi) Some(i) else None)
        case "source" if eq => sources = Some(Set(s))
        case _ => ()
      }
    }

    conjuncts.foreach {
      case EqualTo(a: Attribute, Literal(v, _)) => bound(a.name, v, eq = true)
      case EqualTo(Literal(v, _), a: Attribute) => bound(a.name, v, eq = true)
      case GreaterThan(a: Attribute, Literal(v, _)) => bound(a.name, v, lo = true)
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => bound(a.name, v, lo = true)
      case LessThan(a: Attribute, Literal(v, _)) => bound(a.name, v, hi = true)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) => bound(a.name, v, hi = true)
      case GreaterThan(Literal(v, _), a: Attribute) => bound(a.name, v, hi = true)
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) => bound(a.name, v, hi = true)
      case LessThan(Literal(v, _), a: Attribute) => bound(a.name, v, lo = true)
      case LessThanOrEqual(Literal(v, _), a: Attribute) => bound(a.name, v, lo = true)
      case In(a: Attribute, vs) if a.name == "source" && vs.forall(_.isInstanceOf[Literal]) =>
        sources = Some(vs.map(_.asInstanceOf[Literal].value.toString).toSet)
      case _ => () // non-prunable conjunct: the retained Filter handles it
    }

    // files, deletes and schema from one metadata value (see TokenTable.scan)
    val m = t.metadata
    val files = t.planFilesIn(m, None, docLo, docHi, sources, tokLo, tokHi)
    val scan = t.readFilesIn(spark, m, files, t.deleteEntriesOf(m))
    val analyzed = scan.queryExecution.analyzed
    // keep the relation's original attribute ids so parents still resolve
    Project(
      r.output.zip(analyzed.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId)
      },
      analyzed)
  }
}
