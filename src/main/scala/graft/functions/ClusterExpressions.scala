package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions.{col, element_at, typedLit}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the clustering keys — the custom surface
 * SURVEY.md §4 calls out: Spark has no z-order/hilbert scalar, so these are
 * code-generated `Expression`s (not UDFs) that stay inside whole-stage
 * codegen. Reference analogue: the "migration-op reduction" class of
 * engine-owned optimizations (reference
 * nodestream/schema/migrations/operations.py:94-149) — work Catalyst cannot
 * do for us.
 */

/** Range-partition id: bucket index of `child` within sorted `bounds`
  * (exclusive uppers, internal Catalyst values), multiplied by `scale`.
  * Nulls sort to bucket 0. `scale` spreads low-cardinality dimensions
  * (e.g. 4 sources) across the full curve bit-range so they carry real
  * weight in the interleave instead of only the lowest bits. */
case class RangeBucket(child: Expression, bounds: Array[AnyRef], scale: Int = 1)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else Curves.bucketOf(v.asInstanceOf[Comparable[Any]], bounds) * scale
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds, "java.lang.Object[]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        int ${ev.value} = ${c.isNull} ? 0 :
          graft.functions.Curves.bucketOf((java.lang.Comparable) ${c.value}, $ref) * $scale;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RangeBucket =
    copy(child = newChild)
}

/** Morton (z-order) or Hilbert index over integer bucket coordinates. */
case class CurveIndex(children: Seq[Expression], bits: Int, hilbert: Boolean)
    extends Expression {
  require(children.nonEmpty && children.size * bits <= 63,
    s"curve needs dims*bits<=63, got ${children.size}*$bits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val coords = new Array[Int](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      coords(i) = if (v == null) 0 else v.asInstanceOf[Int]
      i += 1
    }
    if (hilbert) Curves.hilbertValue(coords, bits) else Curves.zValue(coords, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("coords")
    val assigns = evals.zipWithIndex.map { case (e, i) =>
      s"""${e.code}
         |$arr[$i] = ${e.isNull} ? 0 : ${e.value};""".stripMargin
    }.mkString("\n")
    val fn = if (hilbert) "hilbertValue" else "zValue"
    ev.copy(
      code = code"""
        int[] $arr = new int[${children.length}];
        $assigns
        long ${ev.value} = graft.functions.Curves.$fn($arr, $bits);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CurveIndex = copy(children = newChildren)
}

/**
 * A planned range shuffle: `keyCol` is the range key (a curve key, or
 * `doc_id` itself), `routeCol` routes each row DIRECTLY to its target
 * partition under Spark's hash partitioning — `df.repartition(nOut,
 * routeCol)` then behaves exactly like a range partition on the key,
 * WITHOUT repartitionByRange's second full pass over the input (its runtime
 * sampling re-executes the child plan, i.e. re-decodes every token array).
 * Cut points are token-mass-weighted quantiles, so partitions carry ~equal
 * token payload even under the 1% long-document skew
 * (`BASELINE.json.north_rule`: explicit skew handling — row-count-balanced
 * range partitioning leaves 10-30x heavier straggler partitions where the
 * key clusters long documents together).
 */
final case class RangePlan(keyCol: Column, routeCol: Column, nOut: Int)

/**
 * The one range planner of the engine: compaction's doc_id placement, the
 * copy-on-write merge's route-join and the z-order/Hilbert shuffle are each
 * a composition of four pieces — one bounded [[sample]], equal-count
 * quantiles per curve dimension, one token-mass cut over (key, weight)
 * pairs, and one route column ([[RangeBucket]] + Murmur3 preimages).
 */
object Clustering {

  val DefaultBits = 12 // 3 dims * 12 bits = 36-bit keys, 4096 buckets/dim

  private val SampleCap = 200000
  private val SampleSeed = 42L

  /** The `cols` of a bounded sample of `df` (about [[SampleCap]] rows), as
    * Catalyst internal values — the form [[RangeBucket]] compares. ONE
    * Spark job over the named columns only, so the token payload is never
    * read. When the caller knows the row count (table manifests carry it)
    * the sample is a pure fraction — fully parallel, no serial
    * CollectLimit — that takes the whole input up to 1.2x the cap. */
  private def sample(
      df: DataFrame, cols: Seq[String], totalRows: Option[Long]): Array[Array[AnyRef]] = {
    val projected = df.select(cols.map(col): _*)
    val rows = totalRows match {
      case Some(n) if n > 0 =>
        projected.sample(withReplacement = false, math.min(1.0, SampleCap * 1.2 / n),
          seed = SampleSeed).collect()
      case _ =>
        projected.sample(withReplacement = false, 0.5, seed = SampleSeed).limit(SampleCap).collect()
    }
    val convert = cols.map(c =>
      CatalystTypeConverters.createToCatalystConverter(df.schema(c).dataType))
    rows.map(r => Array.tabulate[AnyRef](cols.size)(i => convert(i)(r.get(i)).asInstanceOf[AnyRef]))
  }

  private def less(a: AnyRef, b: AnyRef): Boolean =
    a.asInstanceOf[Comparable[Any]].compareTo(b) < 0

  /** At most `buckets - 1` distinct equal-count cut points of the non-null
    * `values`. */
  private def quantiles(values: Iterator[AnyRef], buckets: Int): Array[AnyRef] = {
    val sorted = values.filter(_ != null).toArray.sortWith(less)
    val n = math.min(buckets - 1, sorted.length)
    (1 to n).map(j => sorted((j.toLong * sorted.length / (n + 1)).toInt)).distinct.toArray
  }

  /** Up to `nOut - 1` distinct cut points splitting the (key, weight) pairs
    * into ~equal token mass. Keys sort as [[RangeBucket]] compares them,
    * null keys first (its bucket 0) and never a cut point. A null weight
    * counts as 1 and every weight is floored at 1. Duplicate cut points
    * collapse, so one key heavier than a whole partition yields fewer than
    * `nOut` ranges. */
  private def massCut(keyed: Array[(AnyRef, AnyRef)], nOut: Int): Array[AnyRef] = {
    val weighted = keyed.map { case (k, w) =>
      (k, if (w == null) 1L else math.max(w.asInstanceOf[Number].longValue, 1L))
    }.sortWith { case ((a, _), (b, _)) => b != null && (a == null || less(a, b)) }
    val perPart = weighted.map(_._2).sum.toDouble / nOut
    val cuts = scala.collection.mutable.ArrayBuffer[AnyRef]()
    var acc = 0.0
    var nextCut = perPart
    weighted.foreach { case (k, w) =>
      acc += w
      if (acc >= nextCut && cuts.size < nOut - 1 && k != null && !cuts.lastOption.contains(k)) {
        cuts += k
        nextCut += perPart
      }
    }
    cuts.toArray
  }

  /** Murmur3 preimages: `preimages(b)` is an int v with
    * `pmod(murmur3_int(v, 42), parts) == b` — matching Spark's
    * HashPartitioning of an integer column. */
  private def murmurPreimages(parts: Int): Array[Int] = {
    val preimages = new Array[Int](parts)
    val found = new Array[Boolean](parts)
    var candidate = 0
    var remaining = parts
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(candidate, 42)
      val b = ((h % parts) + parts) % parts
      if (!found(b)) { found(b) = true; preimages(b) = candidate; remaining -= 1 }
      candidate += 1
    }
    preimages
  }

  /** The plan routing `key` range `i` (between `cuts`) exactly to partition
    * `i` of a `repartition(cuts.length + 1, routeCol)` hash exchange:
    * `element_at(preimages, bucket + 1)` (verified by
    * `spark_partition_id()` in CurveShuffleSpec). */
  private def routed(key: Column, cuts: Array[AnyRef]): RangePlan = {
    val bucket = ExpressionUtils.column(RangeBucket(ExpressionUtils.expression(key), cuts))
    RangePlan(key,
      element_at(typedLit(murmurPreimages(cuts.length + 1).toSeq), bucket + 1),
      cuts.length + 1)
  }

  /** Bucket bounds of curve dimension `i`: the equal-count quantiles of
    * column `i` of the sampled `rows`. */
  private def curveBounds(rows: Array[Array[AnyRef]], dims: Int, bits: Int): Seq[Array[AnyRef]] =
    (0 until dims).map(i => quantiles(rows.iterator.map(_(i)), 1 << bits))

  /** A curve index over `children` bucketed at `bounds`, each dimension
    * scaled to span the full bit range (so low-cardinality dimensions —
    * e.g. 4 sources — carry real weight in the interleave instead of only
    * the lowest bits). */
  private def curveIndex(
      children: Seq[Expression], bounds: Seq[Array[AnyRef]], bits: Int,
      hilbert: Boolean): CurveIndex =
    CurveIndex(children.zip(bounds).map { case (child, b) =>
      RangeBucket(child, b, math.max(1, (1 << bits) / (b.length + 1))): Expression
    }, bits, hilbert)

  private def curveColumn(
      cols: Seq[String], bounds: Seq[Array[AnyRef]], bits: Int, hilbert: Boolean): Column =
    ExpressionUtils.column(
      curveIndex(cols.map(c => ExpressionUtils.expression(col(c))), bounds, bits, hilbert))

  /** Z-order key over `cols`, bucketed at one sample's quantiles. */
  def zorderKey(df: DataFrame, cols: Seq[String], bits: Int = DefaultBits,
      totalRows: Option[Long] = None): Column =
    curveColumn(cols, curveBounds(sample(df, cols, totalRows), cols.size, bits), bits,
      hilbert = false)

  /**
   * Plan a clustered shuffle in ONE sample job: per-dimension bucket bounds,
   * the curve key of every sampled row (the same expression evaluated
   * driver-side over the sample), its token-mass cut and the route.
   * `weightCol` (e.g. `n_tok`) weights the cut; pass None for row-count
   * balance.
   */
  def planCurveShuffle(
      df: DataFrame, cols: Seq[String], bits: Int, hilbert: Boolean, nOut: Int,
      totalRows: Option[Long], weightCol: Option[String] = Some("n_tok")): RangePlan = {
    val sampleCols = cols ++ weightCol.filterNot(cols.contains)
    val rows = sample(df, sampleCols, totalRows)
    val bounds = curveBounds(rows, cols.size, bits)
    val local = curveIndex(
      cols.indices.map(i => BoundReference(i, df.schema(cols(i)).dataType, nullable = true)),
      bounds, bits, hilbert)
    val w = weightCol.map(sampleCols.indexOf)
    val keyed = rows.map(r =>
      (local.eval(new GenericInternalRow(r.asInstanceOf[Array[Any]])).asInstanceOf[AnyRef],
        w.map(r(_)).orNull))
    routed(curveColumn(cols, bounds, bits, hilbert), massCut(keyed, nOut))
  }

  /** The doc_id plan: `doc_id` is its own range key, cut by token mass
    * (`n_tok` when `df` carries it, else row count). None without sampling
    * when `nOut <= 1`, and None when the sample holds fewer than 2 x `nOut`
    * rows — too few to cut. */
  def planDocRange(df: DataFrame, nOut: Int, totalRows: Option[Long]): Option[RangePlan] = {
    if (nOut <= 1) return None
    val rows = sample(df, "doc_id" +: Seq("n_tok").filter(df.columns.contains), totalRows)
    if (rows.length < 2 * nOut) None
    else Some(routed(col("doc_id"), massCut(rows.map(r => (r(0), r.lift(1).orNull)), nOut)))
  }
}
