package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions.{col, element_at}
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
 * A fully planned clustering shuffle: `keyCol` is the curve key, `routeCol`
 * routes each row DIRECTLY to its target partition under Spark's hash
 * partitioning — `df.repartition(nOut, routeCol)` then behaves exactly like
 * a range partition on the curve key, WITHOUT repartitionByRange's second
 * full pass over the input (its runtime sampling re-executes the child
 * plan, i.e. re-decodes every token array). Bounds are token-mass-weighted
 * quantiles, so partitions carry ~equal token payload even under the 1%
 * long-document skew (`BASELINE.json.north_rule`: explicit skew handling —
 * row-count-balanced range partitioning leaves 10-30x heavier straggler
 * partitions where the curve clusters long documents together).
 */
final case class CurvePlan(keyCol: Column, routeCol: Column, nOut: Int)

/**
 * Driver-side planner for clustering keys: computes per-column range bounds
 * from a bounded sample (the same trick `repartitionByRange` uses, but
 * shared across all curve dimensions and reusable across jobs), then builds
 * the codegen'd key column.
 */
object Clustering {

  val DefaultBits = 12 // 3 dims * 12 bits = 36-bit keys, 4096 buckets/dim

  def zorderKey(df: DataFrame, cols: Seq[String], bits: Int = DefaultBits,
      totalRows: Option[Long] = None): Column =
    curveKey(df, cols, bits, hilbert = false, totalRows)

  def curveKey(df: DataFrame, cols: Seq[String], bits: Int, hilbert: Boolean,
      totalRows: Option[Long] = None): Column = {
    val allBounds = sampleBoundsMulti(df, cols, 1 << bits, totalRows = totalRows)
    val bucketExprs = cols.map { c =>
      val bounds = allBounds(c)
      val nBuckets = bounds.length + 1
      val scale = math.max(1, (1 << bits) / math.max(1, nBuckets))
      RangeBucket(ExpressionUtils.expression(col(c)), bounds, scale): Expression
    }
    ExpressionUtils.column(CurveIndex(bucketExprs, bits, hilbert))
  }

  /** Per-column sorted exclusive-upper bounds (internal Catalyst values)
    * splitting each column's sampled distribution into <= `buckets` ranges.
    * ONE Spark job samples every curve dimension together (metadata columns
    * only — the token payload is never read). When the caller knows the row
    * count (table manifests carry it), the sample is a pure fraction —
    * fully parallel, no serial CollectLimit. */
  def sampleBoundsMulti(
      df: DataFrame, colNames: Seq[String], buckets: Int,
      maxSample: Int = 50000,
      totalRows: Option[Long] = None): Map[String, Array[AnyRef]] = {
    val projected = df.select(colNames.map(col): _*)
    val rows = totalRows match {
      case Some(n) if n > 0 =>
        val fraction = math.min(1.0, maxSample.toDouble * 1.2 / n)
        projected.sample(withReplacement = false, fraction, seed = 42).collect()
      case _ =>
        projected.sample(withReplacement = false, 0.5, seed = 42)
          .limit(maxSample).collect()
    }
    colNames.zipWithIndex.map { case (c, i) =>
      val field = df.schema(c)
      val conv = CatalystTypeConverters.createToCatalystConverter(field.dataType)
      val sorted = rows.iterator.map(_.get(i)).filter(_ != null).map(conv)
        .toArray.sortWith { (a, b) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        }
      val out: Array[AnyRef] =
        if (sorted.isEmpty) Array.empty
        else {
          val n = math.min(buckets - 1, sorted.length)
          (1 to n).map(i => sorted((i.toLong * sorted.length / (n + 1)).toInt))
            .distinct.toArray.map(_.asInstanceOf[AnyRef])
        }
      c -> out
    }.toMap
  }

  /** Murmur3 preimages: `preimages(b)` is an int v with
    * `pmod(murmur3_int(v, 42), parts) == b` — matching Spark's
    * HashPartitioning of an integer column, so
    * `repartition(parts, element_at(preimages, bucket + 1))` places bucket
    * `b` exactly in partition `b` without repartitionByRange's runtime
    * sampling pass over the child. */
  def murmurPreimages(parts: Int): Array[Int] = {
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

  /**
   * Plan a clustered shuffle in ONE sample job: per-dimension bucket bounds,
   * token-mass-weighted partition bounds over the curve key, and a routing
   * column whose values are Murmur3 preimages of the target partition ids —
   * so `repartition(nOut, routeCol)` places curve-key range `i` exactly in
   * partition `i` (verified by `spark_partition_id()` in the spec).
   *
   * `weightCol` (e.g. `n_tok`) weights the quantiles; pass None for
   * row-count balance.
   */
  def planCurveShuffle(
      df: DataFrame, cols: Seq[String], bits: Int, hilbert: Boolean, nOut: Int,
      totalRows: Option[Long], weightCol: Option[String] = Some("n_tok"),
      maxSample: Int = 50000): CurvePlan = {
    val sampleCols = cols ++ weightCol.filterNot(cols.contains)
    val projected = df.select(sampleCols.map(col): _*)
    val rows = totalRows match {
      case Some(n) if n > 0 =>
        val fraction = math.min(1.0, maxSample.toDouble * 1.2 / n)
        projected.sample(withReplacement = false, fraction, seed = 42).collect()
      case _ =>
        projected.sample(withReplacement = false, 0.5, seed = 42).limit(maxSample).collect()
    }

    // per-dimension bounds + scales (same scheme as curveKey)
    val buckets = 1 << bits
    val converters = sampleCols.map(c =>
      CatalystTypeConverters.createToCatalystConverter(df.schema(c).dataType))
    val dims = cols.zipWithIndex.map { case (c, i) =>
      val sorted = rows.iterator.map(_.get(i)).filter(_ != null).map(converters(i))
        .toArray.sortWith((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
      val bounds: Array[AnyRef] =
        if (sorted.isEmpty) Array.empty
        else {
          val n = math.min(buckets - 1, sorted.length)
          (1 to n).map(j => sorted((j.toLong * sorted.length / (n + 1)).toInt))
            .distinct.toArray.map(_.asInstanceOf[AnyRef])
        }
      val scale = math.max(1, buckets / math.max(1, bounds.length + 1))
      (bounds, scale)
    }
    val keyExpr = CurveIndex(
      cols.zipWithIndex.map { case (c, i) =>
        RangeBucket(ExpressionUtils.expression(col(c)), dims(i)._1, dims(i)._2): Expression
      }, bits, hilbert)

    // curve key of each sampled row, driver-side, with its weight
    val wIdx = weightCol.map(w => sampleCols.indexOf(w))
    val keyed: Array[(Long, Long)] = rows.map { r =>
      val coords = cols.indices.map { i =>
        val v = r.get(i)
        if (v == null) 0
        else Curves.bucketOf(
          converters(i)(v).asInstanceOf[Comparable[Any]], dims(i)._1) * dims(i)._2
      }.toArray
      val k = if (hilbert) Curves.hilbertValue(coords, bits) else Curves.zValue(coords, bits)
      val w = wIdx.map(j => r.get(j).asInstanceOf[Number].longValue).getOrElse(1L)
      (k, math.max(w, 1L))
    }.sortBy(_._1)

    // weighted quantiles -> partition bounds over the curve key
    val totalMass = keyed.map(_._2).sum.toDouble
    val perPart = totalMass / nOut
    val pidBounds = scala.collection.mutable.ArrayBuffer[AnyRef]()
    var acc = 0.0
    var nextCut = perPart
    keyed.foreach { case (k, w) =>
      acc += w
      if (acc >= nextCut && pidBounds.size < nOut - 1 &&
          !pidBounds.lastOption.contains(Long.box(k))) {
        pidBounds += Long.box(k)
        nextCut += perPart
      }
    }
    val parts = pidBounds.size + 1 // dedup may shrink below nOut

    val preimages = murmurPreimages(parts)

    val keyCol = ExpressionUtils.column(keyExpr)
    val pid = ExpressionUtils.column(
      RangeBucket(ExpressionUtils.expression(keyCol), pidBounds.toArray))
    val route = element_at(
      org.apache.spark.sql.functions.typedLit(preimages.toSeq), pid + 1)
    CurvePlan(keyCol, route, parts)
  }
}
