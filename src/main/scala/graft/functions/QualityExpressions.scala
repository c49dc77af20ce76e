package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native composite quality score — the hot-path form of
 * `graft.ColumnarReference.qualityScore` (test tree; it stays as the semantic
 * reference, shared with the DuckDB oracle and spec-pinned equal). The
 * columnar definition costs ~7 regex/replace passes per row (each stop-word
 * count is a full regexp_replace of the padded text); this expression walks
 * the string once per component in one JVM kernel call per row, following
 * the pattern of [[WordHashStates]] (VERDICT r3: the same move took
 * ddp_minhash_lsh from 12.4 s to 0.08 s), and generates real code so the
 * scoring projection stays inside whole-stage codegen.
 *
 * Exactness contract with the columnar form, term by term:
 *  - `length(text)` = UTF8String.numChars (code points);
 *  - word count = Spark `split(trim(text), "\\s+")` size with the
 *    empty-after-trim → 0 gate; `trim` strips ASCII spaces only
 *    (UTF8String.trim), split has Java `Pattern.split(s, -1)` semantics;
 *  - punctuation count = matches of the single-char class [.,;:!?];
 *  - stop-word counts = NON-OVERLAPPING left-to-right occurrences in
 *    ' '+text+' ' (exactly what regexp_replace-based countOccurrences
 *    computes): indexOf advancing past each match;
 *  - double arithmetic in the same association order as the Column tree, so
 *    IEEE results are bit-identical. Returns the UNROUNDED composite;
 *    callers apply Spark's own `round(_, 4)` on top — the identical Round
 *    expression the columnar form ends with.
 */
case class QualityScoreRaw(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "quality_score_raw"

  /** NULL text scores 1.0 — not by design but by faithful replication: in
    * the columnar form every component is null on null input, and Catalyst's
    * `least`/`greatest` IGNORE nulls (return the least non-null operand), so
    * each `least(nullRatio, 1.0)` collapses to 1.0. DuckDB's LEAST behaves
    * identically, so the oracle agrees. */
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) QualityScoreRaw.NullComposite else scoreOf(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("qualityScore", this, "graft.functions.QualityScoreRaw")
    ev.copy(
      code = code"""
        ${c.code}
        double ${ev.value} = ${c.isNull} ? $ref.nullScore() : $ref.scoreOf(${c.value});
      """,
      isNull = FalseLiteral)
  }

  /** The null-text composite (see eval doc) — exposed for generated code. */
  def nullScore(): Double = QualityScoreRaw.NullComposite

  /** The one kernel both eval and generated code call. */
  def scoreOf(u: UTF8String): Double = {
    val s = u.toString
    val len = u.numChars()

    val trimmed = u.trim().toString
    val words =
      if (trimmed.isEmpty) 0 else QualityScoreRaw.WS.split(trimmed, -1).length

    var punct = 0
    var i = 0
    while (i < s.length) {
      (s.charAt(i): @annotation.switch) match {
        case '.' | ',' | ';' | ':' | '!' | '?' => punct += 1
        case _                                 => ()
      }
      i += 1
    }

    val padded = " " + s + " "
    var stop = 0
    var k = 0
    while (k < QualityScoreRaw.Stops.length) {
      val nd = QualityScoreRaw.Stops(k)
      var idx = padded.indexOf(nd)
      while (idx >= 0) { stop += 1; idx = padded.indexOf(nd, idx + nd.length) }
      k += 1
    }

    val wd = math.max(words, 1).toDouble
    val lenScore = math.min(len.toDouble / 500.0, 1.0)
    val punctRatio = punct.toDouble / wd
    val stopRatio = math.min(stop.toDouble * 10.0 / wd, 1.0)
    lenScore * 0.4 + math.min(punctRatio, 1.0) * 0.2 + stopRatio * 0.4
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScoreRaw =
    copy(child = newChild)
}

object QualityScoreRaw {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val Stops = Array(" the ", " and ", " of ", " a ", " to ")
  /** Composite with every `least(null, 1.0)` collapsed to 1.0, in the same
    * association order as the Column tree. */
  private val NullComposite: Double = 1.0 * 0.4 + 1.0 * 0.2 + 1.0 * 0.4
}
