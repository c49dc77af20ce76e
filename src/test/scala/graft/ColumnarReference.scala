package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.{DedupOps, TextOps}

/** Pure-column reference formulations of the native text and vector
  * kernels: the semantic specs the codegen'd expressions and the DuckDB
  * oracle (`graft.ops.OracleSql`) mirror. No runtime path uses them; the
  * specs pin each kernel equal to its reference over nasty inputs. */
object ColumnarReference {

  /** [[graft.text.AnnOps.lshSignature]] (`graft.functions.LshSignature`):
    * the sign of an exact integer dot product with a per-plane quadratic
    * hash of the dimension index sets each bit. */
  def lshSignature(vec: Column, planes: Int): Column = {
    val M = 1000003L // prime modulus of the component hash
    val vq = transform(vec, x => floor(x.cast("double") * 1000000.0).cast("long"))
    (0 until planes).map { p =>
      // per-plane multipliers: distinct linear+quadratic walks mod M per
      // plane (a shared walk with per-plane offsets would correlate planes)
      val a = (2654435761L * (p + 1)) % M
      val b = (179426549L * (p + 1) + 97L) % M
      val proj = aggregate(
        zip_with(vq, sequence(lit(1), size(vq)),
          // i is INT in the sequence — square in LONG so dims > 46340 match
          // the native Long-math LshSignature this is the identity witness for
          (x, i) => x * (pmod(i.cast("long") * a + i.cast("long") * i * b,
            lit(M)) - (M - 1) / 2)),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** `DedupOps.wordHashStates` (`graft.functions.WordHashStates`): the
    * [[TextOps.polyHash2Pow]] state of every whitespace-split word. */
  def wordHashStates(textCol: Column): Column =
    transform(split(lower(trim(textCol)), "\\s+"), w => TextOps.polyHash2Pow(w))

  /** [[TextOps.qualityScore]] (`graft.functions.QualityScoreRaw`) — shared
    * term by term with the DuckDB oracle (`OracleSql.qualityExpr`). */
  def qualityScore(text: Column): Column = {
    val len = length(text)
    val words = TextOps.wsTokenCount(text)
    val punct = size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
    val stop = Seq(" the ", " and ", " of ", " a ", " to ")
      .map(m => TextOps.countOccurrences(concat(lit(" "), text, lit(" ")), m)).reduce(_ + _)
    val lenScore = least(len.cast("double") / 500.0, lit(1.0))
    val punctRatio = punct.cast("double") / greatest(words, lit(1)).cast("double")
    val stopRatio = least(stop.cast("double") * 10.0 / greatest(words, lit(1)), lit(1.0))
    round(lenScore * 0.4 + least(punctRatio, lit(1.0)) * 0.2 + stopRatio * 0.4, 4)
  }

  /** [[DedupOps.simHashed]] (`graft.functions.WordSetHashes` feeding
    * [[DedupOps.simHashFromHashes]]) as one column over the word set. */
  def simHash(textCol: Column): Column =
    DedupOps.simHashFromHashes(transform(DedupOps.wordSet(textCol), TextOps.polyHash2 _))
}
