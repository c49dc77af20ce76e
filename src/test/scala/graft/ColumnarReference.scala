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

  /** Both base hashes of a string as a struct (h1, h2) — computed once,
    * reused by every seeded hash (Kirsch–Mitzenmacher double hashing).
    * Single pass over the characters: one split + one fold carries both
    * accumulators (two separate folds would double the per-char allocation
    * cost, the hot part of shingle hashing). */
  def polyHash2(c: Column): Column =
    aggregate(
      transform(filter(split(c, ""), ch => length(ch) > 0), ch => ascii(ch).cast("long")),
      struct(lit(0L).as("h1"), lit(0L).as("h2")),
      (acc, x) => struct(
        pmod(acc.getField("h1") * 131 + x, lit(TextOps.HashMod1)).as("h1"),
        pmod(acc.getField("h2") * 137 + x, lit(TextOps.HashMod2)).as("h2")))

  /** Per-word hash state for polynomial shingle composition: both char
    * hashes of the word PLUS base^len(word) mod p for each base, all from
    * one pass over the characters. With these, the hash of any
    * space-joined word window composes algebraically (see [[TextOps.polyConcat2]])
    * — each character of the corpus is hashed ONCE instead of once per
    * covering shingle, which removes the dominant interpreted-HOF cost of
    * MinHash signature building. */
  def polyHash2Pow(c: Column): Column =
    aggregate(
      transform(filter(split(c, ""), ch => length(ch) > 0), ch => ascii(ch).cast("long")),
      struct(lit(0L).as("h1"), lit(0L).as("h2"), lit(1L).as("p1"), lit(1L).as("p2")),
      (acc, x) => struct(
        pmod(acc.getField("h1") * 131 + x, lit(TextOps.HashMod1)).as("h1"),
        pmod(acc.getField("h2") * 137 + x, lit(TextOps.HashMod2)).as("h2"),
        pmod(acc.getField("p1") * 131, lit(TextOps.HashMod1)).as("p1"),
        pmod(acc.getField("p2") * 137, lit(TextOps.HashMod2)).as("p2")))

  /** `DedupOps.wordHashStates` (`graft.functions.WordHashStates`): the
    * [[polyHash2Pow]] state of every whitespace-split word. */
  def wordHashStates(textCol: Column): Column =
    transform(split(lower(trim(textCol)), "\\s+"), w => polyHash2Pow(w))

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
    DedupOps.simHashFromHashes(transform(DedupOps.wordSet(textCol), polyHash2 _))
}
